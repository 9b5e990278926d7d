package graft.dev

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.vec.VectorOps

/** Dev tool: measure what fraction of the TRUE near-duplicate pairs
  * (brute-force all-pairs cosine >= threshold) SemDeDup's clustering
  * catches — the pair must land in one cluster to be seen, so recall
  * quantifies the approximation the paper accepts. Swept over
  * nlist x kmeansIters; recorded in COVERAGE.md.
  * Usage: graft.dev.SemDedupRecall [sfDir] [threshold]
  */
object SemDedupRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val threshold = args.lift(1).map(_.toDouble).getOrElse(0.3)
    val spark = GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")

    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
      .repartition(col("vec_id")).localCheckpoint()
    // ground truth: every duplicate-marked id under the all-pairs rule
    val a = vecs.select(col("vec_id").as("id_a"), col("v").as("va"))
    val b = vecs.select(col("vec_id").as("id_b"), col("v").as("vb"))
    val trueDups = a.join(b, col("id_a") < col("id_b"))
      .where(VectorOps.cosine(col("va"), col("vb")) >= threshold)
      .select(col("id_b").as("id")).distinct().localCheckpoint()
    val nTrue = trueDups.count()
    println(s"true duplicate ids at cos>=$threshold: $nTrue")
    for (nlist <- Seq(8, 16, 32); iters <- Seq(0, 2)) {
      val t0 = System.nanoTime()
      val flagged = VectorOps.semDedup(vecs, "vec_id", "v",
          nlist = nlist, threshold = threshold, kmeansIters = iters)
        .where(!col("keep")).select(col("id"))
      val hit = flagged.join(trueDups, "id").count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"nlist=$nlist%-3d iters=$iters recall=${hit.toDouble / math.max(nTrue, 1)}%.4f time=${sec}%.1fs")
    }
    spark.stop()
  }
}
