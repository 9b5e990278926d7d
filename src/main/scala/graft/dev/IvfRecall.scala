package graft.dev

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.vec.VectorOps

/** Dev tool: measure IVF recall@k against the brute-force exact top-k on
  * an sf dir's embeddings table, across kmeansIters settings — the
  * numbers behind ivfTopK's default (recorded in COVERAGE.md).
  * Usage: graft.dev.IvfRecall [sfDir] [k] [nQueries]
  */
object IvfRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(5)
    val nQ = args.lift(2).map(_.toInt).getOrElse(32)
    val spark = GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")

    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = vecs.where(col("vec_id") < nQ)
    val exact = VectorOps.bruteForceTopK(vecs, queries, "vec_id", "embedding", k)
      .localCheckpoint()
    for (iters <- Seq(0, 2, 5)) {
      val t0 = System.nanoTime()
      val approx = VectorOps.ivfTopK(vecs, queries, "vec_id", "embedding", k,
        kmeansIters = iters)
      val r = VectorOps.recallAtK(approx, exact)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"kmeansIters=$iters%d recall@$k%d=${r}%.4f build+search=${sec}%.1fs")
    }
    spark.stop()
  }
}
