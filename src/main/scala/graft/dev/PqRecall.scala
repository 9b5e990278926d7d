package graft.dev

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.vec.VectorOps

/** Dev tool: measure product-quantization recall@k against the exact
  * top-k on an sf dir's embeddings, across (ksub, iters) settings — the
  * numbers behind pqTopK's documented defaults (recorded in COVERAGE.md).
  * The test embeddings are unit-norm, so the exact cosine ranking equals
  * the exact L2 ranking PQ approximates (d^2 = 2 - 2cos) and
  * bruteForceTopK is a valid ground truth.
  * Usage: graft.dev.PqRecall [sfDir] [k] [nQueries]
  */
object PqRecall {
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
    for (ksub <- Seq(16, 64, 256); iters <- Seq(0, 2)) {
      val t0 = System.nanoTime()
      val model = VectorOps.pqTrain(vecs, "vec_id", "embedding",
        m = 8, ksub = ksub, iters = iters)
      val approx = VectorOps.pqTopK(vecs, queries, "vec_id", "embedding", k, model)
      val r = VectorOps.recallAtK(approx, exact)
      val sec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val refined = VectorOps.pqTopKRefined(vecs, queries, "vec_id", "embedding",
        k, model, refine = 4)
      val rRef = VectorOps.recallAtK(refined, exact)
      val secRef = (System.nanoTime() - t1) / 1e9
      println(f"ksub=$ksub%d iters=$iters%d recall@$k%d=${r}%.4f " +
        f"(refined x4: ${rRef}%.4f) train+search=${sec}%.1fs refined=${secRef}%.1fs")
    }
    spark.stop()
  }
}
