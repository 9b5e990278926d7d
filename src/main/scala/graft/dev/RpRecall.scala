package graft.dev

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.vec.{Reduce, VectorOps}

/** Dev tool: measure neighbor recall after random projection — does
  * brute-force cosine top-k on the REDUCED vectors recover the top-k of
  * the full-dimension space? This is the Johnson-Lindenstrauss tradeoff
  * the reducer buys its speedup with, measured on the real embeddings
  * instead of assumed. Swept over outDim; recorded in COVERAGE.md.
  * Usage: graft.dev.RpRecall [sfDir] [k] [nQueries]
  */
object RpRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    val nQueries = args.lift(2).map(_.toLong).getOrElse(100L)
    val spark = GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val queries = emb.where(col("vec_id") < nQueries)
    val exact = VectorOps.bruteForceTopK(emb, queries, "vec_id", "embedding", k)
      .localCheckpoint()
    println(f"n=${emb.count()}%d  queries=${queries.count()}%d  k=$k%d  (full dim 64)")
    Seq(4, 8, 16, 32).foreach { outDim =>
      val red = Reduce.randomProject(emb, "embedding", "proj", 64, outDim)
        .select(col("vec_id"), col("proj").as("embedding"))
      val redQ = red.where(col("vec_id") < nQueries)
      // (a) rank recall: reduced top-k vs true top-k — brutal on
      // near-uniform vectors whose neighbor gaps are below the JL
      // distortion; (b) shortlist recall: the production usage — reduced
      // space generates a candidate shortlist, exact re-rank on full
      // vectors recovers the order, so what matters is the TRUE top-k
      // SURVIVING the shortlist
      val approxK = VectorOps.bruteForceTopK(red, redQ, "vec_id", "embedding", k)
      val shortlist = VectorOps.bruteForceTopK(red, redQ, "vec_id", "embedding", 10 * k)
      val rankR = VectorOps.recallAtK(approxK, exact)
      val shortR = VectorOps.recallAtK(shortlist, exact)
      println(f"outDim=$outDim%3d  rank-recall@$k = $rankR%.3f   " +
        f"shortlist-recall@$k (cand=${10 * k}) = $shortR%.3f")
    }

    // near-dup regime — the reducer's actual production use (SemDeDup /
    // dedup candidate generation): pairs at cos ~0.9+ have a similarity
    // gap far above the JL distortion, so they survive projection.
    // Synthesize noisy copies of real vectors, then check the reduced-
    // space cosine of each true pair.
    import spark.implicits._
    val base = emb.limit(500).as[(Long, Seq[Float])].collect()
    val rng = new scala.util.Random(7)
    val noisy = base.map { case (id, v) =>
      val nv = v.map(x => x + 0.05f * rng.nextGaussian().toFloat)
      val norm = math.sqrt(nv.map(x => x.toDouble * x).sum).toFloat
      (id + 1000000L, nv.map(_ / norm))
    }
    val both = (base ++ noisy).toSeq.toDF("vec_id", "embedding")
    val trueCos = both.as("a").join(both.as("b"),
        col("a.vec_id") + 1000000L === col("b.vec_id"))
      .select(VectorOps.cosine(VectorOps.asDouble(col("a.embedding")),
        VectorOps.asDouble(col("b.embedding"))).as("c"))
      .agg(avg("c")).head().getDouble(0)
    println(f"near-dup pairs: true cos (mean) = $trueCos%.3f")
    Seq(8, 16, 32).foreach { outDim =>
      val red = Reduce.randomProject(both, "embedding", "proj", 64, outDim)
      val pairCos = red.as("a").join(red.as("b"),
          col("a.vec_id") + 1000000L === col("b.vec_id"))
        .select(VectorOps.cosine(col("a.proj"), col("b.proj")).as("c"))
      val detected = pairCos.where(col("c") >= 0.7).count()
      val mean = pairCos.agg(avg("c")).head().getDouble(0)
      println(f"outDim=$outDim%3d  reduced pair cos (mean) = $mean%.3f   " +
        f"detected at 0.7: $detected%d/${base.length}%d")
    }
    spark.stop()
  }
}
