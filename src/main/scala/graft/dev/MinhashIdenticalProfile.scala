package graft.dev

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Round-16 optimization probe: decompose q_x_dedup_minhash_identical's
  * residual ~2.8 s (after the r15 52->12 Exchange collapse) into the
  * stages of TextOps.minhashDedupPairs — group-count job, signature
  * checkpoint, banding + bucket pairs, estimate checkpoint, exact
  * verify — so round-16 optimization targets the measured cost.
  * Usage: graft.dev.MinhashIdenticalProfile [sfDir]
  */
object MinhashIdenticalProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    import graft.text.TextOps

    def ms[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $tag%-26s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }

    val (shingleN, numPerm, bands, threshold, maxBucket) = (3, 64, 16, 0.9, 100)
    val rowsPerBand = numPerm / bands
    (1 to 3).foreach { round =>
      println(s"--- round $round ---")
      val t0 = System.nanoTime()
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"))
      val nGroups = ms("group count")(math.max(docs.count() / 5, 1L))
      val src = docs
        .withColumn("grp", pmod(col("doc_id"), lit(nGroups)))
        .withColumn("text", concat_ws(" ",
          transform(sequence(lit(0), lit(9)),
            i => concat(lit("t"), col("grp"), lit("_"), i))))
      // tokenFiltered + signatures, replicated from minhashDedupPairs
      val base = src.select(col("doc_id").as("id"), col("text"))
        .repartition(col("id"))
        .where(size(TextOps.tokens(col("text"))) >= shingleN)
      val withSig = ms("signatures checkpoint") {
        base.select(col("id"),
            graft.functions.TextExpressions.minhash_shingles(
              TextOps.tokens(col("text")), shingleN, numPerm).as("sig"))
          .withColumn("bands",
            TextOps.lshBandHashes(col("sig"), bands, rowsPerBand))
          .localCheckpoint()
      }
      val banded = withSig.select(col("id"),
        posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
      val candidates = ms("bucket pairs count") {
        val c = banded
          .groupBy(col("band_idx"), col("band_hash"))
          .agg(collect_list(col("id")).as("ids"))
          .where(size(col("ids")).between(2, maxBucket))
          .select(explode(expr(
            """flatten(transform(ids,
                 x -> transform(filter(ids, y -> y > x),
                                y -> struct(x AS id_a, y AS id_b))))""")).as("p"))
          .select(col("p.id_a"), col("p.id_b"))
          .distinct()
        c.count(); c
      }
      val sigs = withSig.select(col("id"), col("sig"))
      val estimated = ms("estimate checkpoint") {
        candidates
          .join(sigs.withColumnRenamed("id", "id_a")
            .withColumnRenamed("sig", "sig_a"), "id_a")
          .join(sigs.withColumnRenamed("id", "id_b")
            .withColumnRenamed("sig", "sig_b"), "id_b")
          .withColumn("est",
            aggregate(zip_with(col("sig_a"), col("sig_b"),
                (x, y) => when(x === y, 1).otherwise(0)),
              lit(0), (acc, v) => acc + v).cast("double") / numPerm)
          .where(col("est") >= threshold * 0.5)
          .select(col("id_a"), col("id_b"))
          .localCheckpoint()
      }
      // joins-only control: same candidate+join structure, the per-row
      // estimate replaced by a cheap codegen'd comparison — the gap to
      // "estimate checkpoint" is the interpreted zip_with/aggregate cost
      ms("estimate ckpt (hash ctl)") {
        candidates
          .join(sigs.withColumnRenamed("id", "id_a")
            .withColumnRenamed("sig", "sig_a"), "id_a")
          .join(sigs.withColumnRenamed("id", "id_b")
            .withColumnRenamed("sig", "sig_b"), "id_b")
          .where(xxhash64(col("sig_a")) === xxhash64(col("sig_b")))
          .select(col("id_a"), col("id_b"))
          .localCheckpoint()
      }
      ms("verify count") {
        val survivorIds = estimated.select(col("id_a").as("id"))
          .union(estimated.select(col("id_b").as("id"))).distinct()
        val sets = base.join(survivorIds, Seq("id"), "left_semi")
          .select(col("id"), array_distinct(
            TextOps.wordShingles(TextOps.tokens(col("text")), shingleN)).as("sset"))
        estimated
          .join(sets.withColumnRenamed("id", "id_a")
            .withColumnRenamed("sset", "set_a"), "id_a")
          .join(sets.withColumnRenamed("id", "id_b")
            .withColumnRenamed("sset", "set_b"), "id_b")
          .withColumn("__inter", size(array_intersect(col("set_a"), col("set_b"))))
          .withColumn("jaccard",
            col("__inter").cast("double") /
              (size(col("set_a")) + size(col("set_b")) - col("__inter")).cast("double"))
          .where(col("jaccard") >= threshold)
          .count()
      }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      println(f"[profile] TOTAL ${(System.nanoTime() - t0) / 1e9}%7.3f s")
    }
    spark.stop()
  }
}
