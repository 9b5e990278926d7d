package graft.dev

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Round-15 optimization probe: decompose q_x_corpus_pipeline_v2's
  * stages — the row-local prefix + exact collapse (one checkpoint),
  * the MinHash pair stage, connected components, and the two
  * decontamination stages — so optimization targets the measured cost.
  * Usage: graft.dev.CorpusPipelineProfile [sfDir]
  */
object CorpusPipelineProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    import graft.text.{CorpusPipeline, TextOps}

    def ms[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $tag%-26s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }

    (1 to 3).foreach { round =>
      println(s"--- round $round ---")
      val t0 = System.nanoTime()
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val bench = docs.where(pmod(col("doc_id"), lit(97)) === 0)
      val th = CorpusPipeline.Thresholds(
        unicodeForm = Some("NFC"), gopherMinWords = Some(10),
        gopherMinStopwords = 1, lineDedupSep = Some("\n"),
        ngramOverlapN = Some(5))

      // stage 1: the row-local prefix + line dedup + exact collapse, as
      // preprocess builds it, up to the one checkpoint
      val base0 = docs.select(col("doc_id").as("id"), col("text").as("text"))
      val base = base0.withColumn("text",
        graft.functions.TextExpressions.unicode_normalize(col("text"), "NFC"))
      val toks = TextOps.tokens(col("text"))
      val keep = TextOps.langId(toks).isin("en") &&
        TextOps.qualityFeatures(col("text"))("n_tokens") >= 5 &&
        TextOps.qualityFeatures(col("text"))("punct_ratio") <= 0.3 &&
        TextOps.repetitionRatio(toks) <= 0.6 &&
        TextOps.gopherKeep(col("text"), minWords = 10, minStopwords = 1)
      val redacted = ms("prefix+linededup plan") {
        TextOps.dedupLines(
            base.where(keep).withColumn("text", TextOps.redact(col("text"))),
            "id", "text", "\n")
          .where(length(trim(col("text"))) > 0)
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(TextOps.fingerprintMd5(col("text"))).orderBy(col("id"))
      val exactKept = ms("exact collapse+checkpoint") {
        redacted.withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1).drop("__rn").localCheckpoint()
      }
      ms("exact count")(exactKept.count())
      val pairs = ms("minhash pairs") {
        val p = TextOps.minhashDedupPairs(exactKept, "id", "text",
          threshold = 0.5)
        p.count(); p
      }
      val dropIds = ms("connected components") {
        val d = graft.ops.ConnectedComponents.keepList(pairs, "id_a", "id_b")
          .where(!col("keep")).select(col("id"))
        d.count(); d
      }
      val nearKept = exactKept.join(dropIds, Seq("id"), "left_anti")
      val bRed = bench.select(col("doc_id").as("id"), col("text"))
        .withColumn("text",
          graft.functions.TextExpressions.unicode_normalize(col("text"), "NFC"))
        .withColumn("text", TextOps.redact(col("text")))
      val c0 = ms("decontaminate exact") {
        val c = TextOps.decontaminate(nearKept, bRed, "text", "text")
          .localCheckpoint()
        c.count(); c
      }
      ms("decontaminate ngram") {
        TextOps.decontaminateNgramOverlap(c0, bRed, "id", "text", "text", 5)
          .count()
      }
      println(f"[profile] TOTAL ${(System.nanoTime() - t0) / 1e9}%7.3f s")
    }
    spark.stop()
  }
}
