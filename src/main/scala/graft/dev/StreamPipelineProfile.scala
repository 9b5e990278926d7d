package graft.dev

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Round-15 optimization probe: decompose q_x_stream_pipeline (and its
  * neardup twin) into phases — source landing, gate checkpoint, stream
  * lifecycle (start→processAllAvailable→stop), render — so the
  * optimization targets the measured cost, not the guessed one.
  * Usage: graft.dev.StreamPipelineProfile [sfDir] [neardup]
  */
object StreamPipelineProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val neardup = args.contains("neardup")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()

    def ms[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }

    import graft.streaming.StreamOps
    def t(s: SparkSession, dir: String, name: String) =
      s.read.parquet(s"$dir/$name.parquet")
    val docsStreamSchema = org.apache.spark.sql.types.StructType(
      t(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars")).schema.fields)
    (1 to 3).foreach { round =>
      println(s"--- round $round ${if (neardup) "(neardup)" else "(plain)"} ---")
      val tAll = System.nanoTime()
      val streamDir = java.nio.file.Files.createTempDirectory("graft_spp_")
      val srcDir = if (neardup)
        java.nio.file.Files.createDirectories(streamDir.resolve("src"))
      else streamDir.resolve("src")
      val pipeDir = streamDir.resolve("pipe").toString
      val base = t(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val bench = ms("bench checkpoint") {
        t(spark, sfDir, "documents")
          .where(pmod(col("doc_id"), lit(37)) === 0).localCheckpoint()
      }
      if (neardup) {
        def land(half: org.apache.spark.sql.DataFrame, tag: String): Unit = {
          val staging = streamDir.resolve(s"stage_$tag")
          half.repartition(2).write.parquet(staging.toString)
          val listing = java.nio.file.Files.list(staging)
          try {
            val it = listing.iterator(); var i = 0
            while (it.hasNext) {
              val f = it.next()
              if (f.getFileName.toString.endsWith(".parquet")) {
                java.nio.file.Files.copy(f,
                  srcDir.resolve(f"${tag}_$i%05d.parquet"))
                i += 1
              }
            }
          } finally listing.close()
        }
        def run(tag: String): Unit = ms(s"stream run $tag") {
          val docs = spark.readStream.schema(docsStreamSchema)
            .option("maxFilesPerTrigger", "4").parquet(srcDir.toString)
          val q = StreamOps.curationPipelineStream(docs, pipeDir, bench,
              "text", n = 5, capK = 20,
              nearDedup = Some(graft.text.DedupIndex.Params()))
            .option("checkpointLocation", streamDir.resolve("ck").toString)
            .start()
          try q.processAllAvailable() finally q.stop()
        }
        ms("land a")(land(base.where(pmod(col("doc_id"), lit(2)) === 0), "a"))
        run("a")
        ms("land b")(land(base.where(pmod(col("doc_id"), lit(2)) === 1), "b"))
        run("b")
        ms("read corpus") {
          spark.read.parquet(s"$pipeDir/corpus")
            .select(col("doc_id"), col("source")).count()
        }
      } else if (args.contains("phases")) {
        // simulate the two micro-batches' foreachBatch bodies directly —
        // no stream machinery, so the per-stage cost is separable
        val gated = ms("gate plan+collect") {
          StreamOps.decontaminateStream(
            base, bench, "text", "text", 5)
        }
        Seq(0L, 1L).foreach { half =>
          val b = ms(s"batch$half checkpoint") {
            gated.where(pmod(col("doc_id"), lit(2)) === half).localCheckpoint()
          }
          ms(s"batch$half card")(
            StreamOps.dataCardIngestBatch(b, s"$pipeDir/card", half,
              "doc_id", "text", "lang", "source", dupSketch = false))
          ms(s"batch$half cap")(
            StreamOps.sampleByIngestBatch(b, s"$pipeDir/cap", half,
              "source", "doc_id", 20))
          ms(s"batch$half corpus")(
            StreamOps.fpDedupIngestBatch(b, s"$pipeDir/corpus", "text"))
        }
        ms("render") {
          StreamOps.curationRender(spark, pipeDir, capK = 20).count()
        }
      } else {
        ms("source write") {
          base.repartition(4).write.parquet(srcDir.toString)
        }
        val q = ms("stream start") {
          val docs = spark.readStream.schema(docsStreamSchema)
            .option("maxFilesPerTrigger", "2").parquet(srcDir.toString)
          StreamOps.curationPipelineStream(docs, pipeDir, bench,
              "text", n = 5, capK = 20)
            .option("checkpointLocation", streamDir.resolve("ck").toString)
            .start()
        }
        ms("processAllAvailable")(q.processAllAvailable())
        ms("stop")(q.stop())
        ms("render") {
          StreamOps.curationRender(spark, pipeDir, capK = 20).count()
        }
      }
      println(f"[profile] TOTAL ${(System.nanoTime() - tAll) / 1e9}%7.3f s")
    }
    spark.stop()
  }
}
