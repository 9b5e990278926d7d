package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in this JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --cpus C --work DIR --out FILE --found FILE
  *
  * Set-up (session start, inputs, workload set-up and one untimed warm-up
  * round) is timed from JVM start. Then whole rounds run until their
  * timed phases add up to `seconds`. With --trace 1 the first half of that
  * time runs untraced, the second with tracing on; the per-layer metrics
  * come from the second and the overhead compares the two. The result is
  * written as JSON. */
object Main {

  /** The per-layer metric names every traced run reports (0 where the
    * workload does not touch the layer). */
  val PhaseNames = Vector("publish", "revise", "read", "export", "curate", "dedup_ingest")
  val LayerNames: Vector[String] = Vector(
    "phase.publish_s", "phase.revise_s", "phase.export_s", "phase.export_rows_per_s",
    "phase.read_p50_ms", "phase.read_p95_ms", "phase.read_rps", "phase.rows_served_per_s",
    "phase.ingest_p50_ms", "phase.curate_docs_per_s", "phase.dedup_ingest_docs_per_s",
    "io.xlsx_read_ms", "io.export_ms", "io.export_bytes",
    "etl.transform_ms", "etl.validate_ms",
    "store.ingest_ms", "store.stage_ms", "store.stage_incremental_ms",
    "store.raw_files", "store.prod_files", "store.bytes_per_row", "store.read_prod_ms",
    "dsl.compile_us",
    "serve.query_ms", "serve.http_ms", "serve.jobs_per_request",
    "serve.listing_jobs_per_request", "serve.rows_read_per_row_served",
    "text.preprocess_ms", "text.dedup_ingest_ms",
    "text.stage_survivors.input", "text.stage_survivors.language",
    "text.stage_survivors.quality", "text.stage_survivors.exact_dedup",
    "text.stage_survivors.near_dedup",
    "trace.overhead_pct") ++
    PhaseNames.flatMap(p => PhaseListener.Reported.map(f => s"spark.$p.$f") ++
      Seq(s"jvm.$p.gc_ms", s"jvm.$p.heap_used_peak_mb"))

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // the 4-table collection lists like one above the default 32-path
      // threshold: one parallel listing job per read of the staged zone
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "2")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    val work = a("work")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(cpus, work)
    System.err.println(f"perfbench: session up at ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s")
    val ctx = new Ctx(spark, seed, work, cpus)
    val wl: Workload = a("workload") match {
      case "release_serve" => new ReleaseServe(ctx)
      case "corpus_curate" => new CorpusCurate(ctx, a("found"), batches = 2, copies = 60, fresh = 280)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val listener = new PhaseListener
    try {
      // a traced run also traces set-up (the publish and full stage)
      if (traced) {
        spark.sparkContext.addSparkListener(listener)
        ctx.listener = Some(listener)
        ctx.trace.on = true
      }
      wl.setup()
      System.err.println(f"perfbench: setup done at ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s")
      ctx.trace.on = false
      wl.warmUp()
      wl.resetSamples()
      val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
      ctx.attempted = 0L
      ctx.failed = 0L

      // whole rounds until their timed phases add up to `span` seconds
      // (the checks after each round are not counted)
      var next = 1
      def window(span: Double): Seq[Double] = {
        val rs = mutable.ArrayBuffer.empty[Double]
        while (rs.isEmpty || rs.sum < span) {
          rs += wl.round(next)
          next += 1
        }
        rs.toSeq
      }

      val metrics: Map[String, (Double, String)] =
        if (!traced) {
          val rounds = window(seconds)
          wl.endToEnd(rounds) + ("setup_s" -> (setupS, "s"))
        } else {
          // half the time untraced (no spans, no listener), half traced
          spark.sparkContext.removeSparkListener(listener)
          val plain = window(seconds / 2)
          wl.resetSamples()
          spark.sparkContext.addSparkListener(listener)
          ctx.trace.on = true
          val tracedRounds = window(seconds / 2)
          wl.traceLayers(next)
          val layers = wl.perLayer() ++ phaseCounters(ctx) +
            ("trace.overhead_pct" -> (Stats.median(tracedRounds) / Stats.median(plain) - 1) * 100)
          ctx.trace.writeSpans(s"$work/spans.jsonl")
          LayerNames.map(n => n -> (layers.getOrElse(n, 0.0), unitOf(n))).toMap
        }

      val wrong = ctx.wrong.asScala.toVector
      wrong.take(20).foreach(w => System.err.println(s"perfbench: WRONG $w"))
      val result = Map(
        "correct" -> wrong.isEmpty,
        "attempted" -> ctx.attempted,
        "failed" -> ctx.failed,
        "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
      val w = new java.io.PrintWriter(a("out"), "UTF-8")
      try w.println(Json.write(result)) finally w.close()
    } finally {
      wl.close()
      spark.stop()
    }
    System.exit(0)
  }

  private def phaseCounters(ctx: Ctx): Map[String, Double] =
    ctx.phases.toSeq.flatMap { case (p, st) =>
      val per = math.max(1, st.runs).toDouble
      PhaseListener.Reported.map(f => s"spark.$p.$f" -> st.spark(PhaseListener.Fields.indexOf(f)) / per) ++
        Seq(s"jvm.$p.gc_ms" -> st.gcMs / per, s"jvm.$p.heap_used_peak_mb" -> st.heapPeakMb)
    }.toMap

  def unitOf(name: String): String = {
    val leaf = name.split('.').last
    if (leaf.endsWith("_per_s") || leaf == "read_rps") "1/s"
    else if (leaf.endsWith("_ms")) "ms"
    else if (leaf.endsWith("_us")) "us"
    else if (leaf.endsWith("_s")) "s"
    else if (leaf.endsWith("_bytes") || leaf == "bytes_per_row") "bytes"
    else if (leaf.endsWith("_mb")) "MB"
    else if (leaf.endsWith("_pct")) "%"
    else "count"
  }
}
