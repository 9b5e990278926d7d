package graft.store

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Union}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.etl.Config
import graft.etl.Config.TableConfig
import graft.io.WorkbookReader.Workbook
import graft.serve.Facade

/** Guards on the revise path (re-ingest one table, re-stage it): the
  * Spark jobs it runs, the bytes it reads, and the one-pass column
  * stats it writes. */
class RevisePathSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Spark jobs started and input records read while `body` runs, counted
    * by a job group of its own (threads Spark starts for the body's
    * queries inherit it). */
  private def jobsAndRecords(body: => Unit): (Int, Long) = {
    val group = s"revise-guard-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val records = new AtomicLong()
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try { body; org.apache.spark.ListenerBusDrain(sc); (jobs.get(), records.get()) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  private val sheet = Vector(
    Vector("Table 1.1", "", ""),
    Vector("ROWHDR", "2019", "2020"),
    Vector("Coal", "1", "2"),
    Vector("Gas", "3", ".."))

  private val template = Seq(
    (0, "Coal production", "ktoe", "Coal"), (1, "Gas production", "ktoe", "Gas"))
    .toDF("row", "label", "unit", "fuel")

  private val cfg = TableConfig("1.1", Config.SingleSheet, sheetName = Some("1.1"),
    url = Some("https://example/dukes_1.1.xlsx"), description = Some("Balances"))

  private def ts(day: Int) = new Timestamp(Timestamp.valueOf("2026-01-01 00:00:00").getTime + day * 86400000L)

  private def facade(): Facade =
    new Facade(spark, Files.createTempDirectory("graft_revise_").toString, "dukes")

  test("Facade.ingest of a small templated table runs at most 6 Spark jobs") {
    val f = facade()
    f.ingest(Workbook(Vector("1.1" -> sheet)), cfg, Some(template), ingestTs = ts(0))
    val (jobs, _) = jobsAndRecords {
      f.ingest(Workbook(Vector("1.1" -> sheet)), cfg, Some(template), ingestTs = ts(1))
    }
    assert(jobs <= 6, s"$jobs jobs")
  }

  test("a one-table stageIncremental runs at most 7 Spark jobs") {
    val f = facade()
    f.ingest(Workbook(Vector("1.1" -> sheet)), cfg, Some(template), ingestTs = ts(0))
    f.ingest(Workbook(Vector("2.1" -> sheet)), cfg.copy(table = "2.1", sheetName = Some("2.1")),
      Some(template), ingestTs = ts(0))
    f.stage()
    f.ingest(Workbook(Vector("1.1" -> sheet)), cfg, Some(template), ingestTs = ts(1))
    val (jobs, _) = jobsAndRecords(assert(f.stageIncremental() == Seq("1.1")))
    assert(jobs <= 7, s"$jobs jobs")
  }

  test("stageIncremental reads the same records after 5 re-ingests of one table") {
    val root = Files.createTempDirectory("graft_revise_reads_").toString
    val st = new Store(spark, root, "t")
    st.initialize()
    def version(v: Int) = (0 until 2000).map(i => (i, s"label$i", 2000 + i % 20, v * 1.0 + i))
      .toDF("row", "label", "year", "value")
    st.ingest(version(0), "a", ingestTs = ts(0))
    st.ingest(version(0), "b", ingestTs = ts(0))
    st.stage()
    val read = (1 to 5).map { v =>
      st.ingest(version(v), "a", ingestTs = ts(v))
      jobsAndRecords(assert(st.stageIncremental() == Seq("a")))._2
    }
    // the winner's rows, written then read back for the stats: the row
    // groups of earlier ingests are skipped, however many there are
    assert(read.forall(_ == 2 * 2000L), s"records read per re-stage: $read")
  }

  test("columnStats rows equal a per-column reference, from one aggregation (exact, approx, sampleK, quantiles)") {
    val small = Seq(
      ("1.1", Some(1), Some("a"), Some(1.5)), ("1.1", Some(1), None, Some(2.5)),
      ("1.1", Some(2), Some("b"), None), ("1.1", None, Some("a"), Some(2.5)),
      ("2.1", Some(7), Some("c"), Some(0.5)), ("2.1", Some(8), Some("c"), None))
      .toDF("table_name", "year", "fuel", "value")
    // thousands of distinct values: the approx sketches are not exact here
    val large = (0 until 6000).map(i => (if (i % 2 == 0) "1.1" else "2.1", Some(i % 2900),
        Some(s"f${i * 7 % 2500}"), if (i % 5 == 0) None else Some(i * 0.25)))
      .toDF("table_name", "year", "fuel", "value")
    val st = new Store(spark, Files.createTempDirectory("graft_stats_").toString, "t")
    val dtypes = Seq("year" -> "int", "fuel" -> "string", "value" -> "double")
    def plain(v: Any): Any = v match {
      case s: scala.collection.Seq[_] => s.toList
      case other => other
    }
    for (df <- Seq(small, large); exact <- Seq(true, false); sampleK <- Seq(0, 2);
         quantiles <- Seq(false, true)) {
      val stats = st.columnStats(df, exact, sampleK, quantiles)
      // each column aggregated on its own
      val reference = dtypes.flatMap { case (c, dtype) =>
        val aggs = Seq(count(col(c)),
          if (exact) countDistinct(col(c)) else approx_count_distinct(col(c))) ++
          (if (sampleK > 0) Seq(graft.functions.Sampling.bottomKSample(col(c), sampleK)) else Nil) ++
          (if (quantiles && dtype != "string")
            Seq(percentile_approx(col(c).cast("double"), array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)))
          else Nil)
        df.groupBy("table_name").agg(aggs.head, aggs.tail: _*).collect().map { r =>
          (Seq(r.getString(0), c, r.getLong(1), r.getLong(2), dtype) ++ r.toSeq.drop(3) ++
            (if (quantiles && dtype == "string") Seq(null) else Nil)).map(plain)
        }
      }.toSet
      val got = stats.collect().map(_.toSeq.map(plain)).toSet
      assert(got == reference, s"exact=$exact sampleK=$sampleK quantiles=$quantiles")
      assert(got.size == 6)
      // one aggregation over one generator: no per-column branch
      val plan = stats.queryExecution.optimizedPlan
      assert(plan.collect { case u: Union => u }.isEmpty && plan.collect { case g: Generate => g }.size == 1,
        plan.toString.take(1500))
    }
  }
}
