package graft.serve

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.store.Store

/** End-to-end query lifecycle (reference: facade.py:112-164,
  * app.py:42-185; the §7.2 minimum slice). */
class QueryServiceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val service: QueryService = {
    val root = Files.createTempDirectory("graft_qs_").toString
    val st = new Store(spark, root, "dukes")
    st.initialize()
    val df = Seq(
      (0, "Coal", 2019, "Gas", Some(1.0), None: Option[String]),
      (1, "Coal", 2020, "Gas", Some(2.0), None),
      (2, "Oil", 2020, "Coal", Some(3.0), None),
      (3, "Oil", 2021, "coal", None, None))
      .toDF("row", "label", "year", "fuel", "value", "sector")
    st.ingest(df, "1.1", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    st.stage()
    new QueryService(spark, st)
  }

  test("filters + mandatory table predicate + service/all-null column drop") {
    val page = service.query("1.1",
      """{"year": {"gte": 2020}, "fuel": {"like": "%coal%"}}""")
    val rows = page.data.collect()
    assert(rows.length == 2)
    // service columns and the all-null 'sector' dimension are hidden
    assert(!page.data.columns.contains("ingest_id"))
    assert(!page.data.columns.contains("row_uid"))
    assert(!page.data.columns.contains("sector"))
    assert(page.nextCursor.isEmpty)
  }

  test("keyset pagination pages in row_uid order with a cursor") {
    val p1 = service.query("1.1", "{}", limit = 2)
    assert(p1.data.count() == 2 && p1.nextCursor.isDefined)
    val p2 = service.query("1.1", "{}", limit = 2, cursor = p1.nextCursor)
    assert(p2.data.count() == 2)
    val all = p1.data.select("row").as[Int].collect().toSet ++
      p2.data.select("row").as[Int].collect().toSet
    assert(all == Set(0, 1, 2, 3))
  }

  test("a keyset walk whose page ends inside a sheet row returns every record once, in order") {
    val root = Files.createTempDirectory("graft_qs_walk_").toString
    val st = new Store(spark, root, "dukes")
    st.initialize()
    // three melted years per sheet row: a limit of 4 splits rows
    val records = for (r <- 0 until 5; y <- 2019 to 2021) yield (r, y, s"l$r", r * 10.0 + y)
    st.ingest(records.toDF("row", "year", "label", "value"), "1.1")
    st.stage()
    val qs = new QueryService(spark, st)
    def keys(p: QueryService.Page) = p.data.select("row", "year").as[(Int, Int)].collect()
    var page = qs.query("1.1", limit = 4)
    val walked = scala.collection.mutable.ArrayBuffer.from(keys(page))
    while (page.nextCursor.isDefined && walked.size <= records.size) {
      page = qs.query("1.1", limit = 4, cursor = page.nextCursor)
      walked ++= keys(page)
    }
    assert(walked.toSeq == records.map(r => (r._1, r._2)))
  }

  test("no session-wide conf changes while stage, stageIncremental, vacuum and compactZone run beside queries") {
    val root = Files.createTempDirectory("graft_qs_confs_").toString
    val st = new Store(spark, root, "dukes")
    st.initialize()
    def frame(v: Double) = Seq((0, "Coal", 2019, "Gas", v), (1, "Oil", 2020, "Coal", v))
      .toDF("row", "label", "year", "fuel", "value")
    st.ingest(frame(1.0), "1.1")
    st.ingest(frame(2.0), "2.1")
    st.stage()
    val keys = Seq("spark.sql.sources.partitionColumnTypeInference.enabled",
      "spark.sql.sources.partitionOverwriteMode")
    val initial = keys.map(spark.conf.getOption)
    val changed = new java.util.concurrent.atomic.AtomicReference[String](null)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val watcher = new Thread(() =>
      while (!done.get()) {
        keys.zip(initial).foreach { case (k, v) =>
          if (spark.conf.getOption(k) != v) changed.compareAndSet(null, k)
        }
        Thread.onSpinWait()
      })
    val qs = new QueryService(spark, st)
    val reader = new Thread(() =>
      while (!done.get()) {
        // a read may land inside a swap; only the confs are judged here
        try qs.query("2.1").data.count() catch { case _: Exception => () }
      })
    try {
      watcher.start()
      reader.start()
      st.ingest(frame(3.0), "1.1")
      assert(st.stageIncremental() == Seq("1.1"))
      st.stage()
      assert(st.vacuum(retainVersions = 1) == Seq(1L))
      st.compactZone("raw")
      st.compactZone("prod")
    } finally { done.set(true); watcher.join(); reader.join() }
    assert(changed.get() == null, s"a store verb changed the session-wide ${changed.get()}")
    assert(qs.query("1.1").data.select("value").as[Double].collect().toSeq == Seq(3.0, 3.0))
  }

  test("queries see fresh data after a re-stage (no stale file listing)") {
    val root = Files.createTempDirectory("graft_qs_restage_").toString
    val st = new Store(spark, root, "dukes")
    st.initialize()
    val f = new Facade(spark, root, "dukes")
    def frame(v: Double) = Seq((0, "Coal", 2019, "Gas", Some(v)))
      .toDF("row", "label", "year", "fuel", "value")
    st.ingest(frame(1.0), "1.1", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    f.stage()
    assert(f.query("1.1").data.select("value").collect().head.getDouble(0) == 1.0)
    st.ingest(frame(2.0), "1.1", ingestTs = Timestamp.valueOf("2026-01-02 00:00:00"))
    f.stage()
    assert(f.query("1.1").data.select("value").collect().head.getDouble(0) == 2.0)
  }

  test("a re-stage by another Facade on the same root shows on the next request, no refresh in the server") {
    val root = Files.createTempDirectory("graft_qs_cross_").toString
    val serving = new Facade(spark, root, "dukes")
    serving.store.ingest(Seq((0, "Coal", 2019, "Gas", 1.0)).toDF("row", "label", "year", "fuel", "value"),
      "1.1", description = "first", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    serving.stage()
    val api = new HttpApi(serving, "dukes")
    val port = api.start()
    val client = java.net.http.HttpClient.newHttpClient()
    def get(path: String): String = client.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString()).body()
    try {
      assert(get("/data/dukes?table_name=1.1").contains(""""value": 1.0"""))
      assert(!get("/metadata/dukes?table_name=1.1").contains("sector"))
      val writer = new Facade(spark, root, "dukes")
      writer.store.ingest(Seq((0, "Coal", 2019, "Gas", "industry", 2.0))
          .toDF("row", "label", "year", "fuel", "sector", "value"),
        "1.1", description = "second", ingestTs = Timestamp.valueOf("2026-01-02 00:00:00"))
      writer.stage()
      val data = get("/data/dukes?table_name=1.1")
      assert(data.contains(""""value": 2.0""") && data.contains(""""sector": "industry""""))
      assert(data.contains(""""table_description": "second""""))
      assert(get("/metadata/dukes?table_name=1.1").contains(""""column_name": "sector""""))
    } finally api.stop()
  }

  test("a stale file listing in the view is re-resolved once and the read retried") {
    val root = Files.createTempDirectory("graft_qs_stale_").toString
    val st = new Store(spark, root, "dukes")
    st.initialize()
    st.ingest(Seq((0, "Coal", 2019, "Gas", 1.0), (1, "Oil", 2020, "Coal", 2.0))
      .toDF("row", "label", "year", "fuel", "value"), "1.1")
    st.stage()
    val qs = new QueryService(spark, st)
    assert(qs.query("1.1").data.count() == 2)
    val resolved = qs.view
    // replace the table's files under new names, marker untouched: the
    // view's listing now names files that are gone
    val dir = new java.io.File(s"${st.prodPath}/table_name=1.1")
    dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      Files.move(f.toPath, new java.io.File(dir, "moved-" + f.getName).toPath)
    }
    val page = qs.query("1.1")
    assert(page.data.select("value").as[Double].collect().sorted.toSeq == Seq(1.0, 2.0))
    assert(qs.view ne resolved)
    assert(qs.view.fingerprint == resolved.fingerprint)
  }

  test("concurrent first queries after a stage read table_name as a string") {
    val root = Files.createTempDirectory("graft_qs_concurrent_").toString
    val st = new Store(spark, root, "dukes")
    st.initialize()
    val tables = Seq("1.1", "1.10", "2.1", "2.10")
    tables.zipWithIndex.foreach { case (t, i) =>
      st.ingest(Seq((0, "Coal", 2019, "Gas", i.toDouble), (1, "Oil", 2020, "Coal", i + 0.5))
        .toDF("row", "label", "year", "fuel", "value"), t)
    }
    st.stage()
    // eight services, so eight view resolutions run at once, while a
    // watcher samples the session-wide partition type inference flag
    val asks = (0 until 8).map(i => (new QueryService(spark, st), tables(i % tables.size)))
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val initial = spark.conf.getOption(key)
    val toggled = new java.util.concurrent.atomic.AtomicBoolean(false)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val watcher = new Thread(() =>
      while (!done.get()) {
        if (spark.conf.getOption(key) != initial) toggled.set(true)
        Thread.onSpinWait()
      })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(asks.size)
    try {
      watcher.start()
      val start = new java.util.concurrent.CountDownLatch(1)
      val futures = asks.map { case (qs, t) => pool.submit(() => {
        start.await()
        qs.query(t).data
      }) }
      start.countDown()
      asks.zip(futures).foreach { case ((_, t), f) =>
        val data = f.get()
        assert(data.schema("table_name").dataType == org.apache.spark.sql.types.StringType)
        val i = tables.indexOf(t)
        assert(data.select("table_name", "value").as[(String, Double)].collect().sorted.toSeq ==
          Seq((t, i.toDouble), (t, i + 0.5)))
      }
    } finally { pool.shutdown(); done.set(true); watcher.join() }
    assert(!toggled.get(), s"a request toggled the session-wide $key")
  }

  test("column projection narrows the page, filters still see all columns") {
    val page = service.query("1.1", """{"fuel": "gas", "year": {"gte": 2020}}""",
      cols = Some(Seq("label", "year")))
    assert(page.data.columns.contains("label"))
    assert(!page.data.columns.contains("fuel"))
    assert(page.data.count() == 1) // only (Coal, 2020, Gas) passes both filters
    intercept[IllegalArgumentException](
      service.query("1.1", "{}", cols = Some(Seq("nope"))))
  }

  test("unknown table rejected") {
    val e = intercept[IllegalArgumentException](service.query("9.9"))
    assert(e.getMessage.contains("not staged"))
  }

  test("filter on an unknown column rejected") {
    intercept[graft.dsl.FilterDsl.DslException](
      service.query("1.1", """{"bogus": 1}"""))
  }
}
