package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.store.Store

/** REST endpoint contract (reference: app.py:42-185): response shape,
  * pagination cursors, and the 404/400/422 error mapping. */
class HttpApiSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val (facade, api, port): (Facade, HttpApi, Int) = {
    val root = Files.createTempDirectory("graft_http_").toString
    val st = new Store(spark, root, "dukes")
    st.initialize()
    val df = Seq(
      (0, "Coal", 2019, "Gas", 1.0), (1, "Coal", 2020, "Gas", 2.0),
      (2, "Oil", 2020, "Coal", 3.0), (3, "Oil", 2021, "coal", 4.0))
      .toDF("row", "label", "year", "fuel", "value")
    st.ingest(df, "1.1", description = "Test balances",
      ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    st.stage()
    val f = new Facade(spark, root, "dukes")
    val a = new HttpApi(f, "dukes")
    (f, a, a.start())
  }

  private val client = HttpClient.newHttpClient()
  private def get(pathAndQuery: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathAndQuery")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

  test("data endpoint: filters applied, records + next_cursor in body") {
    val (code, body) = get(s"/data/dukes?table_name=1.1&filters=${enc("""{"fuel":"gas"}""")}")
    assert(code == 200)
    assert(body.contains(""""table_name": "1.1""""))
    assert(body.contains(""""table_description": "Test balances""""))
    assert(body.contains(""""next_cursor": null"""))
    assert(body.contains(""""year": 2019""") && body.contains(""""year": 2020"""))
    assert(!body.contains("2021")) // filtered out (case-insensitive eq on 'gas')
  }

  test("pagination: limit + cursor walk the table in row_uid order") {
    val (c1, b1) = get("/data/dukes?table_name=1.1&limit=2")
    assert(c1 == 200)
    val cursor = """"next_cursor": (\d+)""".r.findFirstMatchIn(b1).map(_.group(1))
    assert(cursor.isDefined)
    val (c2, b2) = get(s"/data/dukes?table_name=1.1&limit=2&cursor=${cursor.get}")
    assert(c2 == 200)
    assert(b2.contains("2021"))
  }

  test("error mapping: 404 unknown collection/table, 400 bad json, 422 semantic") {
    assert(get("/data/nope?table_name=1.1")._1 == 404)
    assert(get("/data/dukes?table_name=9.9")._1 == 404)
    assert(get(s"/data/dukes?table_name=1.1&filters=${enc("{not json")}")._1 == 400)
    assert(get(s"/data/dukes?table_name=1.1&filters=${enc("""{"bogus": 1}""")}")._1 == 422)
    assert(get(s"/data/dukes?table_name=1.1&filters=${enc("""{"year": {"like": "x"}}""")}")._1 == 422)
    assert(get("/data/dukes")._1 == 422) // table_name required
    assert(get("/data/dukes?table_name=1.1&limit=abc")._1 == 422)
    assert(get("/data/dukes?table_name=1.1&cursor=1.5")._1 == 422)
  }

  test("metadata endpoint: per-column metadata, 404 for unknowns") {
    val (code, body) = get("/metadata/dukes?table_name=1.1")
    assert(code == 200)
    assert(body.contains(""""column_name": "label""""))
    assert(body.contains(""""column_name": "fuel""""))
    assert(get("/metadata/dukes")._1 == 200) // whole-collection form
    assert(get("/metadata/nope")._1 == 404)
    assert(get("/metadata/dukes?table_name=9.9")._1 == 404)
  }

  /** Spark jobs started by serving code while `body` runs. */
  private def servingJobs(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.details.contains("graft.serve."))) jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.ListenerBusDrain(sc); jobs.get() }
    finally sc.removeSparkListener(listener)
  }

  test("a warm /data request runs exactly one Spark job, /metadata none") {
    val data = s"/data/dukes?table_name=1.1&filters=${enc("""{"year": {"gte": 2020}}""")}"
    assert(get(data)._1 == 200) // warm: the staged view is resolved
    assert(servingJobs(assert(get(data)._1 == 200)) == 1)
    assert(servingJobs(assert(get("/metadata/dukes?table_name=1.1")._1 == 200)) == 0)
  }

  /** The bodies of a keyset walk at limit 1 over table 1.1. */
  private def walk(): Seq[String] = {
    val out = Seq.newBuilder[String]
    var cursor: Option[String] = None
    var more = true
    while (more) {
      val (code, body) = get("/data/dukes?table_name=1.1&limit=1" + cursor.fold("")("&cursor=" + _))
      assert(code == 200)
      out += body
      cursor = """"next_cursor": (\d+)""".r.findFirstMatchIn(body).map(_.group(1))
      more = cursor.isDefined
    }
    out.result()
  }

  test("concurrent mixed requests return the bodies of the same requests sent one at a time") {
    val gets = Seq(
      s"/data/dukes?table_name=1.1&filters=${enc("""{"fuel": "gas"}""")}",
      s"/data/dukes?table_name=1.1&filters=${enc("""{"$or": [{"fuel": "coal"}, {"year": 2019}]}""")}",
      s"/data/dukes?table_name=1.1&filters=${enc("""{"year": {"gte": 2020}}""")}&cols=label,year",
      "/data/dukes?table_name=1.1&limit=3",
      "/metadata/dukes?table_name=1.1",
      "/metadata/dukes")
    val calls: Seq[() => Seq[String]] =
      (gets ++ gets).map(p => () => Seq(get(p)._2)) ++ Seq(() => walk(), () => walk())
    val sequential = calls.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(calls.size)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val futures = calls.map(c => pool.submit(() => { start.await(); c() }))
      start.countDown()
      assert(futures.map(_.get()) == sequential)
    } finally pool.shutdown()
    // the walk visited every record, then got an empty last page
    assert(sequential.last.size == 5 && sequential.last.last.contains(""""data": []"""))
  }

  test("stop() shuts the worker pool down and joins its threads, an in-flight request's too") {
    // a facade of its own: its first request resolves the staged view
    // (several Spark jobs), so it is still running when stop() is called
    val root = facade.store.rawPath.stripSuffix("/dukes_raw")
    val other = new HttpApi(new Facade(spark, root, "dukes"), "dukes")
    val p = other.start()
    def workers = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.getName.startsWith(s"HttpApi-$p-worker-") && t.isAlive)
    val inFlight = new Thread(() =>
      try client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/data/dukes?table_name=1.1"))
        .timeout(java.time.Duration.ofSeconds(60)).GET().build(), HttpResponse.BodyHandlers.ofString())
      catch { case _: java.io.IOException => () }) // the server may close first
    inFlight.start()
    while (workers.isEmpty) Thread.sleep(1)
    other.stop()
    assert(workers.isEmpty, workers.map(_.getName).mkString(", "))
    inFlight.join()
  }

  // keep last: mutates the staged data the earlier fixtures rely on
  test("description cache refreshes after a post-start ingest + stage") {
    val df2 = Seq((0, "Coal", 2022, "Gas", 9.0))
      .toDF("row", "label", "year", "fuel", "value")
    facade.store.ingest(df2, "1.1", description = "Fresh description",
      ingestTs = Timestamp.valueOf("2026-02-01 00:00:00"))
    facade.stage()
    val (code, body) = get("/data/dukes?table_name=1.1&limit=1")
    assert(code == 200)
    assert(body.contains(""""table_description": "Fresh description""""))
  }

  test("sibling collection's descriptions never leak into this collection") {
    // same root, same table name, LATER ingest id, different description
    val root = facade.store.rawPath.stripSuffix("/dukes_raw")
    val other = new Store(spark, root, "other")
    other.ingest(
      Seq((0, "z")).toDF("row", "label"), "1.1",
      description = "WRONG collection description",
      ingestTs = Timestamp.valueOf("2026-05-01 00:00:00"))
    facade.stage() // invalidates the description cache
    val (_, body) = get("/data/dukes?table_name=1.1&limit=1")
    assert(body.contains(""""table_description": "Fresh description""""))
    assert(!body.contains("WRONG collection description"))
  }
}
