package perfbench

import java.io.File
import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.univocity.parsers.csv.{CsvParser, CsvParserSettings}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dsl.FilterDsl
import graft.etl.{Config, Transform, Validate}
import graft.etl.Config.TableConfig
import graft.io.WorkbookReader
import graft.serve.{Facade, HttpApi}

import ReadMix._
import ReleaseData.{Rec, Version}

/** release_serve: the queens lifecycle on one collection.
  *
  * Set-up publishes the whole release (every table through Facade.ingest
  * from its chapter workbook and mapping template, then stage) and serves
  * it over HttpApi on loopback. Each round then:
  *  - revise: re-ingests table 1.1 from a revision workbook,
  *    stageIncremental, and reads it back through QueryService.query;
  *  - read: a closed loop of up to four clients (at most nproc) drains the
  *    round's requests over HTTP: first pages with flat, range+like and
  *    $or filters, `cols` projections and /metadata calls, then a keyset
  *    walk at limit=5000 over each of the two largest tables;
  *  - export: the revised table as a workbook and as CSV.
  * After the round, outside the timers, every output is checked against
  * the model. */
final class ReleaseServe(ctx: Ctx) extends Workload(ctx) {
  import ReleaseServe._

  private val dir = s"${ctx.work}/release_files"
  private val root = s"${ctx.work}/store"
  private var state: Map[String, Version] = _
  private var facade: Facade = _
  /** Ingest ids per table at the last check of the staged zone. */
  private var lastIds: Map[String, Set[Long]] = Map.empty
  private var api: HttpApi = _
  private var port = 0
  private val clients = math.min(4, Runtime.getRuntime.availableProcessors)

  private val latMs = new ConcurrentLinkedQueue[java.lang.Double]()
  private val ingestMs = mutable.ArrayBuffer.empty[Double]
  private val phaseS = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var rowsServed = 0L
  private var requests = 0L
  private var exportRows = 0L
  private var exportBytes = 0L
  private var publishS = 0.0

  private def note(name: String, s: Double): Unit =
    phaseS.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s

  def setup(): Unit = {
    val tables = ReleaseData.generate(ctx.seed)
    ReleaseData.writeRelease(tables, dir)
    state = tables.map(v => v.spec.name -> v).toMap
    publishS = ctx.phase("publish") {
      facade = new Facade(ctx.spark, root, ReleaseData.Collection)
      tables.groupBy(_.spec.chapter).toSeq.sortBy(_._1).foreach { case (c, vs) =>
        val wb = readWorkbook(s"$dir/chapter_$c.xlsx")
        val maps = readWorkbook(s"$dir/chapter_${c}_map.xlsx")
        vs.sortBy(_.spec.idx).foreach(v => ingest(wb, v, template(maps, v), T0))
      }
      ctx.trace.span("store.stage")(facade.stage())
    }._2
    checkStaged("published", state, None)
    api = new HttpApi(facade, ReleaseData.Collection)
    port = api.start(0)
  }

  override def close(): Unit = if (api != null) api.stop()

  /** One round, unchecked, with one request of each kind (one walk). */
  def warmUp(): Unit = round(0, check = false)

  def round(no: Int): Double = round(no, check = true)

  private def round(no: Int, check: Boolean): Double = {
    val before = state
    val rev = ReleaseData.revise(ctx.seed, no, state(ReleaseData.Revised))
    val t = rev.spec.name
    ReleaseData.writeRevision(Vector(rev), dir, no)
    val readBack = Filter(Vector(Cmp("year", "eq", ReleaseData.LastYear.toLong)), Vector.empty)

    val ((changed, afterWrite), reviseS) = ctx.phase("revise") {
      val wb = readWorkbook(s"$dir/revision_$no.xlsx")
      val maps = readWorkbook(s"$dir/chapter_${rev.spec.chapter}_map.xlsx")
      ingest(wb, rev, template(maps, rev), revisionTs(no))
      val changed = ctx.trace.span("store.stage_incremental")(facade.stageIncremental())
      // read-after-write: the revised table's last year
      val page = ctx.trace.span("serve.query")(facade.queryService.query(t, readBack.json))
      (changed, pageRows(page.data.collect(), page.data.columns.toSeq))
    }
    state = state + (t -> rev)

    val all = ReadMix.round(ctx.seed, no, state)
    val reqs = if (check) all else all.distinctBy { case p: Page => p.kind; case r => r.getClass }
    val (answers, readS) = ctx.phase("read")(serve(reqs))

    val exportDir = s"${ctx.work}/export_$no"
    val (_, exportS) = ctx.phase("export") {
      ctx.trace.span("io.export") {
        facade.exportTable(t, s"$exportDir/xlsx", "xlsx")
        facade.exportTable(t, s"$exportDir/csv", "csv")
      }
    }

    note("revise", reviseS); note("read", readS); note("export", exportS)
    if (check) {
      judge(s"round $no: stageIncremental")(_ =>
        if (changed == Seq(t)) Ok else Wrong(s"rewrote $changed"))
      judge(s"read after revision $no")(fault =>
        checkPage(expected(model(state, t, fault), readBack), afterWrite, DefaultLimit, projected = false, t))
      reqs.zip(answers).foreach { case (r, a) => verify(r, a) }
      checkStaged(s"staged after revision $no", state, Some(t))
      // an as-of snapshot just before this revision returns the earlier release
      val cutoff = new Timestamp(revisionTs(no).getTime - 1000L)
      checkTables(s"as of before revision $no", frameAggregates(facade.store.snapshot(Some(cutoff)))._1, before)
      verifyExports(exportDir, t)
      exportBytes += Stats.dirBytes(new File(exportDir))
    }
    exportRows += 2 * state(t).spec.records
    Stats.deleteTree(new File(exportDir))
    reviseS + readS + exportS
  }

  // ------------------------------------------------------------ checking

  /** One checked operation. A check that fails against the model but holds
    * against the model of the known staging fault (`fault` true: the
    * columns the first-listed table lacks read as null, see README) counts
    * the operation as failed; one that fails both ways is wrong. */
  private def judge(what: String)(check: Boolean => Verdict): Unit = {
    ctx.op()
    check(false) match {
      case Ok => ()
      case Wrong(why) => if (check(true) == Ok) ctx.fail() else ctx.check(ok = false, s"$what: $why")
    }
  }

  private def model(st: Map[String, Version], t: String, fault: Boolean): Vector[Rec] = {
    val rs = ReleaseData.records(st(t))
    if (fault) rs.map(ReleaseData.staged) else rs
  }

  /** The staged zone against the model of `st`; with `revised`, also
    * that only that table got a new ingest id since the last check. */
  private def checkStaged(what: String, st: Map[String, Version], revised: Option[String]): Unit = {
    val (got, ids) = frameAggregates(facade.store.readProd())
    val before = lastIds
    lastIds = ids
    checkTables(what, got, st, revised.map(r => (before, ids, r)))
  }

  /** Per table: record count, value sum and per-column non-null counts
    * against the model of `st`; with `ids`, also that only the revised
    * table got a new ingest id. */
  private def checkTables(what: String, got: Map[String, Agg], st: Map[String, Version],
                          ids: Option[(Map[String, Set[Long]], Map[String, Set[Long]], String)] = None): Unit = {
    val extra = got.keySet -- st.keySet
    if (extra.nonEmpty) ctx.check(ok = false, s"$what: unexpected tables $extra")
    ReleaseData.layout.map(_.name).foreach { t =>
      val idVerdict = ids.fold[Verdict](Ok) { case (before, after, revised) =>
        val (b, a) = (before.getOrElse(t, Set.empty), after.getOrElse(t, Set.empty))
        if (a.size != 1) Wrong(s"staged from ${a.size} ingests")
        else if ((a == b) == (t == revised)) Wrong(s"ingest ids $b -> $a (revised: ${t == revised})")
        else Ok
      }
      judge(s"$what: table $t")(fault => if (idVerdict != Ok) idVerdict else got.get(t) match {
        case None => Wrong("missing")
        case Some(g) => sameAgg(g, aggregate(model(st, t, fault)))
      })
    }
  }

  /** Exported files read back to the model's rows and sums. */
  private def verifyExports(exportDir: String, t: String): Unit = {
    val (n, s, _) = aggregate(model(state, t, fault = false))
    val stem = s"${ReleaseData.Collection}_${t.replace(".", "_")}_"
    def file(sub: String, ext: String): Option[File] =
      Option(new File(s"$exportDir/$sub").listFiles()).getOrElse(Array.empty[File])
        .find(f => f.getName.startsWith(stem) && f.getName.endsWith(ext))
    def rows(what: String, sheets: Seq[Vector[Vector[String]]]): Unit =
      judge(s"export $what of $t")(_ => {
        val vi = sheets.headOption.flatMap(_.headOption).map(_.indexOf("value")).getOrElse(-1)
        val data = sheets.flatMap(_.drop(1))
        val sum = data.flatMap(r => r.lift(vi).filter(_.nonEmpty).map(_.toDouble)).sum
        if (vi >= 0 && data.size == n && sameSum(sum, s)) Ok
        else Wrong(s"${data.size} rows summing to $sum, expected $n rows summing to $s")
      })
    rows("xlsx", file("xlsx", ".xlsx").toSeq.flatMap(b => XlsxFile.read(b.getPath).map(_._2)))
    rows("csv", file("csv", ".csv").toSeq.map(readCsv))
  }

  // ----------------------------------------------------------- write path

  private def readWorkbook(path: String): WorkbookReader.Workbook =
    ctx.trace.span("io.xlsx_read")(WorkbookReader.fromXlsx(path))

  private def template(maps: WorkbookReader.Workbook, v: Version): Option[DataFrame] =
    if (!v.spec.templated) None
    else Some(ctx.trace.span("io.xlsx_read")(
      WorkbookReader.read(ctx.spark, maps, sheetNames = Some(Seq(v.spec.name)))(v.spec.name)))

  private def ingest(wb: WorkbookReader.Workbook, v: Version, tpl: Option[DataFrame], ts: Timestamp): Unit = {
    val (_, s) = ctx.timed(facade.ingest(wb, config(v), tpl, ts))
    System.err.println(f"perfbench: ingest of ${v.spec.name} $s%.3f s")
    ingestMs += s * 1000
  }

  // ------------------------------------------------------------ read path

  private def url(r: Request, cursor: Option[Long]): String = {
    def enc(s: String) = URLEncoder.encode(s, UTF_8)
    val c = ReleaseData.Collection
    r match {
      case Page(_, t, f, cols) =>
        val q = Seq("table_name" -> t, "filters" -> f.json) ++ cols.map("cols" -> _.mkString(","))
        s"/data/$c?" + q.map { case (k, v) => k + "=" + enc(v) }.mkString("&")
      case Meta(t) => s"/metadata/$c?table_name=${enc(t)}"
      case Walk(t) => s"/data/$c?table_name=${enc(t)}&limit=$WalkLimit" + cursor.fold("")(x => s"&cursor=$x")
    }
  }

  /** The walk's next cursor, read by the client without parsing the page. */
  private val NextCursor = "\"next_cursor\": (\\d+|null)".r

  /** Send one request (a walk is several), recording each round trip. */
  private def send(http: HttpClient, r: Request,
                   sink: ConcurrentLinkedQueue[java.lang.Double] = latMs): Vector[(Int, String)] = {
    def get(path: String): (Int, String) = {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build()
      val t0 = System.nanoTime()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString(UTF_8))
      sink.add((System.nanoTime() - t0) / 1e6)
      (resp.statusCode(), resp.body())
    }
    r match {
      case w: Walk =>
        val out = Vector.newBuilder[(Int, String)]
        var cursor: Option[Long] = None
        var more = true
        while (more) {
          val (code, body) = get(url(w, cursor))
          out += ((code, body))
          cursor = NextCursor.findFirstMatchIn(body).map(_.group(1)).filter(_ != "null").map(_.toLong)
          more = code == 200 && cursor.isDefined
        }
        out.result()
      case other => Vector(get(url(other, None)))
    }
  }

  /** The closed loop: `clients` threads drain the request list. */
  private def serve(reqs: Vector[Request]): Vector[Vector[(Int, String)]] = {
    val queue = new ConcurrentLinkedQueue[(Request, Int)](reqs.zipWithIndex.asJava)
    val answers = new ConcurrentHashMap[Int, Vector[(Int, String)]]()
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() => {
        val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
        var next = queue.poll()
        while (next != null) {
          answers.put(next._2, send(http, next._1))
          next = queue.poll()
        }
      })
      t.start()
      t
    }
    threads.foreach(_.join())
    reqs.indices.map(i => answers.getOrDefault(i, Vector.empty)).toVector
  }

  /** A data response's records and next cursor. */
  private def records(body: String): (Vector[Row], Option[Long]) = {
    val m = Json.plain(Json.read(body)).asInstanceOf[Map[String, Any]]
    (m("data").asInstanceOf[Vector[Any]].map(_.asInstanceOf[Row]),
      Option(m.getOrElse("next_cursor", null)).map(_.asInstanceOf[Long]))
  }

  private def verify(r: Request, answers: Vector[(Int, String)]): Unit = {
    requests += answers.size
    if (answers.isEmpty || answers.exists(_._1 != 200)) {
      judge(s"${r.table}")(_ => Wrong(s"HTTP ${answers.map(_._1).mkString(",")} for $r"))
      return
    }
    r match {
      case Page(kind, t, f, cols) =>
        val (rows, next) = records(answers.head._2)
        rowsServed += rows.size
        judge(s"$kind page of $t")(fault =>
          checkPage(expected(model(state, t, fault), f), rows, DefaultLimit, cols.isDefined, t) match {
            case Ok if next.isDefined != (rows.size == DefaultLimit) => Wrong(s"next_cursor $next")
            case v => v
          })
      case Meta(t) =>
        val got = records(answers.head._2)._1
          .map(m => m("column_name").toString -> ((m("n_non_nulls"), m("n_unique")))).toMap
        judge(s"metadata of $t")(fault => metadata(model(state, t, fault)).collectFirst {
          case (c, (nn, nu)) if !(got.get(c).contains((nn, nu)) || (nn == 0 && !got.contains(c))) =>
            Wrong(s"$c: ${got.get(c)}, expected ($nn, $nu)")
        }.getOrElse(Ok))
      case Walk(t) => verifyWalk(t, answers.map(a => records(a._2)))
    }
  }

  /** A keyset walk must return the table's records exactly once, in
    * order; each page is one checked operation. A page that instead equals
    * the records after the cursor's row, having skipped the rest of the
    * previous page's last row_uid group, shows the known fault of a
    * row_uid shared by several records (see README): counted as failed. */
  private def verifyWalk(t: String, pages: Vector[(Vector[Row], Option[Long])]): Unit = {
    val seen = mutable.Set.empty[(Long, Long)]
    var cursorRow: Option[Long] = None
    pages.foreach { case (rows, next) =>
      rowsServed += rows.size
      def page(fault: Boolean, skipped: Boolean): Verdict = {
        val all = expected(model(state, t, fault), Filter(Vector.empty, Vector.empty))
        val left =
          if (skipped) all.filter(r => cursorRow.forall(c => r.row > c))
          else all.filterNot(r => seen((r.row.toLong, r.year.toLong)))
        checkPage(left, rows, WalkLimit, projected = false, t)
      }
      ctx.op()
      page(fault = false, skipped = false) match {
        case Ok => ()
        case Wrong(why) =>
          if (Seq((true, false), (false, true), (true, true)).exists { case (f, s) => page(f, s) == Ok }) ctx.fail()
          else ctx.check(ok = false, s"walk of $t: $why")
      }
      rows.foreach(m => seen += ((m("row").asInstanceOf[Long], m("year").asInstanceOf[Long])))
      cursorRow = next.map(_ & 0xFFFFFFFFL)
    }
  }

  // ------------------------------------------------------------- metrics

  private def lat: Seq[Double] = latMs.asScala.map(_.doubleValue).toSeq

  def endToEnd(rounds: Seq[Double]): Map[String, (Double, String)] = Map(
    "round_s" -> (Stats.median(rounds), "s"),
    "op_p50_ms" -> (Stats.median(lat), "ms"),
    "items_per_s" -> (rowsServed / phaseS("read").sum, "1/s"))

  /** Traced only, after the measured rounds: single layers timed alone.
    * The serving layers one request at a time on the driver
    * (Store.readProd, FilterDsl.compileJson, QueryService.query without
    * HTTP, then the same request over HTTP); the write path's layers
    * (Transform, Validate, Store.ingest) on every table of the release,
    * into a scratch store of their own. */
  private var direct: Map[String, Double] = Map.empty

  override def traceLayers(no: Int): Unit = {
    val pages = ReadMix.round(ctx.seed, no, state).collect { case p: Page => p }
    val qs = facade.queryService
    val store = facade.store
    val sample = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def add(k: String, v: Double): Unit = sample.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    var rowsOut = 0L
    ctx.phase("read_direct") {
      pages.foreach { p =>
        val (prod, readS) = ctx.timed(store.readProd())
        add("store.read_prod_ms", readS * 1000)
        val queryable = store.queryableColumns(p.table)
        val (_, compileS) = ctx.timed(FilterDsl.compileJson(p.filter.json, prod.schema, Some(queryable)))
        add("dsl.compile_us", compileS * 1e6)
        val (rows, queryS) = ctx.timed(
          qs.query(p.table, p.filter.json, DefaultLimit, None, p.cols).data.collect())
        rowsOut += rows.length
        add("serve.query_ms", queryS * 1000)
      }
    }
    val counters = ctx.listener.map(_.snapshot("read_direct")).getOrElse(Vector.empty)
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val httpSink = new ConcurrentLinkedQueue[java.lang.Double]()
    pages.foreach(p => send(http, p, httpSink))

    val scratch = new Facade(ctx.spark, s"${ctx.work}/layer_store", ReleaseData.Collection)
    state.values.toVector.sortBy(_.spec.idx).groupBy(_.spec.chapter).toSeq.sortBy(_._1).foreach { case (c, vs) =>
      val wb = WorkbookReader.fromXlsx(s"$dir/chapter_$c.xlsx")
      val maps = WorkbookReader.fromXlsx(s"$dir/chapter_${c}_map.xlsx")
      vs.foreach { v =>
        val cfg = config(v)
        val frame = ctx.trace.span("etl.transform")(
          Transform.processSheetToFrame(ctx.spark, wb, cfg, template(maps, v)))
        val validated = ctx.trace.span("etl.validate")(Validate.validateSchema(frame, cfg.table))
        ctx.trace.span("store.ingest")(scratch.store.ingest(validated, cfg.table, ingestTs = T0))
      }
    }

    def field(f: String): Double = counters.lift(PhaseListener.Fields.indexOf(f)).getOrElse(0L).toDouble
    val n = math.max(1, pages.size).toDouble
    direct = sample.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap ++ Map(
      "serve.http_ms" -> (Stats.median(httpSink.asScala.map(_.doubleValue).toSeq) -
        Stats.median(sample("serve.query_ms").toSeq)),
      "serve.jobs_per_request" -> field("jobs") / n,
      "serve.listing_jobs_per_request" -> field("listing_jobs") / n,
      "serve.rows_read_per_row_served" -> field("input_records") / math.max(1L, rowsOut))
  }

  def perLayer(): Map[String, Double] = {
    val t = ctx.trace
    def perCall(n: String): Double = t.spanMs(n) / math.max(1L, t.spanCount(n))
    val rows = state.values.map(_.spec.records.toLong).sum
    val rounds = phaseS("read").size.toDouble
    Map(
      "phase.publish_s" -> publishS,
      "phase.revise_s" -> Stats.median(phaseS("revise").toSeq),
      "phase.export_s" -> Stats.median(phaseS("export").toSeq),
      "phase.export_rows_per_s" -> exportRows / phaseS("export").sum,
      "phase.read_p50_ms" -> Stats.median(lat),
      "phase.read_p95_ms" -> Stats.quantile(lat, 0.95),
      "phase.read_rps" -> requests / phaseS("read").sum,
      "phase.rows_served_per_s" -> rowsServed / phaseS("read").sum,
      "phase.ingest_p50_ms" -> Stats.median(ingestMs.toSeq),
      "io.xlsx_read_ms" -> perCall("io.xlsx_read"),
      "io.export_ms" -> perCall("io.export"),
      "io.export_bytes" -> exportBytes / rounds,
      "etl.transform_ms" -> perCall("etl.transform"),
      "etl.validate_ms" -> perCall("etl.validate"),
      "store.ingest_ms" -> perCall("store.ingest"),
      "store.stage_ms" -> perCall("store.stage"),
      "store.stage_incremental_ms" -> perCall("store.stage_incremental"),
      "store.raw_files" -> Stats.partFiles(new File(facade.store.rawPath)).toDouble,
      "store.prod_files" -> Stats.partFiles(new File(facade.store.prodPath)).toDouble,
      "store.bytes_per_row" -> Stats.dirBytes(new File(root)).toDouble / rows) ++ direct
  }

  def resetSamples(): Unit = {
    latMs.clear(); ingestMs.clear(); phaseS.clear()
    rowsServed = 0L; requests = 0L; exportRows = 0L; exportBytes = 0L
  }
}

object ReleaseServe {
  type Agg = (Long, Double, Map[String, Long])

  val T0: Timestamp = Timestamp.valueOf("2025-07-31 09:30:00")
  /** Revision round r is published r+1 days after the release. */
  def revisionTs(r: Int): Timestamp = new Timestamp(T0.getTime + (r + 1) * 86400000L)

  def config(v: Version): TableConfig = {
    val s = v.spec
    TableConfig(s.name, Config.SingleSheet, sheetName = Some(s.name),
      idVarName = if (s.templated) None else Some("fuel"),
      unit = if (s.templated) None else Some(ReleaseData.ManualUnit),
      url = Some(s"https://example.org/dukes/chapter_${s.chapter}.xlsx"),
      description = Some(s"DUKES table ${s.name}"))
  }

  private val CountedCols = Seq("row", "year", "label", "unit", "fuel", "sector", "region", "value")

  /** Model (records, value sum, per-column non-null counts) of one table. */
  def aggregate(recs: Vector[Rec]): Agg =
    (recs.size.toLong, recs.flatMap(_.value).sum, ReadMix.metadata(recs).map { case (c, (nn, _)) => c -> nn })

  def sameAgg(got: Agg, want: Agg): Verdict =
    if (got._1 != want._1) Wrong(s"${got._1} records, expected ${want._1}")
    else if (!sameSum(got._2, want._2)) Wrong(s"value sum ${got._2}, expected ${want._2}")
    else if (got._3 != want._3) Wrong(s"non-null counts ${got._3}, expected ${want._3}")
    else Ok

  /** The same aggregates computed by Spark over a staged or snapshot
    * frame, and each table's ingest ids, in one pass. */
  def frameAggregates(df: DataFrame): (Map[String, Agg], Map[String, Set[Long]]) = {
    val present = CountedCols.filter(df.columns.contains)
    val aggs = Seq(count(lit(1)), coalesce(sum(col("value")), lit(0.0)), collect_set(col("ingest_id"))) ++
      present.map(c => count(col(c)))
    val rows = df.groupBy(col("table_name")).agg(aggs.head, aggs.tail: _*).collect()
    (rows.map { r =>
      r.getString(0) -> (r.getLong(1), r.getDouble(2),
        CountedCols.map(c => c -> (if (present.contains(c)) r.getLong(4 + present.indexOf(c)) else 0L)).toMap)
    }.toMap, rows.map(r => r.getString(0) -> r.getSeq[Long](3).toSet).toMap)
  }

  def sameSum(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** A collected query page as JSON-like rows (ints widened to Long). */
  def pageRows(rows: Array[org.apache.spark.sql.Row], names: Seq[String]): Vector[ReadMix.Row] =
    rows.toVector.map(r => names.indices.map { i =>
      names(i) -> (if (r.isNullAt(i)) null else r.get(i) match {
        case k: Int => k.toLong
        case other => other
      })
    }.toMap)

  /** An exported CSV file as rows of strings (empty for null). */
  def readCsv(f: File): Vector[Vector[String]] = {
    val settings = new CsvParserSettings()
    settings.setMaxCharsPerColumn(-1)
    new CsvParser(settings).parseAll(f, "UTF-8").asScala.toVector
      .map(_.toVector.map(c => if (c == null) "" else c))
  }
}
