package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.Row

import graft.dsl.FilterDsl

/** REST serving layer — the reference's `GET /data/{collection}` endpoint
  * (app.py:42-185) over the JDK's built-in HTTP server (zero-dependency,
  * driver-embedded; a production deployment would sit the same handler
  * behind a real server).
  *
  * Contract (mirroring the reference):
  *   GET /data/{collection}?table_name=T&filters={json}&limit=N&cursor=C
  *     -> {"data": [...records...], "next_cursor": N|null,
  *         "table_name": T}
  *   errors: 404 unknown collection/table, 400 malformed filter JSON,
  *   422 invalid filters (unknown column/op/cast), 500 engine errors.
  */
final class HttpApi(facade: Facade, collection: String) {

  private var server: HttpServer = _
  private var pool: ExecutorService = _
  private val workers = new ConcurrentLinkedQueue[Thread]()

  /** Serve on `port` (0 = any free one) from a fixed pool of one worker
    * per core; returns the bound port. Requests read the facade's staged
    * view, so concurrent ones share one resolution. */
  def start(port: Int = 0): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/data/", handle _)
    server.createContext("/metadata/", handleMetadata _)
    val bound = server.getAddress.getPort
    val n = new AtomicInteger()
    pool = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors, r => {
      // no inherited thread locals: the creating thread's Spark job group
      // and local properties must not tag every request's jobs
      val t = new Thread(null, r, s"HttpApi-$bound-worker-${n.incrementAndGet()}", 0, false)
      t.setDaemon(true)
      workers.add(t)
      t
    })
    server.setExecutor(pool)
    server.start()
    bound
  }

  /** GET /metadata/{collection}?table_name=T — per-column metadata for a
    * staged table (reference app.py:189-222). table_name optional here
    * (omitting it returns every table's columns). */
  private def handleMetadata(ex: HttpExchange): Unit = {
    try {
      val path = ex.getRequestURI.getPath.stripPrefix("/metadata/")
      if (path != collection) { respond(ex, 404, err(s"unknown collection '$path'")); return }
      val params = parseQuery(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
      val meta =
        try facade.metadata(params.get("table_name"))
        catch { case e: IllegalArgumentException =>
          respond(ex, 404, err(e.getMessage)); return }
      val rows = meta.collect()
      if (rows.isEmpty && params.contains("table_name")) {
        respond(ex, 404, err(s"unknown table '${params("table_name")}'")); return
      }
      val records = rows.map(rowToJson(meta.schema.fieldNames.toIndexedSeq, _))
      respond(ex, 200, s"""{"data": [${records.mkString(",")}]}""")
    } catch {
      case e: Throwable => respond(ex, 500, err(s"internal error: ${e.getMessage}"))
    }
  }

  /** Stop accepting, let in-flight requests finish, and join every
    * worker thread. */
  def stop(): Unit = if (server != null) {
    server.stop(0)
    pool.shutdown()
    workers.forEach(_.join())
  }

  private def handle(ex: HttpExchange): Unit = {
    try {
      val path = ex.getRequestURI.getPath.stripPrefix("/data/")
      if (path != collection) { respond(ex, 404, err(s"unknown collection '$path'")); return }
      val params = parseQuery(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
      val table = params.get("table_name") match {
        case Some(t) => t
        case None => respond(ex, 422, err("table_name is required")); return
      }
      val filters = params.getOrElse("filters", "{}")
      val (limit, cursor) =
        try (
          params.get("limit").map(_.toInt).getOrElse(facade.queryService.DefaultLimit),
          params.get("cursor").map(_.toLong))
        catch { case _: NumberFormatException =>
          respond(ex, 422, err("limit and cursor must be integers")); return
        }
      val cols = params.get("cols").map(_.split(",").map(_.trim).toSeq)

      // malformed JSON -> 400 (app.py:92-97); semantic errors -> 422
      try graft.dsl.Json.parse(filters)
      catch { case e: Exception => respond(ex, 400, err(s"malformed filters JSON: ${e.getMessage}")); return }

      val page =
        try facade.queryService.query(table, filters, limit, cursor, cols)
        catch {
          case e: FilterDsl.DslException => respond(ex, 422, err(e.getMessage)); return
          case e: IllegalArgumentException if e.getMessage != null &&
              e.getMessage.contains("not staged") =>
            respond(ex, 404, err(e.getMessage)); return
          case e: IllegalArgumentException if e.getMessage != null &&
              e.getMessage.contains("unknown column") =>
            respond(ex, 422, err(e.getMessage)); return
        }
      val records = page.data.collect()
        .map(rowToJson(page.data.schema.fieldNames.toIndexedSeq, _))
      val cursorJson = page.nextCursor.map(_.toString).getOrElse("null")
      // the reference plucks it from the first data row (app.py:171)
      val desc = jstr(facade.queryService.view.descriptions.getOrElse(table, ""))
      respond(ex, 200,
        s"""{"table_name": ${jstr(table)}, "table_description": $desc, "next_cursor": $cursorJson, "data": [${records.mkString(",")}]}""")
    } catch {
      case e: Throwable => respond(ex, 500, err(s"internal error: ${e.getMessage}"))
    }
  }

  // ------------------------------------------------------------- plumbing

  private def parseQuery(q: String): Map[String, String] =
    q.split("&").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> java.net.URLDecoder.decode(v, UTF_8)
    }.toMap

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def rowToJson(names: Seq[String], r: Row): String =
    names.zipWithIndex.map { case (n, i) =>
      val v =
        if (r.isNullAt(i)) "null"
        else r.get(i) match {
          case s: String => jstr(s)
          case t: java.sql.Timestamp => jstr(t.toString)
          case d: java.sql.Date => jstr(d.toString)
          case other => other.toString
        }
      s"${jstr(n)}: $v"
    }.mkString("{", ",", "}")

  private def err(msg: String): String = s"""{"error": ${jstr(msg)}}"""

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}
