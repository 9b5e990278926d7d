package graft.serve

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.dsl.FilterDsl
import graft.model.CanonicalSchema
import graft.store.Store
import graft.store.Store.StagedView

/** Serving layer: the reference's query lifecycle (SURVEY.md §3.1/§3.2)
  * re-expressed over a partition-pruned parquet PROD zone.
  *
  * Per request: parse/normalize the JSON filter DSL, validate + cast
  * against the schema and per-table queryable columns, compile to a Column
  * predicate, force the mandatory `table_name` partition predicate, apply
  * keyset pagination on `row_uid`, and drop service + all-null columns
  * from the returned page (reference: facade.py:112-164, app.py:42-185).
  *
  * Every request reads one [[StagedView]], resolved once per staged
  * version: the PROD relation with its file listing and schema, the
  * metadata rows and the queryable columns. A warm request therefore runs
  * exactly one Spark job, the page (the reference re-reads `_metadata`
  * from SQLite per request — SURVEY.md §4 flags this as the thing to fix).
  */
final class QueryService(spark: SparkSession, store: Store) {

  val DefaultLimit = 1000   // reference: app.py:18
  val MaxLimit = 5000       // reference: app.py:19

  @volatile private var current: StagedView = _

  /** The view of the staged version. A cached view is served while the
    * stage marker's fingerprint still matches it — a driver-side check
    * with no Spark job — so a re-stage by another Store or process shows
    * on the next request. Resolution is serialized: concurrent first
    * requests resolve once. */
  def view: StagedView = {
    val seen = current
    if (seen != null && seen.fingerprint == store.stageFingerprint()) seen
    else synchronized {
      val now = current
      if (now != null && now.fingerprint == store.stageFingerprint()) now
      else { val fresh = store.resolveStaged(); current = fresh; fresh }
    }
  }

  /** Drop the view; the next request resolves the staged version again. */
  def refresh(): Unit = current = null

  import QueryService.Page

  def query(tableName: String, filtersJson: String = "{}",
            limit: Int = DefaultLimit, cursor: Option[Long] = None,
            cols: Option[Seq[String]] = None): Page = {
    val v = view
    try page(v, tableName, filtersJson, limit, cursor, cols)
    catch {
      // the view's listing went stale (PROD files replaced before the
      // marker swap): resolve again, once, and retry
      case e: Exception if QueryService.missingFile(e) =>
        synchronized { if (current eq v) current = null }
        page(view, tableName, filtersJson, limit, cursor, cols)
    }
  }

  private def page(v: StagedView, tableName: String, filtersJson: String,
                   limit: Int, cursor: Option[Long],
                   cols: Option[Seq[String]]): Page = {
    val queryable = v.queryable.getOrElse(tableName,
      throw new IllegalArgumentException(s"table '$tableName' is not staged"))
    val snapshot = v.prod
    val pred = FilterDsl.compileJson(filtersJson, snapshot.schema, Some(queryable))
    val clamped = math.min(math.max(limit, 1), MaxLimit)

    // optional column projection (reference: generate_select_sql cols,
    // utils.py:244) — validated against the schema; filters may still
    // reference unprojected columns (WHERE over the full row, SELECT of
    // the subset), so the predicate applies before the select; Catalyst
    // prunes the scan to the union of filter + projected columns
    cols.foreach(_.foreach(c => require(snapshot.columns.contains(c),
      s"unknown column '$c'")))

    // mandatory partition predicate (reference: facade.py:138) — prunes the
    // table_name partition directories before the filter even runs
    val filtered = snapshot
      .where(col("table_name") === tableName)
      .where(pred)
    val base = cols.fold(filtered)(cs =>
      filtered.select((cs ++ Seq("row_uid", "table_name")).distinct.map(col): _*))
    val page = graft.ops.Windows.keysetPage(base, "row_uid", cursor, clamped)

    // page shaping happens on the collected page (<= 5000 rows), exactly
    // like the reference shapes the page, not the table (app.py:164-185)
    val rows = page.collect()
    val nextCursor =
      if (rows.length < clamped) None
      else Some(rows.last.getAs[Long]("row_uid"))

    val collected = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), page.schema)
    val service = CanonicalSchema.serviceColumns ++ Seq("ingest_ts")
    val kept = collected.drop(service: _*)
    // drop all-null columns over the page (reference: app.py:180)
    val nonNullCounts = rows.headOption.map { _ =>
      kept.columns.filter { c =>
        rows.exists(r => { val i = page.schema.fieldIndex(c); !r.isNullAt(i) })
      }
    }.getOrElse(kept.columns)
    Page(kept.select(nonNullCounts.map(col).toIndexedSeq: _*), nextCursor)
  }
}

object QueryService {
  /** One page of results + the keyset cursor for the next page. */
  final case class Page(data: org.apache.spark.sql.DataFrame,
                        nextCursor: Option[Long])

  /** A read failed because a listed file is gone. */
  private def missingFile(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.io.FileNotFoundException])
}
