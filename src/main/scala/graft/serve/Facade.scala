package graft.serve

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Config, Transform, Validate}
import graft.etl.Config.TableConfig
import graft.io.{Export, WorkbookReader}
import graft.io.WorkbookReader.Workbook
import graft.store.Store

/** The user-facing library facade — the reference's Python facade + CLI
  * verbs (facade.py, cli.py) as one object: ingest, stage, query, export,
  * info. A long-lived SparkSession + Store pair backs every verb.
  */
final class Facade(spark: SparkSession, root: String, collection: String) {

  val store = new Store(spark, root, collection)
  store.initialize()
  lazy val queryService = new QueryService(spark, store)

  /** Ingest one logical table from a workbook through transform ->
    * validate -> RAW append (the §3.3 write path). Returns the ingest id. */
  def ingest(wb: Workbook, cfg: TableConfig,
             template: Option[DataFrame] = None,
             ingestTs: Timestamp = new Timestamp(System.currentTimeMillis())): Long = {
    val frame = cfg.kind match {
      case Config.MultiSheet =>
        Transform.processMultiSheetsToFrame(spark, wb, cfg, template)
      case Config.Custom(name) =>
        val flow = Transform.customFlows.getOrElse(name,
          throw new IllegalArgumentException(s"unknown custom transform '$name'"))
        flow(spark, wb, cfg, template)
      case Config.SingleSheet =>
        Transform.processSheetToFrame(spark, wb, cfg, template)
    }
    val validated = Validate.validateSchema(frame, cfg.table,
      schemaFor(frame, cfg.table))
    val id = store.ingest(validated, cfg.table,
      url = cfg.url.getOrElse(""),
      description = cfg.description.getOrElse(""), ingestTs = ingestTs)
    queryService.refresh() // the view carries the table descriptions
    id
  }

  /** The canonical schema restricted to the columns this frame produced
    * (the wide schema is sparse; validation enforces dtypes/nullability on
    * the populated subset and rejects columns outside the declared set). */
  private def schemaFor(frame: DataFrame, table: String) = {
    import org.apache.spark.sql.types._
    val canonical = graft.model.CanonicalSchema.struct
    val cols = ("table_name" +: frame.columns.toIndexedSeq).distinct
    StructType(cols.map { c =>
      canonical.fields.find(_.name == c)
        .getOrElse(StructField(c, StringType, nullable = true))
    })
  }

  /** Snapshot RAW -> PROD as of an optional cutoff; rebuilds metadata and
    * drops the serving view (a stage by another Store shows through the
    * view's stage-marker check instead). */
  def stage(cutoff: Option[Timestamp] = None): Unit = {
    store.stage(cutoff)
    queryService.refresh()
  }

  /** Incremental re-stage: rewrites only tables whose winning ingest
    * changed (beyond reference parity — the reference rebuilds PROD
    * wholesale) and removes tables with no winner under the cutoff. The
    * serving view is invalidated only when something actually changed.
    * Returns the rewritten and removed table names. */
  def stageIncremental(cutoff: Option[Timestamp] = None): Seq[String] = {
    val changed = store.stageIncremental(cutoff)
    if (changed.nonEmpty) queryService.refresh()
    changed
  }

  /** Ingested-versions list (reference: facade.versions ->
    * get_data_versions, etl/process.py:337-392): distinct successful
    * (table_name, ingest_ts), newest first per table, optionally filtered
    * by table. */
  def versions(table: Option[String] = None): DataFrame = {
    // scope to THIS collection: the log file is shared by every
    // collection under the root (same filter every other log reader uses)
    val log = store.readLog()
      .filter(col("success") === 1 && col("data_collection") === collection)
    val scoped = table.fold(log)(t => log.filter(col("table_name") === t))
    scoped.select(col("table_name"), col("ingest_ts")).distinct()
      .orderBy(col("table_name").asc, col("ingest_ts").desc)
  }

  /** Per-table column metadata for staged data (reference: facade.metadata,
    * facade.py:88-110): queryable columns + inferred dtypes/stats. With no
    * table, the whole metadata frame (the CLI's --meta over all tables).
    * Served from the staged view, sorted by table then column: a
    * driver-local frame whose collect runs no Spark job. */
  def metadata(table: Option[String] = None): DataFrame =
    queryService.view.metadata(table)

  /** Query PROD with the JSON filter DSL (the §3.1 read path). */
  def query(table: String, filtersJson: String = "{}",
            limit: Int = queryService.DefaultLimit,
            cursor: Option[Long] = None): QueryService.Page =
    queryService.query(table, filtersJson, limit, cursor)

  /** Export one table or the whole collection, read through the serving
    * view: no listing or schema job per call. */
  def exportTable(table: String, outDir: String, format: String = "csv"): String =
    queryService.withView(v => Export.exportTable(v.prod, collection, table, outDir, format))
  def exportAll(outDir: String, format: String = "csv"): Seq[String] =
    queryService.withView(v => Export.exportAll(v.prod, collection, outDir, format))

  /** Info report: per staged table, ingest provenance + year range + row
    * count (reference: process.py:318-390, the A3 aggregate). Read
    * through the serving view. */
  def info(): DataFrame = {
    val perTable = queryService.view.prod.groupBy(col("table_name")).agg(
      min(col("year")).as("min_year"), max(col("year")).as("max_year"),
      count(lit(1)).as("n_rows"),
      max(col("ingest_id")).as("ingest_id"))
    val log = store.readLog().select(col("ingest_id"), col("ingest_ts"),
      col("url"), col("table_description"))
    perTable.join(broadcast(log), Seq("ingest_id"), "left")
      .orderBy(col("table_name"))
  }

  /** Metadata cross-tab: column -> table "X" marks (reference:
    * process.py:262-271, the A4 pivot). Read through the serving view. */
  def metadataOverview(): DataFrame = {
    val meta = queryService.view.metadata(None).where(col("n_non_nulls") > 0)
    val tables = meta.select("table_name").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    graft.ops.Reshape.pivotWide(meta, Seq("column_name"), "table_name",
      tables, first(lit("X")))
  }
}
