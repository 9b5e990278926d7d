package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession

import graft.etl.Config
import graft.etl.Config.TableConfig
import graft.io.WorkbookReader.Workbook
import graft.serve.Facade

/** Executable walkthrough of the full engine lifecycle through the public
  * facade: workbook -> transform -> validate -> versioned ingest -> stage
  * -> filter-DSL query -> export -> info. Run with no args. */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val root = Files.createTempDirectory("graft_demo_").toString
    val facade = new Facade(spark, root, "dukes")

    // a published-style sheet: title row, header, data with a note tag and
    // a suppression symbol
    val sheet = Vector(
      Vector("Table 1.1 Aggregate energy balances", "", ""),
      Vector("ROWHDR", "2019", "2020"),
      Vector("Coal [note 1]", "101", "99"),
      Vector("Natural gas", "840", ".."),
      Vector("Primary electricity", "75", "81"))
    val template = Seq(
      (0, "Coal", "ktoe", "Coal"),
      (1, "Natural gas", "ktoe", "Gas"),
      (2, "Primary electricity", "ktoe", "Electricity"))
      .toDF("row", "label", "unit", "fuel")
    val cfg = TableConfig("1.1", Config.SingleSheet, sheetName = Some("1.1"),
      url = Some("https://example.gov/dukes_1.1.xlsx"),
      description = Some("Aggregate energy balances"))

    val id1 = facade.ingest(Workbook(Vector("1.1" -> sheet)), cfg,
      Some(template), ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    println(s"ingested v1 as ingest_id=$id1")
    facade.stage()
    println("staged snapshot (latest successful version per table)")

    // re-publish (revision) — incremental stage rewrites ONLY this
    // table's partition
    val id2 = facade.ingest(Workbook(Vector("1.1" -> sheet)), cfg,
      Some(template), ingestTs = Timestamp.valueOf("2026-02-01 00:00:00"))
    println(s"ingested v2 as ingest_id=$id2")
    val changed = facade.store.stageIncremental()
    println(s"incremental stage rewrote partitions: ${changed.mkString(", ")}")
    println(s"second incremental stage (no changes): " +
      s"${facade.store.stageIncremental().mkString(", ")} (nothing)")

    val page = facade.query("1.1",
      """{"year": {"gte": 2020}, "fuel": {"like": "%gas%"}}""")
    println(s"query result (${page.data.count()} rows):")
    page.data.show(truncate = false)

    val out = Files.createTempDirectory("graft_demo_export_").toString
    val csv = facade.exportTable("1.1", out, "csv")
    println(s"exported: $csv")
    println(scala.io.Source.fromFile(csv).getLines().mkString("\n"))

    println("info report:")
    facade.info().show(truncate = false)

    spark.stop()
  }
}
