package graft.serve

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.etl.Config
import graft.etl.Config.TableConfig
import graft.io.WorkbookReader.Workbook

/** Full lifecycle through the facade: workbook -> transform -> validate ->
  * ingest -> stage -> query -> export -> info (the reference's CLI verbs). */
class FacadeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sheet = Vector(
    Vector("Table 1.1", "", ""),
    Vector("ROWHDR", "2019", "2020"),
    Vector("Coal", "1", "2"),
    Vector("Gas", "3", ".."))

  private val template = Seq(
    (0, "Coal production", "ktoe", "Coal"), (1, "Gas production", "ktoe", "Gas"))
    .toDF("row", "label", "unit", "fuel")

  private lazy val facade = {
    val f = new Facade(spark,
      Files.createTempDirectory("graft_facade_").toString, "dukes")
    val cfg = TableConfig("1.1", Config.SingleSheet, sheetName = Some("1.1"),
      url = Some("https://example/dukes_1.1.xlsx"), description = Some("Balances"))
    f.ingest(Workbook(Vector("1.1" -> sheet)), cfg, Some(template),
      ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    f.stage()
    f
  }

  test("ingest -> stage -> query round trip with the filter DSL") {
    val page = facade.query("1.1", """{"fuel": "gas", "year": {"gte": 2019}}""")
    val rows = page.data.collect()
    assert(rows.length == 2)
    // suppression symbol ".." became a null value via coercion
    val values = page.data.select("value").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSet
    assert(values == Set(Some(3.0), None))
  }

  test("export produces the shaped single csv") {
    val out = Files.createTempDirectory("graft_facade_exp_").toString
    val path = facade.exportTable("1.1", out, "csv")
    val lines = scala.io.Source.fromFile(path).getLines().toSeq
    assert(lines.length == 5)
    assert(lines.head.split(",").contains("fuel"))
    assert(!lines.head.split(",").contains("ingest_id"))
  }

  test("info report joins provenance with year range and row counts") {
    val info = facade.info().collect()
    assert(info.length == 1)
    val r = info.head
    assert(r.getAs[String]("table_name") == "1.1")
    assert(r.getAs[Int]("min_year") == 2019 && r.getAs[Int]("max_year") == 2020)
    assert(r.getAs[Long]("n_rows") == 4)
    assert(r.getAs[String]("url").contains("dukes_1.1"))
  }

  test("metadata overview cross-tab marks populated columns") {
    val ov = facade.metadataOverview().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ov("fuel") == "X" && ov("value") == "X")
  }

  test("info and metadata overview refuse an unstaged collection") {
    val fresh = new Facade(spark,
      Files.createTempDirectory("graft_facade_unstaged_").toString, "dukes")
    for (verb <- Seq(() => fresh.info(), () => fresh.metadataOverview())) {
      val e = intercept[IllegalArgumentException](verb())
      assert(e.getMessage.contains("is not staged"))
    }
  }

  test("versions lists distinct successful ingest timestamps, newest first") {
    val cfg = TableConfig("1.1", Config.SingleSheet, sheetName = Some("1.1"),
      url = Some("https://example/dukes_1.1.xlsx"), description = Some("Balances v2"))
    facade.ingest(Workbook(Vector("1.1" -> sheet)), cfg, Some(template),
      ingestTs = Timestamp.valueOf("2026-03-01 00:00:00"))
    val vs = facade.versions(Some("1.1")).collect()
      .map(r => r.getTimestamp(1).toString)
    assert(vs.toSeq == Seq("2026-03-01 00:00:00.0", "2026-01-01 00:00:00.0"))
    assert(facade.versions(Some("9.9")).count() == 0)
    assert(facade.versions(None).count() == 2)
    // a sibling collection in the same root must not leak into the list
    val other = new graft.store.Store(spark,
      facade.store.rawPath.stripSuffix("/dukes_raw"), "other")
    other.ingest(Seq((0, "z")).toDF("row", "label"), "1.1",
      ingestTs = Timestamp.valueOf("2026-04-01 00:00:00"))
    assert(facade.versions(Some("1.1")).count() == 2)
  }

  test("metadata verb returns per-table queryable columns") {
    val m = facade.metadata(Some("1.1"))
    val cols = m.select("column_name").collect().map(_.getString(0)).toSet
    assert(cols.contains("fuel") && cols.contains("value"))
    assert(facade.metadata(None).count() >= m.count())
  }
}
