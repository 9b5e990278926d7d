package graft.store

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Versioning / staging semantics (reference: read_write.py:267-404,
  * FIXTURES.md §7). */
class StoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshStore(): Store = {
    val root = Files.createTempDirectory("graft_store_spec_").toString
    val st = new Store(spark, root, "t")
    st.initialize()
    st
  }

  private def frame(version: Int) =
    Seq((0, "a", version), (1, "b", version)).toDF("row", "label", "version")

  test("compactZone folds per-ingest RAW files, versioning and staging intact") {
    val st = freshStore()
    // each ingest appends its own file set -> the small-files pathology
    for (v <- 1 to 5) st.ingest(frame(v), "1.1", url = s"u$v")
    st.ingest(frame(9), "2.2", url = "u9")
    val before = st.snapshot().orderBy("table_name", "row")
      .collect().map(_.toString).toSeq
    val stats = st.compactZone("raw", targetBytes = 256L << 20)
    assert(stats.filesAfter < stats.filesBefore,
      s"expected fewer files: $stats")
    // partition layout survives (table_name stays a STRING dir)
    val rawDirs = new java.io.File(st.rawPath).listFiles
      .filter(_.isDirectory).map(_.getName).sorted
    assert(rawDirs.toSeq == Seq("table_name=1.1", "table_name=2.2"))
    // versioning semantics identical after the rewrite
    val after = st.snapshot().orderBy("table_name", "row")
      .collect().map(_.toString).toSeq
    assert(after == before)
    st.stage()
    assert(st.isStaged)
    intercept[IllegalArgumentException] { st.compactZone("log") }
  }

  test("snapshot before any ingest fails with a clear message") {
    val st = freshStore()
    val e = intercept[IllegalArgumentException](st.snapshot().count())
    assert(e.getMessage.contains("no ingested data"))
  }

  test("snapshot returns the latest successful ingest per table") {
    val st = freshStore()
    st.ingest(frame(1), "tbl", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    st.ingest(frame(2), "tbl", ingestTs = Timestamp.valueOf("2026-01-02 00:00:00"))
    val versions = st.snapshot().select("version").as[Int].collect().toSet
    assert(versions == Set(2))
  }

  test("as-of cutoff returns the older version") {
    val st = freshStore()
    st.ingest(frame(1), "tbl", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    st.ingest(frame(2), "tbl", ingestTs = Timestamp.valueOf("2026-01-02 00:00:00"))
    val asOf = st.snapshot(Some(Timestamp.valueOf("2026-01-01 12:00:00")))
    assert(asOf.select("version").as[Int].collect().toSet == Set(1))
  }

  test("ingest ids are assigned sequentially") {
    val st = freshStore()
    val id1 = st.ingest(frame(1), "tbl")
    val id2 = st.ingest(frame(2), "tbl2")
    assert(id1 == 1L && id2 == 2L)
  }

  test("tables version independently") {
    val st = freshStore()
    st.ingest(frame(1), "a", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    st.ingest(frame(2), "a", ingestTs = Timestamp.valueOf("2026-01-03 00:00:00"))
    st.ingest(frame(7), "b", ingestTs = Timestamp.valueOf("2026-01-02 00:00:00"))
    val got = st.snapshot().select("table_name", "version").as[(String, Int)]
      .collect().toSet
    assert(got == Set(("a", 2), ("b", 7)))
  }

  test("a crashed ingest (success=0) is invisible to the snapshot") {
    val st = freshStore()
    st.ingest(frame(1), "tbl", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    // simulate a crash mid-ingest: log row written, data appended, but the
    // success flag never flipped (reference: read_write.py:297-336)
    st.appendLogRow(99L, Timestamp.valueOf("2026-01-02 00:00:00"), "tbl",
      "", "", success = 0)
    frame(2).withColumn("ingest_id", lit(99L))
      .withColumn("table_name", lit("tbl"))
      .write.mode("append").partitionBy("table_name").parquet(st.rawPath)
    assert(st.snapshot().select("version").as[Int].collect().toSet == Set(1))
  }

  test("two collections sharing a root version independently") {
    val root = java.nio.file.Files.createTempDirectory("graft_store_multi_").toString
    val a = new Store(spark, root, "alpha"); a.initialize()
    val b = new Store(spark, root, "beta"); b.initialize()
    // same table_name in both collections; beta's ingest is NEWER
    a.ingest(frame(1), "1.1", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    b.ingest(frame(9), "1.1", ingestTs = Timestamp.valueOf("2026-01-05 00:00:00"))
    // beta's newer ingest must not steal alpha's winner slot for "1.1"
    assert(a.snapshot().select("version").as[Int].collect().toSet == Set(1))
    assert(b.snapshot().select("version").as[Int].collect().toSet == Set(9))
    // ingest ids remain globally unique across the shared log
    assert(a.readLog().select("ingest_id").as[Long].collect().toSet == Set(1L, 2L))
    // metadata is per-collection: staging one collection must not bury
    // the other's stats
    a.stage(); b.stage()
    assert(a.readMetadata().select("table_name").distinct().count() == 1)
    val aVer = a.readMetadata()
      .filter(col("column_name") === "version").select("n_unique").as[Long].head()
    val bVer = b.readMetadata()
      .filter(col("column_name") === "version").select("n_unique").as[Long].head()
    assert(aVer == 1L && bVer == 1L)
    assert(a.metadataPath != b.metadataPath)
  }

  test("incremental stage rewrites only changed table partitions") {
    val st = freshStore()
    st.ingest(frame(1), "a", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    st.ingest(frame(5), "b", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    st.stage()
    // re-publish only table a
    st.ingest(frame(2), "a", ingestTs = Timestamp.valueOf("2026-01-02 00:00:00"))
    val changed = st.stageIncremental()
    assert(changed == Seq("a"))
    val got = st.readProd().select("table_name", "version").as[(String, Int)]
      .collect().toSet
    assert(got == Set(("a", 2), ("b", 5)))
    // no change -> nothing rewritten
    assert(st.stageIncremental() == Nil)
    // row_uid stays unique and stable
    assert(st.readProd().select("row_uid").distinct().count() == 4)
  }

  test("vacuum keeps newest N versions per table, purges the rest") {
    val st = freshStore()
    st.ingest(frame(1), "a", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    st.ingest(frame(2), "a", ingestTs = Timestamp.valueOf("2026-01-02 00:00:00"))
    st.ingest(frame(3), "a", ingestTs = Timestamp.valueOf("2026-01-03 00:00:00"))
    st.ingest(frame(7), "b", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    val purged = st.vacuum(retainVersions = 2)
    assert(purged == Seq(1L)) // only a's oldest version leaves
    // snapshot still serves the latest; as-of beyond retention is gone
    assert(st.snapshot().select("version").as[Int].collect().toSet == Set(3, 7))
    val asOfOld = st.snapshot(Some(Timestamp.valueOf("2026-01-01 12:00:00")))
    assert(asOfOld.select("version").as[Int].collect().toSet == Set(7))
    // physically purged from RAW and the log
    assert(st.readRaw().select("version").as[Int].collect().toSet == Set(2, 3, 7))
    assert(st.readLog().count() == 3)
    // idempotent
    assert(st.vacuum(retainVersions = 2) == Nil)
  }

  test("stage materializes prod with a stable row_uid and metadata") {
    val st = freshStore()
    st.ingest(frame(1), "tbl", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    st.stage()
    val prod = st.readProd()
    assert(prod.columns.contains("row_uid"))
    assert(prod.select("row_uid").distinct().count() == 2)
    val meta = st.readMetadata()
    val labelStats = meta.filter(col("column_name") === "label")
      .select("n_non_nulls", "n_unique").as[(Long, Long)].head()
    assert(labelStats == ((2L, 2L)))
    assert(st.queryableColumns("tbl").contains("label"))
  }

  test("dimension columns of a later-listed table survive staging (zones read with the union of file schemas)") {
    val st = freshStore()
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    // 1.1 is listed first and has no sector column
    st.ingest(Seq((0, "Coal", 2020, "Gas", 1.0), (1, "Oil", 2020, "Coal", 2.0))
      .toDF("row", "label", "year", "fuel", "value"), "1.1", ingestTs = t0)
    st.ingest(Seq((0, "Coal", 2020, "Gas", "industry", 3.0),
        (1, "Coal", 2020, "Gas", "transport", 4.0), (2, "Oil", 2021, "Oil", "industry", 5.0))
      .toDF("row", "label", "year", "fuel", "sector", "value"), "2.1", ingestTs = t0)
    st.stage()
    def sectors(df: org.apache.spark.sql.DataFrame) =
      df.where(col("table_name") === "2.1").select("sector").as[String].collect().sorted.toSeq
    assert(sectors(st.readProd()) == Seq("industry", "industry", "transport"))
    assert(sectors(st.snapshot(Some(t0))) == Seq("industry", "industry", "transport"))
    assert(st.readProd().schema("table_name").dataType == org.apache.spark.sql.types.StringType)
    val sectorStats = st.readMetadata()
      .where(col("table_name") === "2.1" && col("column_name") === "sector")
      .select("n_non_nulls", "n_unique").as[(Long, Long)].collect().toSeq
    assert(sectorStats == Seq((3L, 2L)))
    val page = new graft.serve.QueryService(spark, st).query("2.1", """{"sector": "Industry"}""")
    assert(page.data.select("value").as[Double].collect().sorted.toSeq == Seq(3.0, 5.0))
    // a compaction rewrite keeps them too
    st.compactZone("raw")
    st.compactZone("prod")
    assert(sectors(st.snapshot()) == Seq("industry", "industry", "transport"))
    assert(sectors(st.readProd()) == Seq("industry", "industry", "transport"))
  }

  test("incremental stage rebuilds metadata only for changed tables, equivalently") {
    val st = freshStore()
    st.ingest(frame(1), "a", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    st.ingest(frame(1), "b", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    st.stage()
    // re-publish only table b with different content
    st.ingest(Seq((0, "x", 7), (1, "x", 7), (2, "y", 7)).toDF("row", "label", "version"),
      "b", ingestTs = Timestamp.valueOf("2026-01-02 00:00:00"))
    assert(st.stageIncremental() == Seq("b"))
    // merged metadata must equal a from-scratch recompute over PROD
    val expect = st.columnStats(st.readProd())
      .collect().map(_.toSeq).toSet
    val got = st.readMetadata().collect().map(_.toSeq).toSet
    assert(got == expect)
    // and reflect the new content of b (label has 2 uniques now)
    val bLabel = st.readMetadata()
      .filter(col("table_name") === "b" && col("column_name") === "label")
      .select("n_unique").as[Long].head()
    assert(bLabel == 2L)
  }

  test("stage threads the exact/approx stats threshold through to metadata") {
    val root = Files.createTempDirectory("graft_store_approx_").toString
    // threshold 0: every table takes the approx_count_distinct path
    val st = new Store(spark, root, "t", exactStatsMaxRows = 0L)
    st.initialize()
    st.ingest(frame(1), "tbl", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    st.stage()
    // approx stats on tiny cardinalities are exact in value — the mode
    // switch must not change what small-collection users read back
    val labelStats = st.readMetadata().filter(col("column_name") === "label")
      .select("n_non_nulls", "n_unique").as[(Long, Long)].head()
    assert(labelStats == ((2L, 2L)))
    // incremental restage takes the same threshold-gated path
    st.ingest(Seq((0, "x", 7), (1, "x", 7), (2, "y", 7)).toDF("row", "label", "version"),
      "tbl", ingestTs = Timestamp.valueOf("2026-01-02 00:00:00"))
    assert(st.stageIncremental() == Seq("tbl"))
    val after = st.readMetadata().filter(col("column_name") === "label")
      .select("n_non_nulls", "n_unique").as[(Long, Long)].head()
    assert(after == ((3L, 2L)))
  }

  test("metadata swap crash window: backup restored on next read") {
    val st = freshStore()
    st.ingest(frame(1), "tbl", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    st.stage()
    val conf = spark.sparkContext.hadoopConfiguration
    val metaP = new org.apache.hadoop.fs.Path(st.metadataPath)
    val fs = metaP.getFileSystem(conf)
    // simulate a crash between the metadata swapDir renames
    assert(fs.rename(metaP, new org.apache.hadoop.fs.Path(st.metadataPath + "_bak")))
    assert(st.readMetadata().count() > 0)   // recovered, not lost
    assert(st.queryableColumns("tbl").contains("label"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(st.metadataPath + "_bak")))
  }

  test("log rewrite crash window: backup restored on next read") {
    val st = freshStore()
    st.ingest(frame(1), "tbl", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    // simulate a crash between rewriteLog's two renames: the live log has
    // been moved to the backup and the replacement never landed
    val conf = spark.sparkContext.hadoopConfiguration
    val logP = new org.apache.hadoop.fs.Path(st.logPath)
    val fs = logP.getFileSystem(conf)
    assert(fs.rename(logP, new org.apache.hadoop.fs.Path(st.logPath + "_bak")))
    assert(st.readLog().count() == 1)       // recovered, not empty
    assert(st.snapshot().count() == 2)      // provenance intact
    assert(!fs.exists(new org.apache.hadoop.fs.Path(st.logPath + "_bak")))
  }

  test("initialize after a log-swap crash restores the backup, not an empty log") {
    val st = freshStore()
    st.ingest(frame(1), "tbl", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    val conf = spark.sparkContext.hadoopConfiguration
    val logP = new org.apache.hadoop.fs.Path(st.logPath)
    val fs = logP.getFileSystem(conf)
    assert(fs.rename(logP, new org.apache.hadoop.fs.Path(st.logPath + "_bak")))
    // a process RESTART constructs a new Store and calls initialize()
    // first — it must recover, never bury the backup under an empty log
    // (which would reset ingest ids and corrupt winner resolution)
    val restarted = new Store(spark, st.rawPath.stripSuffix("/t_raw"), "t")
    restarted.initialize()
    assert(restarted.readLog().count() == 1)
    assert(restarted.nextIngestId() == 2L)
  }

  test("prod swap crash window: backup restored on next read") {
    val st = freshStore()
    st.ingest(frame(1), "tbl", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    st.stage()
    val conf = spark.sparkContext.hadoopConfiguration
    val prodP = new org.apache.hadoop.fs.Path(st.prodPath)
    val fs = prodP.getFileSystem(conf)
    // simulate a crash between swapDir's renames
    assert(fs.rename(prodP, new org.apache.hadoop.fs.Path(st.prodPath + "_bak")))
    assert(st.isStaged)                     // recovery ran
    assert(st.readProd().count() == 2)      // previous snapshot intact
    // re-stage over the recovered dir still works
    st.ingest(frame(2), "tbl", ingestTs = Timestamp.valueOf("2026-01-02 00:00:00"))
    st.stage()
    assert(st.readProd().select("version").as[Int].collect().toSet == Set(2))
  }

  test("incremental stage re-does work after a crash between prod and metadata writes") {
    val st = freshStore()
    st.ingest(frame(1), "a", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    st.stage()
    st.ingest(Seq((0, "x", 7), (1, "x", 7), (2, "y", 7)).toDF("row", "label", "version"),
      "a", ingestTs = Timestamp.valueOf("2026-01-02 00:00:00"))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(st.metadataPath).getFileSystem(conf)
    def cp(src: String, dst: String): Unit = {
      fs.delete(new org.apache.hadoop.fs.Path(dst), true)
      org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(src),
        fs, new org.apache.hadoop.fs.Path(dst), false, conf): Unit
    }
    // snapshot pre-stage metadata + commit marker
    cp(st.metadataPath, st.metadataPath + "_pre")
    cp(st.stageStatePath, st.stageStatePath + "_pre")
    assert(st.stageIncremental() == Seq("a"))
    // simulate a crash right after the PROD partition overwrite: PROD has
    // the new data but metadata and the commit marker were never written
    cp(st.metadataPath + "_pre", st.metadataPath)
    cp(st.stageStatePath + "_pre", st.stageStatePath)
    // a PROD-derived comparison would report "no change" here and leave
    // the stale metadata forever; the marker comparison re-does the table
    assert(st.stageIncremental() == Seq("a"))
    val aLabel = st.readMetadata()
      .filter(col("table_name") === "a" && col("column_name") === "label")
      .select("n_unique").as[Long].head()
    assert(aLabel == 2L)
    // and the healed state converges: nothing left to do
    assert(st.stageIncremental() == Nil)
  }

  test("vacuum partition-swap crash windows heal on the next read") {
    val st = freshStore()
    st.ingest(frame(1), "a", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    st.ingest(frame(2), "a", ingestTs = Timestamp.valueOf("2026-01-02 00:00:00"))
    st.ingest(frame(7), "b", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    val conf = spark.sparkContext.hadoopConfiguration
    val rawP = new org.apache.hadoop.fs.Path(st.rawPath)
    val fs = rawP.getFileSystem(conf)
    // window 1: crash after live -> _bak, before staging -> live. The old
    // delete-then-rename scheme would have LOST partition a here.
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"${st.rawPath}/table_name=a"),
      new org.apache.hadoop.fs.Path(s"${st.rawPath}/_bak_table_name=a")))
    assert(st.readRaw().where(col("table_name") === "a").count() == 4) // healed
    // vacuum re-runs cleanly over the restored partition
    assert(st.vacuum(retainVersions = 1) == Seq(1L))
    assert(st.readRaw().where(col("table_name") === "a")
      .select("version").as[Int].collect().toSet == Set(2))
    // window 2: crash after the swap, before backup cleanup — the stale
    // backup must be dropped, not restored over the fresh partition
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"${st.rawPath}/_bak_table_name=b"))
    assert(st.readRaw().where(col("table_name") === "b").count() == 2)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${st.rawPath}/_bak_table_name=b")))
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  private def tables(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("table_name").distinct().as[String].collect().sorted.toSeq

  test("an as-of incremental stage removes a table with no ingest at or before the cutoff") {
    val st = freshStore()
    st.ingest(frame(1), "a", ingestTs = ts("2026-01-01 00:00:00"))
    st.ingest(frame(2), "b", ingestTs = ts("2026-01-03 00:00:00"))
    st.stage()
    assert(st.stageIncremental(Some(ts("2026-01-02 00:00:00"))) == Seq("b"))
    assert(tables(st.readProd()) == Seq("a"))
    assert(tables(st.readMetadata()) == Seq("a"))
    assert(!new java.io.File(s"${st.prodPath}/table_name=b").exists())
    val qs = new graft.serve.QueryService(spark, st)
    val e = intercept[IllegalArgumentException](qs.query("b"))
    assert(e.getMessage.contains("not staged"))
    assert(qs.query("a").data.count() == 2)
    // without the cutoff b wins again
    assert(st.stageIncremental() == Seq("b"))
    assert(tables(st.readProd()) == Seq("a", "b"))
    assert(tables(st.readMetadata()) == Seq("a", "b"))
    assert(qs.query("b").data.select("version").as[Int].collect().toSeq == Seq(2, 2))
    assert(st.stageIncremental() == Nil)
  }

  test("a full stage and stage -> ingest -> incremental stage leave identical PROD and metadata rows") {
    // melted records: several years per sheet row; the revision of b
    // brings a column no earlier ingest had
    def melted(v: Int, rows: Int) =
      (for (r <- 0 until rows; y <- 2020 to 2022) yield (r, y, s"l${r % 2}", v * 10.0 + r))
        .toDF("row", "year", "label", "value")
    val revised = melted(3, 4).withColumn("sector", when(col("row") % 2 === 0, lit("industry")))
    def load(st: Store, staged: Boolean): Unit = {
      st.ingest(melted(1, 3), "a", ingestTs = ts("2026-01-01 00:00:00"))
      st.ingest(melted(2, 3), "b", ingestTs = ts("2026-01-01 00:00:00"))
      if (staged) st.stage()
      st.ingest(revised, "b", ingestTs = ts("2026-01-02 00:00:00"))
      if (staged) assert(st.stageIncremental() == Seq("b"))
      else st.stage()
    }
    val full = freshStore(); load(full, staged = false)
    val incr = freshStore(); load(incr, staged = true)
    def rows(df: org.apache.spark.sql.DataFrame) = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*).collect().map(_.toSeq.mkString("|")).sorted.toSeq
    }
    assert(full.readProd().columns.sorted.toSeq == incr.readProd().columns.sorted.toSeq)
    assert(rows(full.readProd()) == rows(incr.readProd()))
    assert(full.readProd().count() == 9 + 12)
    assert(rows(full.readMetadata()) == rows(incr.readMetadata()))
    assert(full.readMetadata().where(col("table_name") === "a" && col("column_name") === "sector")
      .select("n_non_nulls").as[Long].collect().toSeq == Seq(0L))
  }

  test("prod partition-swap crash windows heal on the next read") {
    val st = freshStore()
    st.ingest(frame(1), "a", ingestTs = ts("2026-01-01 00:00:00"))
    st.ingest(frame(7), "b", ingestTs = ts("2026-01-01 00:00:00"))
    st.stage()
    val fs = new org.apache.hadoop.fs.Path(st.prodPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dir(name: String) = new org.apache.hadoop.fs.Path(s"${st.prodPath}/$name")
    // window 1: crash after the live partition moved aside, before the
    // staged copy moved in
    assert(fs.rename(dir("table_name=a"), dir("_bak_table_name=a")))
    assert(st.readProd().where(col("table_name") === "a").count() == 2)
    assert(!fs.exists(dir("_bak_table_name=a")))
    // window 2: the swap finished but its cleanup was lost
    fs.mkdirs(dir("_bak_table_name=b"))
    assert(st.isStaged)
    assert(!fs.exists(dir("_bak_table_name=b")))
    assert(st.readProd().select("table_name", "version").as[(String, Int)].collect().toSet ==
      Set(("a", 1), ("b", 7)))
    // a re-stage over the healed zone
    st.ingest(frame(2), "a", ingestTs = ts("2026-01-02 00:00:00"))
    assert(st.stageIncremental() == Seq("a"))
    assert(st.readProd().where(col("table_name") === "a").select("version").as[Int]
      .collect().toSeq == Seq(2, 2))
  }

  test("a partition backup seen while another thread holds the lease is a swap in flight: hidden from reads, not healed") {
    val st = freshStore()
    st.ingest(frame(1), "a", ingestTs = ts("2026-01-01 00:00:00"))
    st.ingest(frame(7), "b", ingestTs = ts("2026-01-01 00:00:00"))
    st.stage()
    val root = new java.io.File(st.rawPath).getParent
    val live = new java.io.File(s"${st.prodPath}/table_name=a")
    val bak = new java.io.File(s"${st.prodPath}/_bak_table_name%3Da")
    val held = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val writer = new Thread(() => graft.ops.Lease.withHeld(spark, root, what = "writer") {
      held.countDown(); release.await()
    })
    writer.start()
    try {
      held.await()
      // the writer's swap has moved the live partition aside
      assert(live.renameTo(bak))
      assert(tables(st.readProd()) == Seq("b"))
      assert(bak.exists() && !live.exists())
    } finally { release.countDown(); writer.join() }
    assert(tables(st.readProd()) == Seq("a", "b"))
    assert(!bak.exists())
  }

  test("a RAW zone left mid-compaction heals before reads and ingests") {
    val st = freshStore()
    st.ingest(frame(1), "a", ingestTs = ts("2026-01-01 00:00:00"))
    val fs = new org.apache.hadoop.fs.Path(st.rawPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash between compactZone's two renames: live RAW moved to _bak
    assert(fs.rename(new org.apache.hadoop.fs.Path(st.rawPath),
      new org.apache.hadoop.fs.Path(st.rawPath + "_bak")))
    st.ingest(frame(7), "b", ingestTs = ts("2026-01-02 00:00:00"))
    assert(tables(st.snapshot()) == Seq("a", "b"))
    st.stage()
    assert(tables(st.readProd()) == Seq("a", "b"))
    st.compactZone("raw")
    assert(st.readRaw().count() == 4)
    assert(tables(st.snapshot()) == Seq("a", "b"))
  }

  test("row-less multi-partition frame stages with collision-free row_uids") {
    val st = freshStore()
    // no `row` column, spread across many partitions so the fallback path
    // must survive rows living beyond partition 0 (the old
    // monotonically_increasing_id scheme bled across ingest uid ranges)
    val big = spark.range(0, 10000).repartition(16)
      .select(col("id").cast("int").as("k"), concat(lit("v"), col("id")).as("label"))
    st.ingest(big, "tbl", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    st.ingest(big, "tbl2", ingestTs = Timestamp.valueOf("2026-01-01 00:00:00"))
    st.stage()
    val prod = st.readProd()
    assert(prod.count() == 20000)
    assert(prod.select("row_uid").distinct().count() == 20000)
    // incremental path takes the same fallback
    st.ingest(big, "tbl2", ingestTs = Timestamp.valueOf("2026-01-02 00:00:00"))
    val changed = st.stageIncremental()
    assert(changed == Seq("tbl2"))
    val prod2 = st.readProd()
    assert(prod2.select("row_uid").distinct().count() == prod2.count())
  }

  test("history: SCD2 intervals — changes chain, identical re-publishes coalesce") {
    val st = freshStore()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def ing(rows: Seq[(Int, String)], when: String): Unit =
      st.ingest(rows.toDF("k", "v"), "dim", ingestTs = ts(when))
    ing(Seq(1 -> "a", 2 -> "x"), "2026-01-01 00:00:00")
    ing(Seq(1 -> "b", 2 -> "x"), "2026-01-02 00:00:00") // 1 changes, 2 doesn't
    ing(Seq(1 -> "b", 2 -> "x"), "2026-01-03 00:00:00") // identical re-publish
    ing(Seq(1 -> "c", 2 -> "x"), "2026-01-04 00:00:00") // 1 changes again
    val got = st.history("dim", Seq("k"), Seq("v"))
      .as[(Int, String, java.sql.Timestamp, Option[java.sql.Timestamp])]
      .collect().sortBy(r => (r._1, r._3.getTime)).toSeq
    assert(got == Seq(
      (1, "a", ts("2026-01-01 00:00:00"), Some(ts("2026-01-02 00:00:00"))),
      (1, "b", ts("2026-01-02 00:00:00"), Some(ts("2026-01-04 00:00:00"))),
      (1, "c", ts("2026-01-04 00:00:00"), None),
      (2, "x", ts("2026-01-01 00:00:00"), None)))
  }

  test("history: null values are versions too, distinct from empty string") {
    val st = freshStore()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    st.ingest(Seq((1, Option.empty[String])).toDF("k", "v"), "dim",
      ingestTs = ts("2026-01-01 00:00:00"))
    st.ingest(Seq((1, Some(""))).toDF("k", "v"), "dim",
      ingestTs = ts("2026-01-02 00:00:00"))
    val got = st.history("dim", Seq("k"), Seq("v"))
      .as[(Int, Option[String], java.sql.Timestamp, Option[java.sql.Timestamp])]
      .collect().sortBy(_._3.getTime).toSeq
    assert(got.map(r => r._2 -> r._4.isDefined) ==
      Seq(None -> true, Some("") -> false)) // null -> "" IS a change
  }

  test("writer lease: a second process's live lease refuses every writer verb; a stale one reclaims; reads and a holder's own verbs pass") {
    val st = freshStore()
    st.ingest(frame(1), "1.1")
    st.stage()
    val root = new java.io.File(st.rawPath).getParent
    val lease = java.nio.file.Paths.get(root, "_lease")
    assert(!java.nio.file.Files.exists(lease),
      "every verb must release the lease on the way out")
    // a SECOND process's live writer lease (the case in-JVM discipline
    // cannot see): every mutating verb refuses, loudly
    java.nio.file.Files.write(lease,
      s"99999@other-host\n${System.currentTimeMillis()}".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] { st.ingest(frame(2), "1.1") }
    assert(e.getMessage.contains("another process"))
    intercept[IllegalStateException] { st.stage() }
    intercept[IllegalStateException] { st.stageIncremental() }
    intercept[IllegalStateException] { st.vacuum(1) }
    intercept[IllegalStateException] { st.compactZone("raw") }
    // reads stay lease-free
    assert(st.snapshot().count() == 2L)
    assert(st.readProd().count() == 2L)
    // stale (crashed writer): the next verb reclaims it, folds, releases
    val old = System.currentTimeMillis() - graft.ops.Lease.DefaultTtlMs - 60000L
    java.nio.file.Files.write(lease,
      s"99999@other-host\n$old".getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(lease,
      java.nio.file.attribute.FileTime.fromMillis(old))
    st.ingest(frame(2), "1.1")
    assert(!java.nio.file.Files.exists(lease),
      "the reclaimed lease must be released after the verb")
    // a long-lived writer that ACQUIRED the root lease passes through
    // its own verbs and keeps the lease (nested stage inside
    // stageIncremental must not self-deadlock either)
    graft.ops.Lease.acquire(spark, root)
    st.ingest(frame(3), "1.1")
    assert(st.stageIncremental() == Seq("1.1"))
    assert(java.nio.file.Files.exists(lease),
      "a holder's own verbs must not release its lease")
    graft.ops.Lease.release(spark, root)
    assert(!java.nio.file.Files.exists(lease))
    assert(st.readProd().where(col("version") === 3).count() == 2L)
  }
}
