package graft.store

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Versioned store: RAW zone + ingest log + PROD snapshot + metadata.
  *
  * Physical layout under a root directory (one per data collection):
  *   {root}/{collection}_raw/          RAW zone, append-only parquet,
  *                                     partitioned by table_name (partition
  *                                     pruning on the mandatory predicate)
  *   {root}/{collection}_prod/         PROD snapshot, overwritten on stage,
  *                                     partitioned by table_name
  *   {root}/_ingest_log/               provenance (small)
  *   {root}/_metadata/                 per-column stats (small)
  *
  * Mirrors the reference's SQLite zones (read_write.py:267-404) but scales:
  * RAW appends are partitioned parquet writes, the snapshot is a window
  * dedup over a broadcast ingest log, and table_name partitioning gives the
  * query layer pruned directory scans instead of full-table WHERE filters.
  */
/** @param exactStatsMaxRows row-count threshold for the metadata pass:
  *   tables at or under it get exact `countDistinct` (mirrors the
  *   reference's nunique()), larger ones get `approx_count_distinct` —
  *   at 100 TB an exact distinct is an O(distinct-values) shuffle per
  *   stage for stats nobody reads at full precision. The count that
  *   gates the switch is parquet-footer metadata, not a scan.
  * @param leaseTtlMs how stale the root writer lease's heartbeat may be
  *   before another process treats this writer as crashed and reclaims —
  *   see the [[graft.ops.Lease]] TTL invariant. */
final class Store(spark: SparkSession, root: String, collection: String,
                  exactStatsMaxRows: Long = Store.DefaultExactStatsMaxRows,
                  leaseTtlMs: Long = graft.ops.Lease.DefaultTtlMs) {
  import Store._

  private def p(sub: String) = s"$root/$sub"

  /** Every mutating verb (initialize / ingest / stage /
    * stageIncremental / vacuum / compactZone) runs HOLDING the durable
    * root `_lease`
    * ([[graft.ops.Lease.withHeld]]): the reference documents a
    * single-writer assumption (sqlite autoincrement, utils.py:194) that
    * used to bind here purely by call discipline — but the log swap
    * ([[rewriteLog]]), the PROD swap ([[swapDir]]) and vacuum's
    * partition swaps are not concurrent-safe against a SECOND PROCESS
    * (two CLI invocations racing a stage would interleave renames, and
    * two ingests would read the same max ingest_id). The lease is at
    * the ROOT because the ingest log is shared across collections under
    * one root — ingest-id uniqueness is a root-wide contract. A live
    * foreign lease refuses loudly; a stale one (crashed writer) is
    * reclaimed; this process passes through its own (a long-lived
    * writer that took [[graft.ops.Lease.acquire]] keeps it, and nested
    * verbs — stageIncremental's fallback stage — do not self-deadlock).
    * Read verbs stay lease-free. */
  private def withWriterLease[A](what: String)(body: => A): A =
    graft.ops.Lease.withHeld(spark, root, leaseTtlMs, s"store $what")(body)
  val rawPath: String = p(s"${collection}_raw")
  val prodPath: String = p(s"${collection}_prod")
  val logPath: String = p("_ingest_log")
  // the log is shared across collections under one root (ingest ids stay
  // globally unique, rows carry data_collection); metadata and the stage
  // marker are per-collection — a shared metadata path would let one
  // collection's stage() bury another's stats
  val metadataPath: String = p(s"_metadata_$collection")
  val stageStatePath: String = p(s"_stage_state_$collection")

  private def exists(path: String): Boolean = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(hPath) && fs.listStatus(hPath).nonEmpty
  }

  /** Run `f` with partition-column type inference OFF. Partition values
    * are strings like "1.1" / "5.6.J" — inference would read "1.1" back
    * as a Double. The flag is session-wide, so this only wraps the
    * lease-held compaction rewrite; reads declare the type instead
    * ([[readPartitioned]]). */
  private def withPartitionInferenceOff[T](f: => T): T = {
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Read a table_name-partitioned zone: `table_name` declared a string,
    * every other column from the union of the zone's file schemas. Tables
    * populate different dimension columns (a fuel-only table beside one
    * with `sector`), so the first file's schema would drop the others'. */
  private def readPartitioned(path: String): DataFrame =
    org.apache.spark.sql.graftx.readPartitionedParquet(spark, path, "table_name")

  /** Compact a zone's small files in place: every ingest appends its own
    * file set to RAW (and incremental stages rewrite PROD partitions), so
    * a long-lived store accumulates exactly the small-files pathology
    * [[graft.ops.Compaction]] exists for. The table_name partition layout
    * is preserved, provenance columns are untouched (a rewrite moves
    * rows, never edits them), and the publish is the same atomic swap as
    * staging. Partition-type inference is scoped OFF around the rewrite —
    * the compaction's internal read would otherwise coerce "1.1"-style
    * table names to doubles and corrupt the layout on write. */
  def compactZone(zone: String, targetBytes: Long = 128L << 20): graft.ops.Compaction.CompactionStats = {
    val path = zone match {
      case "raw"  => rawPath
      case "prod" => recoverDirIfNeeded(prodPath); prodPath
      case other  => throw new IllegalArgumentException(
        s"compactZone: unknown zone '$other' (raw|prod)")
    }
    withWriterLease("compactZone") {
      withPartitionInferenceOff {
        graft.ops.Compaction.compact(spark, path, targetBytes,
          partitionBy = Seq("table_name"))
      }
    }
  }

  // ------------------------------------------------------------ bootstrap

  /** Idempotent init (reference: bootstrap.py:8-44). Parquet needs no DDL;
    * we only ensure the log exists so readers never hit a missing path.
    * Recovery MUST run first: after a crash inside the log swap the live
    * log is missing but the backup holds the real provenance — writing a
    * fresh empty log here would bury it and let ingest ids be reused. */
  def initialize(): Unit = withWriterLease("initialize") {
    // leased like every mutating verb: a second process's bootstrap
    // racing a first-ever ingest could otherwise pass its exists check
    // before the ingest's log row lands and bury it under a fresh
    // empty log (the overwrite deletes the dir first)
    recoverLogIfNeeded()
    if (!exists(logPath)) {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], logSchema)
        .write.mode("overwrite").parquet(logPath)
    }
  }

  def isStaged: Boolean = { recoverDirIfNeeded(prodPath); exists(prodPath) }

  // ---------------------------------------------------------- ingest path

  def readLog(): DataFrame = {
    recoverLogIfNeeded()
    if (exists(logPath)) spark.read.schema(logSchema).parquet(logPath)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], logSchema)
  }

  /** Crash recovery for [[rewriteLog]]: if a crash landed between the two
    * renames, the live log is missing but the backup is intact — restore
    * it. The reference gets this atomicity for free from SQLite; on a
    * filesystem the backup-swap is the equivalent. */
  private def recoverLogIfNeeded(): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val logP = new org.apache.hadoop.fs.Path(logPath)
    val fs = logP.getFileSystem(conf)
    val bakP = new org.apache.hadoop.fs.Path(p("_ingest_log_bak"))
    if (!exists(logPath) && fs.exists(bakP)) {
      fs.delete(logP, true) // an empty/partial dir would block the rename
      fs.rename(bakP, logP): Unit
    }
  }

  /** Replace the (tiny, driver-held) log with `rows`, never leaving a
    * window with no recoverable log: write tmp -> move live to backup ->
    * move tmp in -> drop backup. A crash before the first rename keeps the
    * old log; between the renames, readLog restores the backup. */
  private def rewriteLog(rows: Array[Row]): Unit = {
    val tmp = p("_ingest_log_tmp")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), logSchema)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val conf = spark.sparkContext.hadoopConfiguration
    val logP = new org.apache.hadoop.fs.Path(logPath)
    val fs = logP.getFileSystem(conf)
    val tmpP = new org.apache.hadoop.fs.Path(tmp)
    val bakP = new org.apache.hadoop.fs.Path(p("_ingest_log_bak"))
    fs.delete(bakP, true)
    if (fs.exists(logP)) fs.rename(logP, bakP)
    fs.rename(tmpP, logP)
    fs.delete(bakP, true): Unit
  }

  /** Next ingest id: max+1 read-modify-write on the driver. Single-writer
    * assumption, same as the reference's sqlite autoincrement
    * (utils.py:194; SURVEY.md §7.4 risk 3). */
  def nextIngestId(): Long = {
    val m = readLog().agg(max("ingest_id")).head()
    if (m.isNullAt(0)) 1L else m.getLong(0) + 1L
  }

  /** Transactional-ish RAW append (reference: ingest_frame,
    * read_write.py:267-337): log row first with success=0, then the data
    * append tagged with ingest_id, then flip success=1. A crash mid-append
    * leaves success=0 and the staging join ignores the partial data — this
    * ordering is the crash-safety story and is preserved exactly. */
  def ingest(df: DataFrame, tableName: String, url: String = "",
             description: String = "",
             ingestTs: Timestamp = new Timestamp(System.currentTimeMillis())): Long =
    // the lease spans id allocation through the success flip: two racing
    // ingests in different processes would otherwise both read the same
    // max ingest_id and tag DISTINCT data with ONE id
    withWriterLease("ingest") {
      val id = nextIngestId()
      appendLogRow(id, ingestTs, tableName, url, description, success = 0)
      df.withColumn("ingest_id", lit(id))
        .withColumn("table_name", lit(tableName))
        .write.mode("append").partitionBy("table_name").parquet(rawPath)
      setLogSuccess(id)
      id
    }

  private[store] def appendLogRow(id: Long, ts: Timestamp, tableName: String,
                           url: String, description: String, success: Int): Unit = {
    val row = Row(id, ts, collection, tableName, url, description, success)
    spark.createDataFrame(java.util.List.of(row), logSchema)
      .write.mode("append").parquet(logPath)
  }

  /** Rewrite of the small log flipping one row's success flag. */
  private def setLogSuccess(id: Long): Unit = {
    val updated = readLog()
      .withColumn("success",
        when(col("ingest_id") === id, lit(1)).otherwise(col("success")))
      .collect()  // log is tiny (one row per ingest); safe on the driver
    rewriteLog(updated)
  }

  def readRaw(): DataFrame = {
    recoverRawPartitionsIfNeeded()
    require(exists(rawPath),
      s"collection '$collection' has no ingested data yet (RAW zone empty)")
    readPartitioned(rawPath)
  }

  /** Heal vacuum's per-partition backup-swap crash windows: a
    * `_bak_table_name=T` dir with no live partition means the swap was
    * interrupted after the backup rename — restore it (the log was not
    * rewritten yet, so the restored rows are exactly what the log still
    * catalogs, and a re-run of vacuum purges them again). A backup WITH a
    * live partition means the swap completed and only the cleanup was
    * lost — drop it. */
  private def recoverRawPartitionsIfNeeded(): Unit = {
    val rawP = new org.apache.hadoop.fs.Path(rawPath)
    val fs = rawP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rawP)) return
    fs.listStatus(rawP).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("_bak_table_name=")) {
        val live = new org.apache.hadoop.fs.Path(rawP, name.stripPrefix("_bak_"))
        if (fs.exists(live)) fs.delete(st.getPath, true)
        else fs.rename(st.getPath, live): Unit
      }
    }
  }

  // ---------------------------------------------------------- staging path

  /** The as-of snapshot frame: latest successful ingest per table_name with
    * ingest_ts <= cutoff (reference: raw_to_prod CTE, read_write.py:357-391,
    * written cleanly per SURVEY.md §7.4 risk 6).
    *
    * Plan shape at scale: the log is tiny -> the winning (ingest_id,
    * table_name) set is computed with one window over the broadcast log,
    * then RAW joins it broadcast on ingest_id. No shuffle of RAW at all;
    * partition pruning by table_name still applies downstream.
    */
  def snapshot(cutoff: Option[Timestamp] = None): DataFrame = {
    val log0 = readLog().filter(col("success") === 1 && col("data_collection") === collection)
    val log = cutoff.fold(log0)(ts => log0.filter(col("ingest_ts") <= lit(ts)))
    val w = Window.partitionBy("table_name")
      .orderBy(col("ingest_ts").desc, col("ingest_id").desc)
    val winners = log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("ingest_id"), col("ingest_ts"))
    readRaw().join(broadcast(winners), Seq("ingest_id"))
  }

  /** SCD2 validity-interval history of one logical table: every row
    * version keyed by `keyCols`, with consecutive ingests that did NOT
    * change the row's `valueCols` COALESCED into one interval
    * (run-length over the ingest sequence — a re-publish of identical
    * data extends the current interval instead of forging a new
    * version). Output: keyCols ++ valueCols ++ (valid_from, valid_to);
    * `valid_to` is null while current. The time-travel dimension view
    * layered over the same append-only RAW zone the as-of snapshot
    * reads — no extra storage, no CDC feed.
    *
    * Shape: the ingest log is driver-tiny, so its global sequence window
    * is a non-issue; RAW joins the broadcast sequence on ingest_id and
    * every remaining window/agg rides ONE shuffle on the row key.
    * Change detection hashes the value columns (md5 over a -joined
    * cast; nulls sentineled) — island boundaries where the hash moves. */
  def history(tableName: String, keyCols: Seq[String],
              valueCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && valueCols.nonEmpty,
      "history: keyCols and valueCols must be non-empty")
    val log = readLog()
      .filter(col("success") === 1 && col("data_collection") === collection &&
        col("table_name") === tableName)
      .select(col("ingest_id"), col("ingest_ts"))
    val seqd = log.withColumn("__seq", row_number().over(
      Window.orderBy(col("ingest_ts"), col("ingest_id"))))
    val rows = readRaw().where(col("table_name") === tableName)
      .join(broadcast(seqd), Seq("ingest_id"))
    val keyW = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__seq"))
    val contentHash = md5(concat_ws("\u0001",
      valueCols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*))
    val flagged = rows
      .withColumn("__h", contentHash)
      .withColumn("__changed",
        when(lag(col("__h"), 1).over(keyW).isNull ||
          lag(col("__h"), 1).over(keyW) =!= col("__h"), 1).otherwise(0))
      .withColumn("__island", sum(col("__changed")).over(
        keyW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // values are identical within an island (same content hash): max is
    // just the deterministic pick
    val aggs = min(col("ingest_ts")).as("valid_from") +:
      valueCols.map(c => max(col(c)).as(c))
    val islands = flagged
      .groupBy((keyCols.map(col) :+ col("__island")): _*)
      .agg(aggs.head, aggs.tail: _*)
    val vw = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__island"))
    islands
      .withColumn("valid_to", lead(col("valid_from"), 1).over(vw))
      .select((keyCols ++ valueCols).map(col) :+
        col("valid_from") :+ col("valid_to"): _*)
  }

  /** Append-style view: ALL successful ingests up to the cutoff. Streamed
    * event tables are append logs — every micro-batch belongs to the
    * dataset — unlike versioned reference tables where only the latest
    * publication wins (snapshot). Same crash-safety: success=0 batches
    * are invisible. */
  def appendedRows(cutoff: Option[Timestamp] = None): DataFrame = {
    val log0 = readLog().filter(col("success") === 1 && col("data_collection") === collection)
    val log = cutoff.fold(log0)(ts => log0.filter(col("ingest_ts") <= lit(ts)))
    readRaw().join(broadcast(log.select("ingest_id")), Seq("ingest_id"), "left_semi")
  }

  /** Materialize the snapshot into PROD with a stable `row_uid` for keyset
    * pagination (reference rowid, app.py:138-147; SURVEY.md §7.3).
    * row_uid = ingest_id * 2^32 + row — stable across identical stages,
    * unique because `row` is unique within one (ingest, table). */
  def stage(cutoff: Option[Timestamp] = None): Unit = withWriterLease("stage") {
    val withUid = withRowUid(snapshot(cutoff))
    // never overwrite PROD in place: a failed stage job (or a crash
    // mid-commit) must leave the previous snapshot intact. Write the new
    // snapshot beside it, then backup-swap (same discipline as the log).
    val tmp = prodPath + "_tmp"
    clusterForSkipping(withUid)
      .write.mode("overwrite").partitionBy("table_name").parquet(tmp)
    swapDir(tmp, prodPath)
    writeMetadata(readProd())
    // commit marker LAST: the staged winner set. stageIncremental compares
    // against this (not against PROD), so a crash anywhere above leaves a
    // stale marker and the next incremental re-does the affected tables —
    // idempotent extra work, never silently-stale metadata.
    writeStageState(logWinners(cutoff))
  }

  /** Winning (table_name -> ingest_id) under the cutoff, from the tiny
    * log — the same window the snapshot joins on. */
  private def logWinners(cutoff: Option[Timestamp]): Map[String, Long] = {
    val w = Window.partitionBy("table_name")
      .orderBy(col("ingest_ts").desc, col("ingest_id").desc)
    val log0 = readLog().filter(col("success") === 1 && col("data_collection") === collection)
    val log = cutoff.fold(log0)(ts => log0.filter(col("ingest_ts") <= lit(ts)))
    log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("table_name"), col("ingest_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private def writeStageState(winners: Map[String, Long]): Unit = {
    val schema = StructType(Seq(
      StructField("table_name", StringType, nullable = false),
      StructField("ingest_id", LongType, nullable = false)))
    val rows = winners.toSeq.sortBy(_._1).map { case (t, id) => Row(t, id) }
    val tmp = stageStatePath + "_tmp"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    swapDir(tmp, stageStatePath)
  }

  /** The winner set as of the last COMPLETED stage (None when no marker
    * exists — pre-marker directories fall back to scanning PROD). */
  private def readStageState(): Option[Map[String, Long]] = {
    recoverDirIfNeeded(stageStatePath)
    if (!exists(stageStatePath)) None
    else Some(spark.read.parquet(stageStatePath)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  /** Order rows within each write task by (table_name, year) before a
    * PROD write: a local sort (no shuffle) that tightens parquet
    * row-group min/max statistics on `year` — the most common DSL filter
    * column — so scans with a year predicate skip whole row groups at
    * read time. Frames without a year column pass through unchanged. */
  private def clusterForSkipping(df: DataFrame): DataFrame =
    if (df.columns.contains("year"))
      df.sortWithinPartitions(col("table_name"), col("year"))
    else df

  /** Swap a freshly-written directory into place, keeping the previous
    * one recoverable at every instant: live -> _bak, tmp -> live, drop
    * _bak. [[recoverDirIfNeeded]] heals the crash window between the two
    * renames. */
  private def swapDir(tmp: String, live: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val liveP = new org.apache.hadoop.fs.Path(live)
    val fs = liveP.getFileSystem(conf)
    val bakP = new org.apache.hadoop.fs.Path(live + "_bak")
    val tmpP = new org.apache.hadoop.fs.Path(tmp)
    fs.delete(bakP, true)
    if (fs.exists(liveP)) fs.rename(liveP, bakP)
    fs.rename(tmpP, liveP)
    fs.delete(bakP, true): Unit
  }

  private def recoverDirIfNeeded(live: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val liveP = new org.apache.hadoop.fs.Path(live)
    val fs = liveP.getFileSystem(conf)
    val bakP = new org.apache.hadoop.fs.Path(live + "_bak")
    if (!exists(live) && fs.exists(bakP)) {
      fs.delete(liveP, true)
      fs.rename(bakP, liveP): Unit
    }
  }

  /** row_uid assignment. Canonical frames carry `row` (unique within one
    * (ingest, table)) → ingest_id * 2^32 + row, stable across identical
    * stages. Frames WITHOUT `row` get a zipWithIndex fallback: the global
    * index is collision-free by construction (monotonically_increasing_id
    * is not — its high bits are the partition id, so any row beyond
    * partition 0 bled out of the 2^32 slot and into another ingest's uid
    * range). zipWithIndex costs one extra count job and no shuffle — the
    * scalable shape; a row_number window over (ingest, table) would sort
    * each whole table inside a single partition.
    *
    * Uniqueness contract is per table (pagination always carries the
    * mandatory table_name predicate, and one table partition is written by
    * exactly one winning ingest), which the global index satisfies even
    * when an index value exceeds 2^32. */
  private def withRowUid(df: DataFrame): DataFrame =
    if (df.columns.contains("row"))
      df.withColumn("row_uid",
        col("ingest_id") * lit(4294967296L) + col("row").cast("long"))
    else {
      val schema = df.schema.add("__idx", LongType, nullable = false)
      val indexed = df.sparkSession.createDataFrame(
        df.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) },
        schema)
      indexed
        .withColumn("row_uid", col("ingest_id") * lit(4294967296L) + col("__idx"))
        .drop("__idx")
    }

  def readProd(): DataFrame = {
    require(isStaged, s"Data collection '$collection' is not staged. Run stage first.")
    readPartitioned(prodPath)
  }

  /** Driver-side fingerprint of the stage commit marker: name, size and
    * modification time of each of its files, from one directory listing
    * (no Spark job). [[stage]] and [[stageIncremental]] swap a freshly
    * written marker in last, under new file names, so every completed
    * re-stage — by this Store or by another one on the same root —
    * changes it. None while no marker exists. */
  def stageFingerprint(): Option[String] = {
    val dir = new org.apache.hadoop.fs.Path(stageStatePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try Some(fs.listStatus(dir)
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString(","))
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** Resolve the staged version once, for serving: the PROD relation with
    * its file listing and merged schema, the collected metadata rows and
    * the table descriptions. The fingerprint is taken before anything is
    * read, so a stage that lands mid-resolution leaves the view marked
    * stale, never a stale view marked current. */
  def resolveStaged(): StagedView = {
    val fingerprint = stageFingerprint()
    val prod = readProd()
    val meta = readMetadata()
    val rows = meta.collect()
      .sortBy(r => (r.getAs[String]("table_name"), r.getAs[String]("column_name")))
    // latest successful ingest of each table wins (ids grow with time)
    val descriptions = readLog()
      .where(col("data_collection") === collection && col("success") === 1)
      .select("ingest_id", "table_name", "table_description").collect()
      .sortBy(_.getLong(0))
      .map(r => r.getString(1) -> Option(r.getString(2)).getOrElse(""))
      .toMap
    StagedView(fingerprint, prod, meta.schema, rows.toIndexedSeq, descriptions)
  }

  /** Incremental stage: rewrite ONLY the table_name partitions whose
    * winning ingest changed since the last stage, via dynamic partition
    * overwrite. At 100 TB a full snapshot rebuild (the reference's
    * DROP + CREATE AS SELECT, read_write.py:398) rewrites everything on
    * every re-publish of one table; this touches just the changed
    * partitions and leaves the rest of PROD untouched.
    *
    * Falls back to a full stage when PROD does not exist yet. */
  def stageIncremental(cutoff: Option[Timestamp] = None): Seq[String] = withWriterLease("stage") {
    if (!isStaged) { stage(cutoff); return Seq("*") }
    // winners per table under the cutoff (tiny frame, driver-collectable)
    val winners = logWinners(cutoff)
    // compare against the commit marker of the last completed stage, not
    // against PROD: a crash between the PROD write and the metadata write
    // would leave PROD already updated, and a PROD-derived comparison
    // would then report "no change" and never refresh the stale metadata.
    // The marker is also O(tables) to read where the PROD aggregation was
    // a full ingest_id column scan. Pre-marker directories fall back to
    // the PROD scan once; the marker is written on the way out.
    val current = readStageState().getOrElse {
      readProd().groupBy("table_name")
        .agg(max("ingest_id").as("ingest_id"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val changed = winners.filter { case (t, id) => !current.get(t).contains(id) }
      .keys.toSeq.sorted
    if (changed.isEmpty) return Nil

    val winnerIds = winners.filter { case (t, _) => changed.contains(t) }
      .values.toSeq
    val raw = readRaw()
    val log0 = readLog().filter(col("success") === 1 && col("data_collection") === collection)
    val log = cutoff.fold(log0)(ts => log0.filter(col("ingest_ts") <= lit(ts)))
    val tsLookup = log.select(col("ingest_id"), col("ingest_ts")).distinct()
    val slice = withRowUid(raw
      .where(col("table_name").isin(changed.map(x => x: Any): _*))
      .where(col("ingest_id").isin(winnerIds.map(x => x: Any): _*))
      .join(broadcast(tsLookup), Seq("ingest_id")))
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      clusterForSkipping(slice)
        .write.mode("overwrite").partitionBy("table_name").parquet(prodPath)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    writeMetadataIncremental(changed)
    writeStageState(winners)
    changed
  }

  /** Retention vacuum: rewrite RAW keeping only each table's newest
    * `retainVersions` successful ingests (plus any in-flight success=0
    * rows are dropped too — they are invisible anyway and a crashed
    * ingest would otherwise leak storage forever). As-of queries older
    * than the retained window stop resolving — that is the point of a
    * retention policy. Returns the ingest ids that were purged.
    *
    * Scale shape: the keep-set comes from the tiny log; RAW is rewritten
    * only for table partitions that actually lose rows, via dynamic
    * partition overwrite. */
  def vacuum(retainVersions: Int = 2): Seq[Long] = withWriterLease("vacuum") {
    require(retainVersions >= 1, "retainVersions must be >= 1")
    val w = Window.partitionBy("table_name")
      .orderBy(col("ingest_ts").desc, col("ingest_id").desc)
    val mine = readLog().filter(col("data_collection") === collection)
    val ranked = mine.filter(col("success") === 1)
      .withColumn("__rn", row_number().over(w))
    val keepIds = ranked.filter(col("__rn") <= retainVersions)
      .select("ingest_id").collect().map(_.getLong(0)).toSet
    val allIds = mine.select("ingest_id").collect().map(_.getLong(0)).toSet
    val purge = (allIds -- keepIds).toSeq.sorted
    if (purge.isEmpty) return Nil

    // tables that lose rows -> dynamic-overwrite only those partitions
    val affected = readRaw()
      .where(col("ingest_id").isin(purge.map(x => x: Any): _*))
      .select("table_name").distinct().collect().map(_.getString(0)).toSeq
    if (affected.nonEmpty) {
      // a path cannot be read and overwritten in the same job: rewrite
      // the surviving rows of affected partitions into a staging dir,
      // then swap the partition directories
      val staging = p(s"${collection}_raw_vacuum_tmp")
      val kept = readRaw()
        .where(col("table_name").isin(affected.map(x => x: Any): _*))
        .where(col("ingest_id").isin(keepIds.toSeq.map(x => x: Any): _*))
      kept.write.mode("overwrite").partitionBy("table_name").parquet(staging)
      val fs = new org.apache.hadoop.fs.Path(rawPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      affected.foreach { t =>
        val dst = new org.apache.hadoop.fs.Path(s"$rawPath/table_name=$t")
        val src = new org.apache.hadoop.fs.Path(s"$staging/table_name=$t")
        // backup-swap, never delete-then-rename: a crash between a delete
        // and the rename would lose the partition outright (the kept rows
        // would exist only in the staging dir). The _bak name starts with
        // an underscore, so a half-finished swap is invisible to partition
        // discovery; [[recoverRawPartitionsIfNeeded]] heals both crash
        // windows on the next read.
        val bak = new org.apache.hadoop.fs.Path(s"$rawPath/_bak_table_name=$t")
        fs.delete(bak, true)
        if (fs.exists(dst)) fs.rename(dst, bak)
        // a partition whose every ingest was purged has no staging dir
        if (fs.exists(src)) fs.rename(src, dst)
        fs.delete(bak, true)
      }
      fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    }
    // prune the log rows of purged ingests (keep the log an accurate
    // catalog of what is physically present)
    val keptLog = readLog()
      .filter(!(col("ingest_id").isin(purge.map(x => x: Any): _*)))
      .collect()
    rewriteLog(keptLog)
    purge
  }

  // ------------------------------------------------------------- metadata

  /** Per-(table, column) stats: n_non_nulls, n_unique, dtype (reference:
    * read_write.py:464-531). One aggregation pass for all columns of all
    * tables: groupBy(table_name).agg(count, approx/exact distinct per col),
    * then melt to long — never a per-column job.
    *
    * Exact countDistinct mirrors the reference's nunique();
    * `exact = false` switches to approx_count_distinct. The staging flow
    * (stage / stageIncremental) picks the mode from `exactStatsMaxRows`
    * via [[statsExactness]], so big collections take the approx path
    * without the caller having to remember. */
  def columnStats(df: DataFrame, exact: Boolean = true,
                  sampleK: Int = 0, quantiles: Boolean = false): DataFrame = {
    val dataCols = df.columns.filterNot(c =>
      c == "table_name" || graft.model.CanonicalSchema.serviceColumns.contains(c))
    val numeric = df.schema.fields.filter(f =>
      f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      .map(_.name).toSet
    val aggs = dataCols.flatMap { c =>
      Seq(
        count(col(c)).as(s"nn__$c"),
        (if (exact) countDistinct(col(c)) else approx_count_distinct(col(c)))
          .as(s"nu__$c")) ++
        (if (sampleK > 0)
          Seq(graft.functions.Sampling.bottomKSample(col(c), sampleK).as(s"sm__$c"))
        else Nil) ++
        // numeric quartiles ride the SAME single agg pass (Spark's
        // approx_percentile, a codegen'd mergeable agg — no extra scan)
        (if (quantiles && numeric(c))
          Seq(percentile_approx(col(c).cast("double"),
            array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as(s"pq__$c"))
        else Nil)
    }
    val dtypes = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val wide = df.groupBy(col("table_name")).agg(aggs.head, aggs.tail.toIndexedSeq: _*)
    // melt driver-side over the column axis (column count is small + fixed)
    val perCol = dataCols.map { c =>
      wide.select(
        Seq(
          col("table_name"),
          lit(c).as("column_name"),
          col(s"nn__$c").cast("long").as("n_non_nulls"),
          col(s"nu__$c").cast("long").as("n_unique"),
          lit(dtypes(c)).as("dtype")) ++
          (if (sampleK > 0) Seq(col(s"sm__$c").as("sample_values")) else Nil) ++
          (if (quantiles)
            Seq((if (numeric(c)) col(s"pq__$c")
              else lit(null).cast("array<double>")).as("quartiles"))
          else Nil): _*)
    }
    perCol.reduce(_.unionByName(_))
  }

  /** Exact distinct mirrors the reference below the threshold; above it
    * the approx sketch avoids the O(distinct-values) shuffle. The gating
    * count on a fresh parquet read is answered from footer metadata. */
  private def statsExactness(slice: DataFrame): Boolean =
    slice.count() <= exactStatsMaxRows

  private def writeMetadata(prod: DataFrame): Unit =
    writeMetadataAtomic(columnStats(prod, exact = statsExactness(prod)))

  /** Incremental metadata rebuild: column stats are independent per
    * (table_name, column), so after a partial stage only the CHANGED
    * tables' stats are recomputed — a partition-pruned scan — and merged
    * with the untouched tables' existing rows. A full-PROD rescan per
    * incremental stage would erase most of stageIncremental's win at
    * 100 TB. The merged frame is driver-materialized (it is tables *
    * columns small) before overwriting the path it was read from. */
  private def writeMetadataIncremental(changedTables: Seq[String]): Unit = {
    val anyChanged = changedTables.map(x => x: Any)
    val slice = readProd().where(col("table_name").isin(anyChanged: _*))
    val fresh = columnStats(slice, exact = statsExactness(slice))
    val kept = readMetadata()
      .where(!col("table_name").isin(anyChanged: _*))
    val merged = kept.unionByName(fresh)
    val rows = merged.collect()
    writeMetadataAtomic(spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), merged.schema))
  }

  /** Metadata writes go through the same tmp + backup-swap discipline as
    * the log and PROD: an in-place overwrite deletes first, so a crash
    * mid-write would lose all metadata until a full stage() rebuild. */
  private def writeMetadataAtomic(stats: DataFrame): Unit = {
    val tmp = metadataPath + "_tmp"
    stats.coalesce(1).write.mode("overwrite").parquet(tmp)
    swapDir(tmp, metadataPath)
  }

  def readMetadata(): DataFrame = {
    recoverDirIfNeeded(metadataPath)
    spark.read.parquet(metadataPath)
  }

  /** Queryable columns of one table, read fresh from the metadata zone
    * (see [[Store.queryableByTable]]). */
  def queryableColumns(tableName: String): Set[String] =
    queryableByTable(readMetadata().where(col("table_name") === tableName).collect())
      .getOrElse(tableName, Set("table_name"))
}

object Store {
  /** One staged version, resolved once ([[Store.resolveStaged]]): the
    * PROD relation (listing and schema resolved), the per-column metadata
    * rows sorted by table then column (tables x columns, tiny) and each
    * table's description. `fingerprint` is the stage marker's
    * [[Store.stageFingerprint]] as of the resolution. */
  final case class StagedView(fingerprint: Option[String], prod: DataFrame,
                              metadataSchema: StructType,
                              metadataRows: IndexedSeq[Row],
                              descriptions: Map[String, String]) {
    /** Queryable columns per staged table. */
    val queryable: Map[String, Set[String]] = queryableByTable(metadataRows)

    /** Metadata rows of one table (all with None) as a driver-local frame:
      * collecting it runs no Spark job. */
    def metadata(table: Option[String]): DataFrame = {
      val rows = table.fold(metadataRows)(t =>
        metadataRows.filter(_.getAs[String]("table_name") == t))
      prod.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), metadataSchema)
    }
  }

  /** Queryable columns per table from metadata rows: non-empty,
    * non-DATETIME, plus `table_name` (reference: validation.py:216-220 —
    * queryability gated on _metadata presence). Tables with none are
    * absent. */
  def queryableByTable(meta: Seq[Row]): Map[String, Set[String]] =
    meta.filter(r => r.getAs[Long]("n_non_nulls") > 0 && r.getAs[String]("dtype") != "timestamp")
      .groupBy(_.getAs[String]("table_name"))
      .map { case (t, rs) => t -> (rs.map(_.getAs[String]("column_name")).toSet + "table_name") }

  /** Default cut-over from exact countDistinct to approx_count_distinct
    * in the metadata pass: small enough that the exact path never becomes
    * the dominant shuffle of a stage, large enough that every
    * reference-scale collection keeps reference-identical stats. */
  val DefaultExactStatsMaxRows: Long = 10000000L

  /** Provenance log schema (reference: utils.py:191-203). */
  val logSchema: StructType = StructType(Seq(
    StructField("ingest_id", LongType, nullable = false),
    StructField("ingest_ts", TimestampType, nullable = false),
    StructField("data_collection", StringType, nullable = false),
    StructField("table_name", StringType, nullable = false),
    StructField("url", StringType, nullable = true),
    StructField("table_description", StringType, nullable = true),
    StructField("success", IntegerType, nullable = false)))
}
