package graft.store

import java.sql.Timestamp

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.FsPaths

/** Versioned store: RAW zone + ingest log + PROD snapshot + metadata.
  *
  * Physical layout under a root directory (one per data collection):
  *   {root}/{collection}_raw/          RAW zone, append-only parquet,
  *                                     partitioned by table_name (partition
  *                                     pruning on the mandatory predicate)
  *   {root}/{collection}_prod/         PROD snapshot, partitioned by
  *                                     table_name; staging replaces whole
  *                                     table partitions
  *   {root}/_ingest_log/               provenance (small)
  *   {root}/_metadata_{collection}/    per-column stats (small)
  *   {root}/_stage_state_{collection}/ stage commit marker (small)
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
  *   stage for stats nobody reads at full precision.
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
    * used to bind here purely by call discipline — but the backup swaps
    * of the log, PROD, metadata and RAW partitions are not
    * concurrent-safe against a SECOND PROCESS
    * (two CLI invocations racing a stage would interleave renames, and
    * two ingests would read the same max ingest_id). The lease is at
    * the ROOT because the ingest log is shared across collections under
    * one root — ingest-id uniqueness is a root-wide contract. A live
    * foreign lease refuses loudly; a stale one (crashed writer) is
    * reclaimed; this process passes through its own (a long-lived
    * writer that took [[graft.ops.Lease.acquire]] keeps it, and nested
    * verbs do not self-deadlock). Read verbs stay lease-free unless they
    * find a backup to [[heal]]. */
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

  private def path(s: String) = new Path(s)
  private def fs: FileSystem = path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def exists(dir: String): Boolean = FsPaths.nonEmpty(fs, path(dir))

  /** Publish a freshly written `tmp` directory as `live`
    * ([[FsPaths.swapDir]]); [[heal]] resolves its crash window. */
  private def swapIn(tmp: String, live: String): Unit = FsPaths.swapDir(fs, path(tmp), path(live))

  /** The one heal of every swapped directory (log, metadata, marker and
    * both zones): restore a whole-directory backup (a crash inside
    * [[swapIn]] or [[compactZone]]) and the per-partition backups of
    * staging and [[vacuum]] ([[FsPaths.healZone]]). Read verbs run
    * lease-free, so a heal takes the writer lease first: a backup seen
    * while another writer holds it is that writer's swap in flight, not
    * a crash, and healing it would race the swap's second rename. */
  private def heal(dir: String): Unit =
    if (FsPaths.needsHeal(fs, path(dir)))
      try withWriterLease("heal")(FsPaths.healZone(fs, path(dir)))
      catch { case _: IllegalStateException => () } // held: the holder's swap

  /** Read a table_name-partitioned zone: `table_name` declared a string,
    * every other column from the union of the zone's file schemas. Tables
    * populate different dimension columns (a fuel-only table beside one
    * with `sector`), so the first file's schema would drop the others'. */
  private def readPartitioned(dir: String): DataFrame =
    org.apache.spark.sql.graftx.readPartitionedParquet(spark, dir, Seq("table_name"))

  /** Compact a zone's small files in place: every ingest appends its own
    * file set to RAW (and every stage rewrites PROD partitions), so a
    * long-lived store accumulates exactly the small-files pathology
    * [[graft.ops.Compaction]] exists for. The table_name partition layout
    * is preserved (the rewrite reads partition values as strings, so
    * "1.1"-style names are written back unchanged), provenance columns
    * are untouched (a rewrite moves rows, never edits them), and the
    * publish is a whole-directory backup swap that the zone heal
    * restores after a crash. */
  def compactZone(zone: String, targetBytes: Long = 128L << 20): graft.ops.Compaction.CompactionStats = {
    val dir = zone match {
      case "raw"  => rawPath
      case "prod" => prodPath
      case other  => throw new IllegalArgumentException(
        s"compactZone: unknown zone '$other' (raw|prod)")
    }
    withWriterLease("compactZone") {
      // a backup left by a crash is invisible to the rewrite's listing:
      // restore it first, or the swap would publish the zone without it
      heal(dir)
      graft.ops.Compaction.compact(spark, dir, targetBytes,
        partitionBy = Seq("table_name"))
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
    heal(logPath)
    if (!exists(logPath)) {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], logSchema)
        .write.mode("overwrite").parquet(logPath)
    }
  }

  def isStaged: Boolean = { heal(prodPath); exists(prodPath) }

  // ---------------------------------------------------------- ingest path

  /** The ingest log, its swap crash window healed first: the reference
    * gets this atomicity for free from SQLite; on a filesystem the
    * backup swap is the equivalent. */
  def readLog(): DataFrame = {
    heal(logPath)
    if (exists(logPath)) spark.read.schema(logSchema).parquet(logPath)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], logSchema)
  }

  /** Replace the (tiny, driver-held) log with `rows` through a backup
    * swap, never leaving a window with no recoverable log. */
  private def rewriteLog(rows: Array[Row]): Unit = {
    val tmp = p("_ingest_log_tmp")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), logSchema)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    swapIn(tmp, logPath)
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
      // an append into a zone left mid-compaction would start a fresh
      // RAW beside the backup that holds every earlier ingest
      heal(rawPath)
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
    heal(rawPath)
    require(exists(rawPath),
      s"collection '$collection' has no ingested data yet (RAW zone empty)")
    readPartitioned(rawPath)
  }

  // ---------------------------------------------------------- staging path

  /** The log rows every staged view is built from: successful ingests of
    * this collection at or before the cutoff. */
  private def committedLog(cutoff: Option[Timestamp]): DataFrame = {
    val log = readLog().filter(col("success") === 1 && col("data_collection") === collection)
    cutoff.fold(log)(ts => log.filter(col("ingest_ts") <= lit(ts)))
  }

  /** (table_name, ingest_id, ingest_ts) of each table's winning ingest:
    * the latest committed one, ties broken by the higher id. */
  private def winners(cutoff: Option[Timestamp]): DataFrame = {
    val w = Window.partitionBy("table_name")
      .orderBy(col("ingest_ts").desc, col("ingest_id").desc)
    committedLog(cutoff).withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("table_name"), col("ingest_id"), col("ingest_ts"))
  }

  /** The as-of snapshot frame: latest successful ingest per table_name with
    * ingest_ts <= cutoff (reference: raw_to_prod CTE, read_write.py:357-391,
    * written cleanly per SURVEY.md §7.4 risk 6).
    *
    * Plan shape at scale: the log is tiny -> the winning (ingest_id,
    * table_name) set is computed with one window over the broadcast log,
    * then RAW joins it broadcast on ingest_id. No shuffle of RAW at all;
    * partition pruning by table_name still applies downstream.
    */
  def snapshot(cutoff: Option[Timestamp] = None): DataFrame =
    readRaw().join(broadcast(winners(cutoff).drop("table_name")), Seq("ingest_id"))

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
    val log = committedLog(None).filter(col("table_name") === tableName)
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
  def appendedRows(cutoff: Option[Timestamp] = None): DataFrame =
    readRaw().join(broadcast(committedLog(cutoff).select("ingest_id")), Seq("ingest_id"), "left_semi")

  /** Materialize the as-of snapshot into PROD, every table rewritten, with
    * a stable `row_uid` for keyset pagination (reference rowid,
    * app.py:138-147; SURVEY.md §7.3) and fresh metadata. */
  def stage(cutoff: Option[Timestamp] = None): Unit = withWriterLease("stage") {
    restage(cutoff)((winners, _) => winners.keySet): Unit
  }

  /** Incremental stage: rewrite ONLY the tables whose winning ingest
    * changed since the last stage (every table when there is no stage
    * marker or no PROD). At 100 TB a full snapshot rebuild (the
    * reference's DROP + CREATE AS SELECT, read_write.py:398) rewrites
    * everything on every re-publish of one table; this touches just the
    * changed partitions. Returns the tables rewritten or removed. */
  def stageIncremental(cutoff: Option[Timestamp] = None): Seq[String] = withWriterLease("stage") {
    restage(cutoff) { (winners, marker) =>
      // compare against the commit marker of the last completed stage,
      // not against PROD: a crash between the PROD swap and the metadata
      // write leaves PROD updated but the marker stale, so the table is
      // re-done instead of its metadata staying stale forever
      marker.fold(winners.keySet)(m =>
        winners.collect { case (t, (id, _)) if !m.get(t).contains(id) => t }.toSet)
    }
  }

  /** The one staging routine. The log is read once into the winner map
    * (table -> ingest id and ts); `pick` chooses the tables to rewrite
    * from it and the marker of the last completed stage (None when there
    * is none, or no PROD). Every PROD partition, and every marker entry,
    * without a winner is removed: PROD holds exactly the winners.
    *
    * Order of effects: the rewritten tables are written to a staging
    * directory, then published partition by partition through
    * [[FsPaths.swapPartitions]] (the zone heal restores any partition a
    * crash leaves aside); the metadata is swapped in next and the marker
    * LAST, so a crash anywhere leaves a stale marker and the next
    * incremental stage re-does the affected tables — idempotent extra
    * work, never silently stale metadata. Returns the tables rewritten or
    * removed, sorted. */
  private def restage(cutoff: Option[Timestamp])(
      pick: (Map[String, (Long, Timestamp)], Option[Map[String, Long]]) => Set[String]): Seq[String] = {
    val won = winners(cutoff).collect()   // tiny: one row per table
      .map(r => r.getString(0) -> ((r.getLong(1), r.getTimestamp(2)))).toMap
    val marker = if (isStaged) readStageState() else None
    val rewrite = pick(won, marker)
    val removed = (FsPaths.partitionValues(fs, path(prodPath), "table_name") ++
      marker.fold(Set.empty[String])(_.keySet)) -- won.keySet
    val touched = (rewrite ++ removed).toSeq.sorted
    if (touched.isEmpty) return Nil

    val staging = prodPath + "_tmp"
    fs.delete(path(staging), true) // a crashed stage's leftovers never publish
    val slice = if (rewrite.isEmpty) None else Some {
      val ids = rewrite.toSeq.map(t => Row(won(t)._1, won(t)._2))
      val df = withRowUid(readRaw()
        .where(col("table_name").isin(rewrite.toSeq: _*))
        .join(broadcast(spark.createDataFrame(java.util.Arrays.asList(ids: _*), winnerSchema)),
          Seq("ingest_id")))
      clusterForSkipping(df)
        .write.mode("overwrite").partitionBy("table_name").parquet(staging)
      df
    }
    // a removed table has no staged partition: its swap only deletes
    FsPaths.swapPartitions(fs, path(staging), path(prodPath), "table_name", touched)
    writeMetadata(slice, won.keySet -- rewrite)
    writeStageState(won.map { case (t, (id, _)) => t -> id })
    touched
  }

  private def writeStageState(winners: Map[String, Long]): Unit = {
    val rows = winners.toSeq.sortBy(_._1).map { case (t, id) => Row(t, id) }
    val tmp = stageStatePath + "_tmp"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), markerSchema)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    swapIn(tmp, stageStatePath)
  }

  /** The winner set as of the last COMPLETED stage (None when no marker
    * exists). */
  private def readStageState(): Option[Map[String, Long]] = {
    heal(stageStatePath)
    if (!exists(stageStatePath)) None
    else Some(spark.read.schema(markerSchema).parquet(stageStatePath)
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

  /** row_uid = ingest_id * 2^32 + the record's rank within its staged
    * table, ordered by `row` (where the frame has one), then `year`, then
    * every other orderable column. Each melted year of a sheet row is its
    * own record, so every record gets its own uid and a keyset page that
    * ends inside a row resumes at the next year of that row; the uid
    * ascends with (row, year), the order pages are served in. The rank
    * depends only on the table's own rows, so a table staged alone
    * (incremental) gets the same uids as in a full stage.
    *
    * Uniqueness contract is per table (pagination always carries the
    * mandatory table_name predicate, and one table partition is written by
    * exactly one winning ingest). */
  private def withRowUid(df: DataFrame): DataFrame = {
    val lead = Seq("row", "year").filter(df.columns.contains)
    // never empty: ingest_id is one of them (constant within a table)
    val rest = df.schema.fields.toSeq.collect {
      case f if !lead.contains(f.name) && f.name != "table_name" &&
        RowOrdering.isOrderable(f.dataType) => f.name
    }
    val w = Window.partitionBy("table_name").orderBy((lead ++ rest).map(col): _*)
    df.withColumn("row_uid", col("ingest_id") * lit(1L << 32) + row_number().over(w))
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
  def stageFingerprint(): Option[String] =
    Some(FsPaths.dirFingerprint(fs, path(stageStatePath)))
      .filter(_.nonEmpty).map(_.mkString(","))

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
    val descriptions = committedLog(None)
      .select("ingest_id", "table_name", "table_description").collect()
      .sortBy(_.getLong(0))
      .map(r => r.getString(1) -> Option(r.getString(2)).getOrElse(""))
      .toMap
    StagedView(fingerprint, prod, meta.schema, rows.toIndexedSeq, descriptions)
  }

  /** Retention vacuum: rewrite RAW keeping only each table's newest
    * `retainVersions` successful ingests (plus any in-flight success=0
    * rows are dropped too — they are invisible anyway and a crashed
    * ingest would otherwise leak storage forever). As-of queries older
    * than the retained window stop resolving — that is the point of a
    * retention policy. Returns the ingest ids that were purged.
    *
    * Scale shape: the keep-set comes from the tiny log; RAW is rewritten
    * only for table partitions that actually lose rows, published with
    * the same per-partition backup swap as staging. */
  def vacuum(retainVersions: Int = 2): Seq[Long] = withWriterLease("vacuum") {
    require(retainVersions >= 1, "retainVersions must be >= 1")
    val w = Window.partitionBy("table_name")
      .orderBy(col("ingest_ts").desc, col("ingest_id").desc)
    val keepIds = committedLog(None).withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= retainVersions)
      .select("ingest_id").collect().map(_.getLong(0)).toSet
    val allIds = readLog().filter(col("data_collection") === collection)
      .select("ingest_id").collect().map(_.getLong(0)).toSet
    val purge = (allIds -- keepIds).toSeq.sorted
    if (purge.isEmpty) return Nil

    // tables that lose rows -> rewrite only those partitions
    val affected = readRaw()
      .where(col("ingest_id").isin(purge: _*))
      .select("table_name").distinct().collect().map(_.getString(0)).toSeq
    if (affected.nonEmpty) {
      // a path cannot be read and overwritten in the same job: rewrite
      // the surviving rows of affected partitions into a staging dir,
      // then swap the partition directories (a partition whose every
      // ingest was purged has no staging dir and is removed)
      val staging = p(s"${collection}_raw_vacuum_tmp")
      readRaw()
        .where(col("table_name").isin(affected: _*))
        .where(col("ingest_id").isin(keepIds.toSeq: _*))
        .write.mode("overwrite").partitionBy("table_name").parquet(staging)
      FsPaths.swapPartitions(fs, path(staging), path(rawPath), "table_name", affected)
    }
    // prune the log rows of purged ingests (keep the log an accurate
    // catalog of what is physically present)
    val keptLog = readLog()
      .filter(!(col("ingest_id").isin(purge: _*)))
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
    val dataCols = statColumns(df).map(_._1)
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

  /** (column, dtype) of every column [[columnStats]] reports on: all but
    * `table_name` and the service columns. */
  private def statColumns(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.collect {
      case f if f.name != "table_name" && !graft.model.CanonicalSchema.serviceColumns.contains(f.name) =>
        f.name -> f.dataType.simpleString
    }

  /** Exact distinct mirrors the reference below the threshold; above it
    * the approx sketch avoids the O(distinct-values) shuffle. */
  private def statsExactness(slice: DataFrame): Boolean =
    slice.count() <= exactStatsMaxRows

  /** The one metadata path of every stage: the last stage's rows of the
    * `keep` tables plus fresh [[columnStats]] of the rewritten slice
    * (tables x columns, driver-sized), swapped in through a backup swap
    * (an in-place overwrite deletes first, so a crash mid-write would lose
    * all metadata). Stats are independent per (table, column), so a kept
    * table's rows stay valid; they are aligned to the slice's columns,
    * because RAW is read with the union of its file schemas and a column
    * first ingested since is all null in the kept tables' data. */
  private def writeMetadata(slice: Option[DataFrame], keep: Set[String]): Unit = {
    val kept =
      if (keep.isEmpty) Map.empty[(String, String), Row]
      else readMetadata().where(col("table_name").isin(keep.toSeq: _*)).collect()
        .map(r => (r.getAs[String]("table_name"), r.getAs[String]("column_name")) -> r).toMap
    val rows = slice.fold(kept.values.toSeq) { df =>
      val aligned = for (t <- keep.toSeq; (c, dtype) <- statColumns(df))
        yield kept.getOrElse((t, c), Row(t, c, 0L, 0L, dtype))
      aligned ++ columnStats(df, exact = statsExactness(df)).collect()
    }
    val tmp = metadataPath + "_tmp"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), metadataSchema)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    swapIn(tmp, metadataPath)
  }

  def readMetadata(): DataFrame = {
    heal(metadataPath)
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

  /** Schema of the metadata rows a stage writes ([[Store.columnStats]]
    * with its defaults). */
  private val metadataSchema: StructType = StructType(Seq(
    StructField("table_name", StringType),
    StructField("column_name", StringType),
    StructField("n_non_nulls", LongType),
    StructField("n_unique", LongType),
    StructField("dtype", StringType)))

  /** Schema of the stage commit marker: each staged table's winning
    * ingest. */
  private val markerSchema: StructType = StructType(Seq(
    StructField("table_name", StringType, nullable = false),
    StructField("ingest_id", LongType, nullable = false)))

  /** Schema of the winner ids a stage joins RAW with. */
  private val winnerSchema: StructType = StructType(Seq(
    StructField("ingest_id", LongType, nullable = false),
    StructField("ingest_ts", TimestampType, nullable = false)))

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
