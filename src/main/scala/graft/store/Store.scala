package graft.store

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{GenericRowWithSchema, RowOrdering}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
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
  *   {root}/_ingest_log/               provenance, shared by every
  *                                     collection under the root: per
  *                                     ingest `<id>.begin` (its log row as
  *                                     JSON) and, once the RAW append has
  *                                     landed, an empty `<id>.commit`
  *   {root}/_metadata_{collection}/    per-column stats: one `<n>.meta`
  *                                     file, the rows as JSON
  *   {root}/_stage_state_{collection}/ stage commit marker: one
  *                                     `<n>.marker` file, each staged
  *                                     table's winning ingest id as JSON
  *
  * A `<n>.meta` or `<n>.marker` file is written whole under `_<n>...`
  * and renamed in ([[publishFile]]).
  *
  * Mirrors the reference's SQLite zones (read_write.py:267-404) but scales:
  * RAW appends are partitioned parquet writes, the snapshot is a broadcast
  * join of RAW with the winners the driver picks from the log, and
  * table_name partitioning gives the query layer pruned directory scans
  * instead of full-table WHERE filters. The log, the metadata and the
  * marker are small driver-side files, read from one directory listing:
  * no Spark job keeps the books.
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
    * of PROD and RAW partitions are not concurrent-safe against a SECOND
    * PROCESS (two CLI invocations racing a stage would
    * interleave renames, and two ingests would take the same next
    * ingest id). The lease is at
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

  /** The one heal of every swapped directory: restore a whole-directory
    * backup (a crash inside [[compactZone]], or a log or metadata
    * directory left mid-swap by the earlier parquet format) and the
    * per-partition backups of staging and [[vacuum]]
    * ([[FsPaths.healZone]]). Read verbs run
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
    * we only ensure the log directory exists. Recovery MUST run first:
    * after a crash inside a swap of the log directory the live log is
    * missing but the backup holds the real provenance — starting a fresh
    * empty log here would bury it and let ingest ids be reused. */
  def initialize(): Unit = withWriterLease("initialize") {
    heal(logPath)
    fs.mkdirs(path(logPath)): Unit
  }

  def isStaged: Boolean = { heal(prodPath); exists(prodPath) }

  // ---------------------------------------------------------- ingest path

  /** Names in a directory (none when it is missing), from one listing. */
  private def listNames(dir: String): Seq[String] =
    try fs.listStatus(path(dir)).toSeq.map(_.getPath.getName)
    catch { case _: java.io.FileNotFoundException => Nil }

  private def logFile(id: Long, suffix: String) = new Path(logPath, s"$id$suffix")

  /** One listing of the log (its backup-swap crash window healed first):
    * the ids that took a `.begin` file, ascending, and the committed ids.
    * A log in the earlier single-parquet format is refused, not converted. */
  private def listLog(): (Seq[Long], Set[Long]) = {
    heal(logPath)
    val names = listNames(logPath)
    if (names.exists(_.endsWith(".parquet")))
      throw new IllegalStateException(s"the ingest log at $logPath is in the " +
        "earlier parquet format, which this store does not read: re-ingest into a new root")
    (names.flatMap(numbered(_, BeginSuffix)).sorted, names.flatMap(numbered(_, CommitSuffix)).toSet)
  }

  /** Every log entry, from one listing and the `.begin` bodies: one file
    * open per ingest that [[vacuum]] has not purged. A begin file still
    * being written belongs to an ingest in flight, which is uncommitted:
    * while its body is unreadable it is left out. */
  private def logEntries(): Seq[LogEntry] = {
    val (begun, committed) = listLog()
    begun.flatMap { id =>
      try Some(LogEntry(fromJson(readFile(logFile(id, BeginSuffix)), logSchema).head, committed(id)))
      catch { case _: Exception if !committed(id) => None }
    }
  }

  private def readFile(p: Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  /** Create `p` holding `body`; refuses an existing file unless
    * `overwrite`. */
  private def createFile(p: Path, body: Array[Byte], overwrite: Boolean = false): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(body) finally out.close()
  }

  /** Publish `body` as the next `<n><suffix>` file of `dir`: written whole
    * under `_<n><suffix>`, a name readers never take, then renamed in, so
    * a numbered file is complete from the moment it exists. Every earlier
    * entry (a crashed publish's leftover too) goes last. Readers take the
    * highest `n` ([[latestFile]]), so a crash between any two steps
    * leaves the last complete file to read. Callers hold the writer
    * lease. */
  private def publishFile(dir: String, suffix: String, body: Array[Byte]): Unit = {
    val old = listNames(dir)
    val next = old.flatMap(numbered(_, suffix)).maxOption.fold(1L)(_ + 1L)
    val tmp = new Path(dir, s"_$next$suffix")
    createFile(tmp, body, overwrite = true)
    if (!fs.rename(tmp, new Path(dir, s"$next$suffix")))
      throw new java.io.IOException(s"could not publish $next$suffix in $dir")
    old.foreach(n => fs.delete(new Path(dir, n), true))
  }

  /** The body of the highest-numbered `<n><suffix>` file of `dir`. Reads
    * are lease-free: a publish may delete the listed file before it is
    * opened, and then the listing is taken again. */
  private def latestFile(dir: String, suffix: String, tries: Int = 3): Option[Array[Byte]] =
    try listNames(dir).flatMap(numbered(_, suffix)).maxOption.map(n => readFile(new Path(dir, s"$n$suffix")))
    catch { case _: java.io.FileNotFoundException if tries > 1 => latestFile(dir, suffix, tries - 1) }

  /** The ingest log as a driver-local frame (no Spark job to build it). */
  def readLog(): DataFrame = frame(logEntries().map(_.row), logSchema)

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Next ingest id: one past the highest id that ever took a `.begin`
    * file, committed or not. Single-writer assumption, same as the
    * reference's sqlite autoincrement (utils.py:194; SURVEY.md §7.4 risk
    * 3): callers hold the writer lease. */
  def nextIngestId(): Long = listLog()._1.lastOption.fold(1L)(_ + 1L)

  /** Transactional-ish RAW append (reference: ingest_frame,
    * read_write.py:267-337): the exclusive create of `<id>.begin` takes
    * the id, then the data append tagged with ingest_id, then
    * `<id>.commit` is the success flip. A crash mid-append leaves the
    * ingest uncommitted and the staging join ignores the partial data —
    * this ordering is the crash-safety story and is preserved exactly. */
  def ingest(df: DataFrame, tableName: String, url: String = "",
             description: String = "",
             ingestTs: Timestamp = new Timestamp(System.currentTimeMillis())): Long =
    // the lease spans id allocation through the success flip: two racing
    // ingests in different processes would otherwise both take the same
    // next id and tag DISTINCT data with ONE id
    withWriterLease("ingest") {
      // an append into a zone left mid-compaction would start a fresh
      // RAW beside the backup that holds every earlier ingest
      heal(rawPath)
      val id = nextIngestId()
      appendLogRow(id, ingestTs, tableName, url, description, success = 0)
      df.withColumn("ingest_id", lit(id))
        .withColumn("table_name", lit(tableName))
        .write.mode("append").partitionBy("table_name").parquet(rawPath)
      createFile(logFile(id, CommitSuffix), Array.emptyByteArray)
      id
    }

  private[store] def appendLogRow(id: Long, ts: Timestamp, tableName: String,
                           url: String, description: String, success: Int): Unit = {
    createFile(logFile(id, BeginSuffix),
      toJson(Seq(Row(id, ts, collection, tableName, url, description, 0)), logSchema))
    if (success == 1) createFile(logFile(id, CommitSuffix), Array.emptyByteArray)
  }

  def readRaw(): DataFrame = {
    heal(rawPath)
    require(exists(rawPath),
      s"collection '$collection' has no ingested data yet (RAW zone empty)")
    readPartitioned(rawPath)
  }

  // ---------------------------------------------------------- staging path

  /** The log entries every staged view is built from: committed ingests
    * of this collection at or before the cutoff. */
  private def committedLog(cutoff: Option[Timestamp]): Seq[LogEntry] = {
    val until = cutoff.map(micros)
    logEntries().filter(e => e.committed && e.collection == collection &&
      until.forall(e.tsMicros <= _))
  }

  /** Each table's winning ingest: the latest committed one, ties broken by
    * the higher id. */
  private def winners(cutoff: Option[Timestamp]): Map[String, LogEntry] =
    committedLog(cutoff).groupBy(_.table).map { case (t, es) => t -> es.maxBy(e => (e.tsMicros, e.id)) }

  /** The RAW rows of the `won` ingests with their `ingest_ts`: an
    * `ingest_id isin` filter that lets the parquet reader skip every other
    * ingest's row groups, then a broadcast join with the winners. */
  private def winnerRows(raw: DataFrame, won: Iterable[LogEntry]): DataFrame =
    raw.where(col("ingest_id").isin(won.map(_.id).toSeq: _*))
      .join(broadcast(frame(won.map(e => Row(e.id, e.ts)).toSeq, winnerSchema)), Seq("ingest_id"))

  /** The as-of snapshot frame: latest successful ingest per table_name with
    * ingest_ts <= cutoff (reference: raw_to_prod CTE, read_write.py:357-391,
    * written cleanly per SURVEY.md §7.4 risk 6).
    *
    * Plan shape at scale: the winning (ingest_id, ingest_ts) set comes from
    * the driver-side log, and RAW joins it broadcast on ingest_id. No
    * shuffle of RAW at all; partition pruning by table_name still applies
    * downstream.
    */
  def snapshot(cutoff: Option[Timestamp] = None): DataFrame =
    winnerRows(readRaw(), winners(cutoff).values)

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
    val log = frame(committedLog(None).filter(_.table == tableName)
      .map(e => Row(e.id, e.ts)), winnerSchema)
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
    readRaw().join(broadcast(frame(committedLog(cutoff).map(e => Row(e.id)), idSchema)),
      Seq("ingest_id"), "left_semi")

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
        winners.collect { case (t, e) if !m.get(t).contains(e.id) => t }.toSet)
    }
  }

  /** The one staging routine. The log is read once into the winner map
    * (table -> winning ingest); `pick` chooses the tables to rewrite from
    * it and the marker of the last completed stage (None when there is
    * none, or no PROD). Every PROD partition, and every marker entry,
    * without a winner is removed: PROD holds exactly the winners.
    *
    * The rewritten tables' RAW slice is built once, by the write to a
    * staging directory; their column stats are then computed over the
    * staged files, and the exact/approx choice takes their row count from
    * the parquet footers.
    *
    * Order of effects: the staged tables are published partition by
    * partition through [[FsPaths.swapPartitions]] (the zone heal restores
    * any partition a crash leaves aside); the metadata is swapped in next
    * and the marker LAST, so a crash anywhere leaves a stale marker and
    * the next incremental stage re-does the affected tables — idempotent
    * extra work, never silently stale metadata. Returns the tables
    * rewritten or removed, sorted. */
  private def restage(cutoff: Option[Timestamp])(
      pick: (Map[String, LogEntry], Option[Map[String, Long]]) => Set[String]): Seq[String] = {
    val won = winners(cutoff)
    val marker = if (isStaged) readStageState() else None
    val rewrite = pick(won, marker)
    val removed = (FsPaths.partitionValues(fs, path(prodPath), "table_name") ++
      marker.fold(Set.empty[String])(_.keySet)) -- won.keySet
    val touched = (rewrite ++ removed).toSeq.sorted
    if (touched.isEmpty) return Nil

    val staging = prodPath + "_tmp"
    fs.delete(path(staging), true) // a crashed stage's leftovers never publish
    val fresh = if (rewrite.isEmpty) None else Some {
      val slice = withRowUid(winnerRows(
        readRaw().where(col("table_name").isin(rewrite.toSeq: _*)), rewrite.toSeq.map(won)))
      clusterForSkipping(slice)
        .write.mode("overwrite").partitionBy("table_name").parquet(staging)
      val rows = FsPaths.parquetRows(fs, FsPaths.committedPartPaths(fs, path(staging)).map(path))
      val stats = columnStats(spark.read.schema(slice.schema).parquet(staging),
        exact = rows <= exactStatsMaxRows).collect().toSeq
      FreshStats(statColumns(slice), stats)
    }
    // a removed table has no staged partition: its swap only deletes
    FsPaths.swapPartitions(fs, path(staging), path(prodPath), "table_name", touched)
    writeMetadata(fresh, won.keySet -- rewrite)
    writeStageState(won.map { case (t, e) => t -> e.id })
    touched
  }

  /** Publish the marker of a completed stage ([[publishFile]]). Every
    * stage adds a new file name, which is what [[stageFingerprint]]
    * sees. */
  private def writeStageState(winners: Map[String, Long]): Unit =
    publishFile(stageStatePath, MarkerSuffix,
      toJson(winners.toSeq.sorted.map { case (t, id) => Row(t, id) }, markerSchema))

  /** The winner set as of the last COMPLETED stage (None when no marker
    * exists). */
  private def readStageState(): Option[Map[String, Long]] =
    latestFile(stageStatePath, MarkerSuffix).map(b =>
      fromJson(b, markerSchema).map(r => r.getString(0) -> r.getLong(1)).toMap)

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
    * (no Spark job). [[stage]] and [[stageIncremental]] publish a fresh
    * marker last, under a new file name, so every completed
    * re-stage — by this Store or by another one on the same root —
    * changes it. None while no marker exists. */
  def stageFingerprint(): Option[String] =
    Some(FsPaths.dirFingerprint(fs, path(stageStatePath)))
      .filter(_.nonEmpty).map(_.mkString(","))

  /** Resolve the staged version once, for serving: the PROD relation with
    * its file listing and merged schema, the metadata rows and the table
    * descriptions (both read on the driver). The fingerprint is taken
    * before anything is read, so a stage that lands mid-resolution leaves
    * the view marked stale, never a stale view marked current. */
  def resolveStaged(): StagedView = {
    val fingerprint = stageFingerprint()
    val prod = readProd()
    val rows = metadataRows().sortBy(r => (r.getString(0), r.getString(1)))
    // latest successful ingest of each table wins (ids grow with time)
    val descriptions = committedLog(None).sortBy(_.id)
      .map(e => e.table -> Option(e.description).getOrElse("")).toMap
    StagedView(fingerprint, prod, rows.toIndexedSeq, descriptions)
  }

  /** Retention vacuum: rewrite RAW keeping only each table's newest
    * `retainVersions` successful ingests (plus any in-flight success=0
    * rows are dropped too — they are invisible anyway and a crashed
    * ingest would otherwise leak storage forever). As-of queries older
    * than the retained window stop resolving — that is the point of a
    * retention policy. Returns the ingest ids that were purged.
    *
    * Scale shape: the keep-set comes from the driver-side log; RAW is
    * rewritten only for table partitions that actually lose rows,
    * published with the same per-partition backup swap as staging. The
    * purged ingests' log files go last, each `.commit` before its
    * `.begin`: a crash in between leaves an uncommitted ingest, which the
    * next vacuum purges. */
  def vacuum(retainVersions: Int = 2): Seq[Long] = withWriterLease("vacuum") {
    require(retainVersions >= 1, "retainVersions must be >= 1")
    val mine = logEntries().filter(_.collection == collection)
    val keepIds = mine.filter(_.committed).groupBy(_.table).values
      .flatMap(_.sortBy(e => (-e.tsMicros, -e.id)).take(retainVersions)).map(_.id).toSet
    val purge = (mine.map(_.id).toSet -- keepIds).toSeq.sorted
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
    // prune the log entries of purged ingests (keep the log an accurate
    // catalog of what is physically present)
    purge.foreach { id =>
      fs.delete(logFile(id, CommitSuffix), false)
      fs.delete(logFile(id, BeginSuffix), false)
    }
    purge
  }

  // ------------------------------------------------------------- metadata

  /** Per-(table, column) stats: n_non_nulls, n_unique, dtype (reference:
    * read_write.py:464-531). One aggregation pass for all columns of all
    * tables: the rows are melted to (table, column, value) by one
    * generator (`inline` of an array with one struct per column), then
    * grouped by (table, column) for count, approx/exact distinct and the
    * optional sample and quartiles — never a per-column job or a
    * per-column branch.
    *
    * Exact countDistinct mirrors the reference's nunique();
    * `exact = false` switches to approx_count_distinct. The staging flow
    * (stage / stageIncremental) picks the mode from `exactStatsMaxRows`
    * and the staged row count (exact distinct mirrors the reference below
    * it; above it the approx sketch avoids the O(distinct-values)
    * shuffle), so big collections take the approx path without the
    * caller having to remember. */
  def columnStats(df: DataFrame, exact: Boolean = true,
                  sampleK: Int = 0, quantiles: Boolean = false): DataFrame = {
    val stat = statColumns(df)
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    // one value slot for every column: a struct of all the stat columns
    // with only column c set, null where c is null. Its equality is c's,
    // and it hashes like c alone (null fields leave a hash unchanged), so
    // its count, distinct count and HLL sketch are c's own. With one slot
    // the exact distinct is ONE count(distinct) per (table, column), not
    // a multi-distinct expansion of every row.
    def slot(c: String) = when(col(c).isNotNull, struct(stat.map { case (d, _) =>
      (if (d == c) col(d) else lit(null).cast(types(d))).as(d) }: _*))
    val melted = df.select(col("table_name"), inline(array(stat.map { case (c, dtype) =>
      struct(Seq(lit(c).as("column_name"), lit(dtype).as("dtype"), slot(c).as("v")) ++
        (if (sampleK > 0) Seq(col(c).cast("string").as("s")) else Nil) ++
        // numeric quartiles ride the SAME single agg pass (Spark's
        // approx_percentile, a codegen'd mergeable agg — no extra scan)
        (if (!quantiles) Nil
         else if (types(c).isInstanceOf[NumericType]) Seq(col(c).cast("double").as("q"))
         else Seq(lit(null).cast("double").as("q"))): _*)
    }: _*)))
    val extra = (if (sampleK > 0)
        Seq("sample_values" -> graft.functions.Sampling.bottomKSample(col("s"), sampleK)) else Nil) ++
      (if (quantiles) Seq("quartiles" ->
        percentile_approx(col("q"), array(lit(0.25), lit(0.5), lit(0.75)), lit(10000))) else Nil)
    melted.groupBy(col("table_name"), col("column_name"), col("dtype"))
      .agg(count(col("v")).as("n_non_nulls"),
        (if (exact) countDistinct(col("v")) else approx_count_distinct(col("v"))).as("n_unique") +:
          extra.map { case (n, e) => e.as(n) }: _*)
      .select((Seq("table_name", "column_name", "n_non_nulls", "n_unique", "dtype") ++
        extra.map(_._1)).map(col): _*)
  }

  /** (column, dtype) of every column [[columnStats]] reports on: all but
    * `table_name` and the service columns. */
  private def statColumns(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.collect {
      case f if f.name != "table_name" && !graft.model.CanonicalSchema.serviceColumns.contains(f.name) =>
        f.name -> f.dataType.simpleString
    }

  /** The one metadata path of every stage: the last stage's rows of the
    * `keep` tables plus the `fresh` stats of the rewritten tables
    * (tables x columns, driver-sized), published as the next metadata
    * file ([[publishFile]]: the last stage's file stays until the new one
    * is complete). Stats are independent per (table, column), so a kept
    * table's rows stay valid; they are aligned to the slice's columns,
    * because RAW is read with the union of its file schemas and a column
    * first ingested since is all null in the kept tables' data. */
  private def writeMetadata(fresh: Option[FreshStats], keep: Set[String]): Unit = {
    val kept =
      if (keep.isEmpty) Map.empty[(String, String), Row]
      else metadataRows().filter(r => keep(r.getString(0)))
        .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val rows = fresh.fold(kept.values.toSeq) { f =>
      val aligned = for (t <- keep.toSeq; (c, dtype) <- f.columns)
        yield kept.getOrElse((t, c), Row(t, c, 0L, 0L, dtype))
      aligned ++ f.rows
    }
    publishFile(metadataPath, MetaSuffix, toJson(rows, metadataSchema))
  }

  /** The metadata rows of the last stage (none before the first), with
    * their schema. */
  private def metadataRows(): Seq[Row] = {
    heal(metadataPath)
    latestFile(metadataPath, MetaSuffix).toSeq.flatMap(fromJson(_, metadataSchema))
  }

  /** The metadata rows as a driver-local frame with their fixed schema. */
  def readMetadata(): DataFrame = frame(metadataRows(), metadataSchema)

  /** Queryable columns of one table, read fresh from the metadata file
    * (see [[Store.queryableByTable]]). */
  def queryableColumns(tableName: String): Set[String] =
    queryableByTable(metadataRows().filter(_.getString(0) == tableName))
      .getOrElse(tableName, Set("table_name"))
}

object Store {
  /** One staged version, resolved once ([[Store.resolveStaged]]): the
    * PROD relation (listing and schema resolved), the per-column metadata
    * rows sorted by table then column (tables x columns, tiny) and each
    * table's description. `fingerprint` is the stage marker's
    * [[Store.stageFingerprint]] as of the resolution. */
  final case class StagedView(fingerprint: Option[String], prod: DataFrame,
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

  /** Schema of the winner ids a stage joins RAW with. */
  private val winnerSchema: StructType = StructType(Seq(
    StructField("ingest_id", LongType, nullable = false),
    StructField("ingest_ts", TimestampType, nullable = false)))

  /** A stage marker row: a staged table and its winning ingest. */
  private val markerSchema: StructType = StructType(Seq(
    StructField("table_name", StringType), StructField("ingest_id", LongType)))

  /** Committed ingest ids, for the append view's semi join. */
  private val idSchema: StructType = StructType(Seq(
    StructField("ingest_id", LongType, nullable = false)))

  /** File names: `<id>.begin` and `<id>.commit` in the log, `<n>.marker`
    * and `<n>.meta` for the marker and the metadata. */
  private val BeginSuffix = ".begin"
  private val CommitSuffix = ".commit"
  private val MarkerSuffix = ".marker"
  private val MetaSuffix = ".meta"

  /** `n` of a `<n><suffix>` file name. */
  private def numbered(name: String, suffix: String): Option[Long] =
    if (name.endsWith(suffix)) name.stripSuffix(suffix).toLongOption else None

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def micros(ts: Timestamp): Long = DateTimeUtils.fromJavaTimestamp(ts)

  /** The fresh metadata of a stage's rewritten tables: the columns every
    * table reports on (with their dtypes) and the stats rows. */
  private final case class FreshStats(columns: Seq[(String, String)], rows: Seq[Row])

  /** One ingest of the log: the row of [[logSchema]] its `<id>.begin`
    * file holds (success 0) and whether `<id>.commit` exists. */
  private final case class LogEntry(begin: Row, committed: Boolean) {
    def id: Long = begin.getLong(0)
    def ts: Timestamp = begin.getTimestamp(1)
    def tsMicros: Long = micros(ts)
    def collection: String = begin.getString(2)
    def table: String = begin.getString(3)
    def description: String = begin.getString(5)
    def row: Row = Row.fromSeq(begin.toSeq.init :+ (if (committed) 1 else 0))
  }

  /** The one file format of the log, the metadata and the marker: rows of
    * a flat `schema` as a JSON array of objects, a timestamp as its
    * microseconds (as Spark keeps it). */
  private def toJson(rows: Seq[Row], schema: StructType): Array[Byte] = {
    val body = json.createArrayNode()
    rows.foreach { r =>
      val o = body.addObject()
      schema.fields.indices.foreach { i =>
        val k = schema.fields(i).name
        if (r.isNullAt(i)) o.putNull(k) else schema.fields(i).dataType match {
          case LongType      => o.put(k, r.getLong(i))
          case IntegerType   => o.put(k, r.getInt(i))
          case TimestampType => o.put(k, micros(r.getTimestamp(i)))
          case _             => o.put(k, r.getString(i))
        }
      }
    }
    json.writeValueAsBytes(body)
  }

  private def fromJson(body: Array[Byte], schema: StructType): Seq[Row] =
    json.readTree(body).asScala.toSeq.map { o =>
      new GenericRowWithSchema(schema.fields.map { f =>
        val v = o.get(f.name)
        if (v == null || v.isNull) null else f.dataType match {
          case LongType      => v.asLong
          case IntegerType   => v.asInt
          case TimestampType => DateTimeUtils.toJavaTimestamp(v.asLong)
          case _             => v.asText
        }
      }, schema)
    }

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
