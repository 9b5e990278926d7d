package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built (reference: settings.py keeps
  * the runtime settings in one module). Every main and the test session
  * run under the same conf set:
  *
  *  - `spark.sql.session.timeZone=UTC`: the oracle compare and the
  *    ingest timestamps assume it;
  *  - `spark.sql.ansi.enabled=false`: the queries and their DuckDB
  *    oracles are written for non-ANSI semantics (`graft.dev.AnsiAudit`
  *    turns ANSI back on with `spark.conf.set` to list the queries that
  *    would fail under it);
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: `events.parquet` may
  *    ship `ts` as INT64 TIMESTAMP(NANOS), read as a long that
  *    `SparkEntry.t()` converts;
  *  - `spark.ui.enabled=false` and the shuffle-partition count.
  *
  * AQE is on by Spark's own default. Callers add only what is theirs
  * (an app name, a warehouse dir) before `getOrCreate()`. */
object GraftSession {

  /** The runtime SQL confs: [[builder]] sets them on a new session, and
    * [[withSqlConfs]] on a host's session for the length of one call. */
  def sqlConfs(shufflePartitions: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Runs `body` on a host's `spark` under [[sqlConfs]], then puts back
    * what the host had set. A CLI embedded in a host (tests, notebooks)
    * runs this way: on the host's own session, whose streaming queries
    * the maintenance verbs' quiesce checks must see, with the host's confs
    * as they were once the verb returns. */
  def withSqlConfs[A](spark: SparkSession, shufflePartitions: Int)(body: => A): A = {
    val confs = sqlConfs(shufflePartitions)
    val before = spark.conf.getAll
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally confs.foreach { case (k, _) =>
      before.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config(sqlConfs(shufflePartitions).toMap)
      .config("spark.ui.enabled", "false")

  /** A session on `local[cpus]` with `cpus` shuffle partitions. */
  def local(cpus: Int): SparkSession =
    builder(s"local[$cpus]", cpus).getOrCreate()
}
