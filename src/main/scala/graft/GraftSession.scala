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

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** A session on `local[cpus]` with `cpus` shuffle partitions. */
  def local(cpus: Int): SparkSession =
    builder(s"local[$cpus]", cpus).getOrCreate()
}
