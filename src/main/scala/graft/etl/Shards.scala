package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic training-shard writer — the last step of a corpus
  * pipeline: the cleaned corpus lands as `n` parquet shards plus a
  * manifest (shard id, document count, token count) that downstream
  * training jobs read instead of listing files.
  *
  * Shard assignment is `pmod(hash-or-id, n)` on a caller-chosen
  * DETERMINISTIC column: the same corpus always produces the same
  * shards, so reruns are idempotent and a training job can resume from
  * a manifest diff. One shuffle clustered on the shard id (each output
  * file holds exactly one shard), manifest computed from the SAME
  * shuffled pass — no second scan. The write publishes through
  * [[graft.ops.FsPaths.swapDir]]. */
object Shards {

  /** Write `docs` as `nShards` shards under `outDir` (subdir
    * shard=<k>/), returning the manifest frame (shard, n_docs,
    * n_tokens) which is also persisted at `outDir/_manifest`.
    * `shardKey` must be deterministic per row (an id column — NOT
    * rand()); `nTokensCol` feeds the manifest token totals. */
  def write(docs: DataFrame, shardKey: String, nTokensCol: String,
            outDir: String, nShards: Int): DataFrame = {
    require(nShards >= 1, s"writeShards: nShards must be >= 1, got $nShards")
    val spark = docs.sparkSession
    val sharded = docs
      .withColumn("shard", pmod(col(shardKey).cast("long"), lit(nShards.toLong)))
      .repartition(nShards, col("shard"))
    val tmp = outDir.stripSuffix("/") + "__shards_tmp"
    sharded.write.mode("overwrite").partitionBy("shard").parquet(tmp)
    // manifest from the published files — counting what was WRITTEN, not
    // what was planned, so a manifest row is proof the shard landed
    val manifest = spark.read.parquet(tmp)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(nTokensCol).cast("long")).as("n_tokens"))
      .orderBy(col("shard"))
    manifest.coalesce(1).write.mode("overwrite").parquet(tmp + "/_manifest")
    graft.ops.FsPaths.swapDir(spark.sparkContext.hadoopConfiguration, tmp, outDir)
    spark.read.parquet(outDir.stripSuffix("/") + "/_manifest")
  }

  /** Curriculum ordering: global rank of every document by
    * (`scoreCol`, `idCol`) and its curriculum band in [0, nBands) —
    * band k holds the k-th slice of the score order (short-to-long /
    * easy-to-hard schedules feed training in band order). Appends
    * `curriculum_rank` (1-based) and `band`.
    *
    * The rank is the two-phase distributed scan
    * ([[graft.ops.Scans.globalRowNumber]] on a (score, id) struct key —
    * range shuffle + parallel windows + a driver prefix over partition
    * totals), NEVER a single-partition sort; the total count rides a
    * broadcast single-row frame. Ties in score are broken by id, so the
    * schedule is deterministic under any cluster layout. */
  def curriculum(docs: DataFrame, scoreCol: String, idCol: String,
                 nBands: Int): DataFrame = {
    require(nBands >= 1, s"curriculum: nBands must be >= 1, got $nBands")
    require(!docs.columns.contains("__ckey") && !docs.columns.contains("__n"),
      "curriculum: input already has a __ckey/__n column")
    val keyed = docs.withColumn("__ckey", struct(col(scoreCol), col(idCol)))
    val ranked = graft.ops.Scans.globalRowNumber(keyed, "__ckey", "curriculum_rank")
    val total = docs.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(total))
      .withColumn("band",
        expr(s"((curriculum_rank - 1) * $nBands) div __n").cast("long"))
      .drop("__ckey", "__n")
  }

  /** Read a shard set's manifest. */
  def manifest(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir.stripSuffix("/") + "/_manifest")

  /** Read one shard (partition-pruned directory scan). */
  def shard(spark: SparkSession, dir: String, k: Int): DataFrame =
    spark.read.parquet(dir).where(col("shard") === k)
}
