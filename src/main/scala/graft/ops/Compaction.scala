package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Small-files compaction for parquet directories — the table-maintenance
  * operation every long-lived ingest pipeline needs at scale: streaming
  * micro-batches, per-ingest appends, and over-parallel writes leave
  * directories with thousands of KB-sized files, and at 100 TB the
  * resulting task-per-file scheduling + footer-read overhead dominates
  * scan time. Compaction rewrites the directory into ~`targetBytes`
  * files and swaps it into place atomically ([[FsPaths.swapDir]],
  * crash-recoverable at every instant).
  *
  * Sizing uses the INPUT byte totals: output files come out smaller when
  * the rewrite improves encoding/compression locality (e.g. after
  * `sortBy`), which errs on the side of fewer, larger files — the right
  * direction. One shuffle (round-robin repartition, or a range shuffle
  * when `sortBy` is given, which doubles as cheap single-dim clustering
  * for footer-stats skipping; for multi-dim skipping use
  * [[Zorder.cluster]] before writing instead). */
object Compaction {

  final case class CompactionStats(filesBefore: Long, bytesBefore: Long,
                                   filesAfter: Long, bytesAfter: Long)

  private def dataFiles(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val it = fs.listFiles(p, true)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      // hidden-ancestor filter too: a crashed write's file under
      // `_temporary/` has a clean final name, and compacting it INTO
      // the table would resurrect uncommitted rows
      if (f.isFile && !name.startsWith("_") && !name.startsWith(".") &&
          FsPaths.committedUnder(fs, p, f.getPath))
        out += ((f.getPath.toString, f.getLen))
    }
    out.toSeq
  }

  /** Number of output files a compaction of `dir` to `targetBytes` would
    * produce — the planning half, callable without touching data. */
  def planFiles(spark: SparkSession, dir: String, targetBytes: Long): Int = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val bytes = dataFiles(spark, dir).map(_._2).sum
    math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
  }

  /** Rewrite `dir` in place into ~targetBytes parquet files; returns
    * before/after file and byte counts. `sortBy` range-partitions and
    * sorts the rewrite so each output file covers a narrow key range.
    *
    * Hive-partitioned directories (`col=value` subdirs) MUST pass the
    * partition columns via `partitionBy`, which preserves the layout
    * (keys are clustered first, so file count stays ~nOut, not
    * nOut x values); compacting one without it would silently FLATTEN
    * the partitioning — refused with an error instead. */
  def compact(spark: SparkSession, dir: String, targetBytes: Long,
              sortBy: Seq[String] = Nil,
              partitionBy: Seq[String] = Nil,
              distinctRows: Boolean = false): CompactionStats = {
    val before = dataFiles(spark, dir)
    require(before.nonEmpty, s"compact: no data files under $dir")
    val dirLen = new Path(dir).toUri.getPath.length
    val partitioned = before.exists { case (p, _) =>
      new Path(p).toUri.getPath.drop(dirLen).split("/").dropRight(1).exists(_.contains("="))
    }
    require(!partitioned || partitionBy.nonEmpty,
      s"compact: $dir is hive-partitioned; pass partitionBy to preserve " +
        "the layout (a plain rewrite would flatten it)")
    val nOut = planFiles(spark, dir, targetBytes)
    // distinctRows: for APPEND-ONLY tables whose writers can replay a
    // crashed append (duplicate full rows, absorbed at read time) —
    // the compact rewrite is the one place duplicates heal DURABLY.
    // Not for tables where repeated rows are data.
    // the union of the file schemas: files written by different writers
    // may carry different columns, and a rewrite must keep them all.
    // Partition columns read as strings, so every directory name is
    // written back exactly as it was ("1.1" never becomes a double)
    val df0 = org.apache.spark.sql.graftx.readPartitionedParquet(spark, dir, partitionBy)
    val df = if (distinctRows) df0.distinct() else df0
    // partitionBy + sortBy compose: keys cluster to their hive dirs and
    // rows sort by (partition cols ++ sortBy) within each task — the
    // partition-col prefix satisfies the dynamic writer's required
    // ordering (no order-destroying extra sort), the sortBy suffix
    // preserves each file's key order for page/footer-stats pruning
    val shaped =
      if (partitionBy.nonEmpty)
        df.repartition(nOut, partitionBy.map(col): _*)
          .sortWithinPartitions((partitionBy ++ sortBy).map(col): _*)
      else if (sortBy.isEmpty) df.repartition(nOut)
      else df.repartitionByRange(nOut, sortBy.map(col): _*)
        .sortWithinPartitions(sortBy.map(col): _*)
    val tmp = dir.stripSuffix("/") + "__compact_tmp"
    val writer = shaped.write.mode("overwrite")
      .option("parquet.page.row.count.limit", ScanPrune.PageRowLimit)
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(tmp)
    FsPaths.swapDir(spark.sparkContext.hadoopConfiguration, tmp, dir)
    val after = dataFiles(spark, dir)
    CompactionStats(before.size.toLong, before.map(_._2).sum,
      after.size.toLong, after.map(_._2).sum)
  }

  /** Compaction + multi-dimensional clustering in one rewrite:
    * [[Zorder.cluster]] lays the data on the Morton curve across `dims`
    * so each of the ~targetBytes output files covers a narrow range in
    * EVERY clustered dimension (parquet footer stats then prune on any
    * of them), and the same atomic swap publishes the result — the
    * OPTIMIZE ... ZORDER BY maintenance verb, minus the table format. */
  def compactZorder(spark: SparkSession, dir: String, targetBytes: Long,
                    dims: Seq[String]): CompactionStats = {
    require(dims.nonEmpty, "compactZorder: need at least one dimension")
    val before = dataFiles(spark, dir)
    require(before.nonEmpty, s"compactZorder: no data files under $dir")
    val nOut = planFiles(spark, dir, targetBytes)
    val shaped = Zorder.cluster(spark.read.parquet(dir), dims, nOut)
    val tmp = dir.stripSuffix("/") + "__compact_tmp"
    shaped.write.mode("overwrite").parquet(tmp)
    FsPaths.swapDir(spark.sparkContext.hadoopConfiguration, tmp, dir)
    val after = dataFiles(spark, dir)
    CompactionStats(before.size.toLong, before.map(_._2).sum,
      after.size.toLong, after.map(_._2).sum)
  }
}
