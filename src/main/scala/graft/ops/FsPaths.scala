package graft.ops

import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

/** The one hidden-path filter every driver-side directory walk must
  * share. `FileSystem.listFiles(dir, recursive = true)` surfaces files
  * under in-flight/crashed commit-protocol subtrees —
  * `_temporary/0/_temporary/attempt_N/part-00000-....parquet` — whose
  * FINAL name component looks exactly like a committed part file. Any
  * walk that checks only that last component (a presence gate, a file
  * count, a footer-bytes sum) silently counts uncommitted attempts: a
  * presence gate then answers "data exists" for a directory whose
  * parquet read will throw unable-to-infer-schema on every replay — the
  * precise wedged-stream failure those gates exist to prevent.
  *
  * Spark itself never sees those files because its scans apply a
  * hidden-path filter at EVERY ancestor level; this mirrors it: a file
  * is committed only if no directory strictly between `root` and the
  * file is `_`- or `.`-prefixed.
  */
object FsPaths {

  /** True iff no ancestor directory of `file` strictly below `root` is
    * hidden (`_`/`.`-prefixed). The file's own name is NOT checked here
    * — callers match it against their expected pattern (`part-*`,
    * `*.parquet`) which already excludes hidden names. Paths returned
    * by `listFiles` are fully qualified while callers routinely hold an
    * unqualified (possibly relative) `root`, so the root is qualified
    * through the caller's filesystem first and the comparison uses the
    * URI path component (scheme/authority-insensitive — both sides name
    * the same filesystem because one walk produced them). A file not
    * under `root` at all returns false. */
  def committedUnder(fs: org.apache.hadoop.fs.FileSystem,
                     root: org.apache.hadoop.fs.Path,
                     file: org.apache.hadoop.fs.Path): Boolean = {
    val rootPath = fs.makeQualified(root).toUri.getPath
    var p = file.getParent
    while (p != null && p.toUri.getPath != rootPath) {
      val n = p.getName
      if (n.startsWith("_") || n.startsWith(".")) return false
      p = p.getParent
    }
    p != null
  }

  /** Count of COMMITTED part files under `dir` (recursive, hidden
    * ancestors excluded) — the fs-metadata signal every maintenance
    * policy keys on: per-append file accumulation is what drifts scan
    * cost from data to file-open overhead, and this count is what a
    * compaction resets. 0 for a missing dir. */
  def committedPartCount(fs: org.apache.hadoop.fs.FileSystem,
                         dir: org.apache.hadoop.fs.Path): Long =
    committedPartStats(fs, dir)._1

  /** The COMMITTED part-file paths under `dir` (recursive, hidden
    * ancestors excluded, sorted for determinism) — the read-set
    * SNAPSHOT for a job that must read a directory it is itself about
    * to append to: constructing the scan from these explicit paths
    * pins the read set at listing time, so a re-listing (planner
    * re-plan, object-store listing inconsistency, a stage retry after
    * partial commit) can never pull the in-flight append into the
    * read. Empty for a missing dir. */
  def committedPartPaths(fs: org.apache.hadoop.fs.FileSystem,
                         dir: org.apache.hadoop.fs.Path): Seq[String] = {
    if (!fs.exists(dir)) return Nil
    val out = Seq.newBuilder[String]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.startsWith("part-") &&
          committedUnder(fs, dir, st.getPath))
        out += st.getPath.toString
    }
    out.result().sorted
  }

  /** (count, total bytes) of COMMITTED part files under `dir` — the
    * same walk as [[committedPartCount]] with the byte sum the
    * byte-aware maintenance policies key on: N files of 1 MB and N
    * files of 1 GB are different problems, and the mean committed file
    * size (bytes / count) against a compaction target tells them
    * apart from fs metadata alone. (0, 0) for a missing dir. */
  def committedPartStats(fs: org.apache.hadoop.fs.FileSystem,
                         dir: org.apache.hadoop.fs.Path): (Long, Long) = {
    if (!fs.exists(dir)) return (0L, 0L)
    val it = fs.listFiles(dir, true)
    var n = 0L
    var bytes = 0L
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.startsWith("part-") &&
          committedUnder(fs, dir, st.getPath)) {
        n += 1
        bytes += st.getLen
      }
    }
    (n, bytes)
  }

  /** Per-LEAF-dir (count, bytes) of committed part files under `dir`,
    * keyed by each file's parent — the grain [[fileCountDue]]'s byte
    * rule evaluates at (compaction folds within a leaf dir, never
    * across). Same single recursive walk as [[committedPartStats]]. */
  def committedPartDirStats(fs: org.apache.hadoop.fs.FileSystem,
                            dir: org.apache.hadoop.fs.Path): Seq[(Long, Long)] = {
    if (!fs.exists(dir)) return Nil
    val acc = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.startsWith("part-") &&
          committedUnder(fs, dir, st.getPath)) {
        val k = st.getPath.getParent.toUri.getPath
        val (n, b) = acc.getOrElse(k, (0L, 0L))
        acc.update(k, (n + 1L, b + st.getLen))
      }
    }
    acc.values.toSeq
  }

  /** The shared maintenance-due rule for file-counted components:
    * due on COUNT (total n >= maxFiles — file-open overhead drifting
    * scan cost away from data) or, when a `targetBytes` compaction
    * target is supplied (> 0), on BYTES — some LEAF directory holds
    * more than one file whose mean size is below HALF the target.
    *
    * Per-leaf-dir, because that is the grain compaction can fix: a
    * rewrite folds files WITHIN a (partition) dir, never across dirs,
    * so a hive-partitioned table legitimately holds one small file per
    * partition forever — a global mean would keep it due with no
    * actionable repair. The half matters for convergence: a compaction
    * packs a dir's bytes into ceil(bytes/target) files whose mean is
    * always >= target/2 (a single-file dir is excluded by n > 1), so
    * a fresh compaction never re-trips the policy it just satisfied.
    * targetBytes = 0 (the default everywhere) disables the byte rule:
    * counts alone, the pre-byte policy. */
  def fileCountDue(perDir: Seq[(Long, Long)], maxFiles: Int,
                   targetBytes: Long): Boolean =
    perDir.map(_._1).sum >= maxFiles ||
      (targetBytes > 0L && perDir.exists { case (n, bytes) =>
        n > 1L && bytes / n < targetBytes / 2 })

  /** The policy-OPERATIVE mean for a status row: the smallest
    * per-leaf-dir mean among multi-file dirs — the number
    * [[fileCountDue]]'s byte rule actually compares — falling back to
    * the global mean for tables with no multi-file leaf. Reporting the
    * global mean instead would show due=true next to a healthy-looking
    * number whenever one partition dir trips the rule while the others
    * hold large files, making the policy undiagnosable from `status`. */
  def operativeMeanBytes(perDir: Seq[(Long, Long)]): Long = {
    val multi = perDir.filter(_._1 > 1L)
    if (multi.nonEmpty) multi.map(t => t._2 / t._1).min
    else {
      val n = perDir.map(_._1).sum
      if (n == 0L) 0L else perDir.map(_._2).sum / n
    }
  }

  /** Metadata fingerprint of a directory's IMMEDIATE children: sorted
    * (name, length, mtime) triples, Nil for a missing dir. One
    * driver-side listStatus — the revalidation cost a memoized
    * params pin pays per check. A bare fs-exists is NOT enough: an
    * index deleted and rebuilt with different params BY ANOTHER
    * PROCESS leaves the params dir existing at check time, and the
    * stale cached pin would then validate probes against the dead
    * index's params — silently missing duplicates. Part-file names
    * carry write-unique UUIDs, so any rewrite changes the
    * fingerprint even inside one mtime tick. */
  def dirFingerprint(fs: org.apache.hadoop.fs.FileSystem,
                     dir: org.apache.hadoop.fs.Path): Seq[(String, Long, Long)] =
    // no exists() probe first: a swap may move `dir` away between the
    // probe and the listing
    try fs.listStatus(dir).toSeq
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
      .sortBy(_._1)
    catch { case _: java.io.FileNotFoundException => Nil }

  // ------------------------------------------------------ backup swaps
  //
  // Every directory this project replaces in place is published by one
  // discipline: write the new copy beside the live one, rename live to a
  // `_bak` sibling, rename the copy in, drop the backup. At every instant
  // one complete copy exists under a known name, and the heals below
  // turn any crash window back into a readable directory.

  /** The backup a swap keeps of `live`: the sibling `<live>_bak`. */
  private def bakOf(live: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path =
    live.suffix("_bak")

  /** True iff `dir` exists and has at least one entry: a swap that
    * crashed can leave an empty live directory, which holds no data. */
  def nonEmpty(fs: org.apache.hadoop.fs.FileSystem,
               dir: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(dir) && fs.listStatus(dir).nonEmpty

  private def mustRename(fs: org.apache.hadoop.fs.FileSystem,
                         src: org.apache.hadoop.fs.Path,
                         dst: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"could not rename $src to $dst")

  /** Heal [[swapDir]]'s crash window: with `live` missing or empty and
    * its backup present, the backup is the only copy — move it back. */
  def restoreBak(fs: org.apache.hadoop.fs.FileSystem,
                 live: org.apache.hadoop.fs.Path): Unit = {
    val bak = bakOf(live)
    if (!nonEmpty(fs, live) && fs.exists(bak)) {
      fs.delete(live, true)
      mustRename(fs, bak, live)
    }
  }

  /** Publish the freshly written `tmp` as `live`: live -> _bak, tmp ->
    * live, drop _bak. A leftover backup is restored first, so a swap
    * never deletes the only copy a crashed one left behind. */
  def swapDir(fs: org.apache.hadoop.fs.FileSystem,
              tmp: org.apache.hadoop.fs.Path,
              live: org.apache.hadoop.fs.Path): Unit = {
    restoreBak(fs, live)
    val bak = bakOf(live)
    fs.delete(bak, true)
    if (fs.exists(live)) mustRename(fs, live, bak)
    mustRename(fs, tmp, live)
    fs.delete(bak, true): Unit
  }

  /** [[swapDir]] by path strings, on the filesystem `live` names. */
  def swapDir(conf: org.apache.hadoop.conf.Configuration, tmp: String,
              live: String): Unit = {
    val liveP = new org.apache.hadoop.fs.Path(live)
    swapDir(liveP.getFileSystem(conf), new org.apache.hadoop.fs.Path(tmp), liveP)
  }

  /** Publish single partitions of a hive-partitioned `live` directory:
    * each `partCol=value` dir of `staging` replaces its live namesake
    * through a `_bak_` backup; a value with no staged dir is removed the
    * same way. The backup name escapes the `=` (`_bak_partCol%3Dvalue`):
    * Spark's listing skips `_`-prefixed names only when they hold no `=`,
    * so a read during the swap misses the partition instead of failing
    * on a second partition column. [[healZone]] resolves a crashed swap
    * on the next read. `staging` is deleted afterwards. */
  def swapPartitions(fs: org.apache.hadoop.fs.FileSystem,
                     staging: org.apache.hadoop.fs.Path,
                     live: org.apache.hadoop.fs.Path,
                     partCol: String, values: Seq[String]): Unit = {
    fs.mkdirs(live)
    values.foreach { v =>
      val name = ExternalCatalogUtils.getPartitionPathString(partCol, v)
      val dst = new org.apache.hadoop.fs.Path(live, name)
      val src = new org.apache.hadoop.fs.Path(staging, name)
      val bak = new org.apache.hadoop.fs.Path(live, "_bak_" + ExternalCatalogUtils.escapePathName(name))
      fs.delete(bak, true)
      if (fs.exists(dst)) mustRename(fs, dst, bak)
      if (fs.exists(src)) mustRename(fs, src, dst)
      fs.delete(bak, true)
    }
    fs.delete(staging, true): Unit
  }

  /** Does `live` hold anything [[healZone]] would act on: a whole-dir
    * backup, or a `_bak_` partition backup inside it? */
  def needsHeal(fs: org.apache.hadoop.fs.FileSystem,
                live: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(bakOf(live)) ||
      (fs.exists(live) && fs.listStatus(live).exists(_.getPath.getName.startsWith("_bak_")))

  /** Heal every crash window of [[swapDir]] and [[swapPartitions]] on a
    * zone: restore a whole-directory backup, then each `_bak_` partition
    * with no live namesake (the swap stopped after moving it aside). A
    * backup beside its live namesake is a finished swap that lost only
    * its cleanup: it is dropped. Only safe while no swap is in flight —
    * callers heal under the writer's lease. */
  def healZone(fs: org.apache.hadoop.fs.FileSystem,
               live: org.apache.hadoop.fs.Path): Unit = {
    restoreBak(fs, live)
    fs.delete(bakOf(live), true)
    if (fs.exists(live)) fs.listStatus(live).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("_bak_")) {
        val dst = new org.apache.hadoop.fs.Path(live,
          ExternalCatalogUtils.unescapePathName(name.stripPrefix("_bak_")))
        if (fs.exists(dst)) fs.delete(st.getPath, true)
        else mustRename(fs, st.getPath, dst)
      }
    }
  }

  /** The values of the `partCol=value` partitions directly under `dir`
    * (unescaped); empty for a missing dir. */
  def partitionValues(fs: org.apache.hadoop.fs.FileSystem,
                      dir: org.apache.hadoop.fs.Path,
                      partCol: String): Set[String] =
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).iterator.filter(_.isDirectory).map(_.getPath.getName)
      .collect { case n if n.startsWith(partCol + "=") =>
        ExternalCatalogUtils.unescapePathName(n.drop(partCol.length + 1)) }
      .toSet
}
