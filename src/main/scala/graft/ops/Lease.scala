package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

/** The durable writer lease: what makes a "single writer, quiesced
  * maintenance" contract hold ACROSS PROCESSES. In-JVM checks
  * (`spark.streams.active`, documented call discipline) see only their
  * own application; on a real cluster two Spark jobs routinely share a
  * directory, and a compaction swapping a table out from under another
  * process's in-flight append loses the append with the old tree — the
  * exact corruption the quiesce contracts exist to prevent.
  *
  * Mechanics: an exclusive `_lease` marker file under the guarded
  * directory (hidden-prefixed, so every scan and walk ignores it).
  * Content = `pid@host\nepochMillis`; the heartbeat refreshes the
  * mtime (one atomic driver `setTimes`) AND falls back to rewriting
  * the content epoch when the filesystem ignores `setTimes` (object
  * stores: S3A inherits the empty base implementation — an
  * mtime-only heartbeat there would silently never refresh and a live
  * writer would be "reclaimed" mid-append). Staleness therefore reads
  * `max(mtime, content epoch)`. A lease whose heartbeat is older than
  * the TTL belongs to a crashed writer and is reclaimed by an ATOMIC
  * rename-aside (two racing reclaimers cannot both win: one rename
  * succeeds, the loser refuses).
  *
  * Writers call [[acquire]] / heartbeat via [[heartbeatIfHeld]] /
  * [[release]]. Maintenance verbs run their fold inside [[withHeld]],
  * which HOLDS the lease for the duration — merely checking absence
  * would let a writer acquire and start appending mid-swap — and
  * passes through when the CALLER's process already holds it (a
  * process cannot race itself; in-process call discipline governs,
  * e.g. a policy-triggered auto-repair under the writer's own lease).
  * While the fold runs, a daemon thread heartbeats the lease every
  * ttl/4 — a fold longer than the TTL (a 100 TB corpus compaction is
  * the expected case, not the edge) must not go stale mid-swap and get
  * reclaimed under its own feet. [[release]] deletes ONLY this
  * process's own marker: if our lease WAS reclaimed (a >TTL stall) and
  * a new holder acquired, the stalled process's release must not
  * delete the new holder's live lease. Heartbeat is refresh-ONLY and
  * refreshes only OUR OWN lease — a lease-free writer sharing the dir
  * must not resurrect a crashed writer's marker forever — so
  * lease-free callers (single-process deployments, tests, the verify
  * oracles) pay one fs read and are otherwise untouched; it RETURNS
  * whether the lease is (still) ours, so a managed writer can fence
  * itself (stop appending as a zombie) the moment it observes a
  * foreign holder.
  *
  * TTL invariant (pick `ttlMs` per deployment surface):
  * heartbeat period << ttlMs << acceptable crash-detection latency.
  * Heartbeats land per micro-batch / per progress event for managed
  * writers (trigger cadence — seconds) and every ttl/4 inside
  * [[withHeld]] folds, so the default ten minutes of silence is a
  * dead writer, not a slow one; a smaller TTL detects crashes faster
  * but must stay comfortably above the slowest heartbeat gap (one
  * micro-batch / one fold-heartbeat period plus fs latency).
  *
  * Atomicity contract: mutual exclusion is EXACT on filesystems with
  * atomic create-exclusive and rename (local, HDFS). Object stores
  * (S3A) implement create(overwrite=false) as exists-check-then-PUT
  * and rename as copy+delete, so two racers can both "succeed" there;
  * [[acquire]] therefore re-reads the marker AFTER writing it and
  * refuses when another holder's body won (check-after-write — the
  * etag-less equivalent), and the heartbeat's object-store fallback
  * re-verifies the holder immediately before its overwrite PUT and
  * reports a post-write foreign holder to the caller (the fencing
  * path). A sub-millisecond two-PUT window remains on such stores —
  * documented residual, closed in practice by the fencing check at
  * the next heartbeat. */
object Lease {

  /** Default heartbeat TTL — see the TTL invariant in the object doc. */
  val DefaultTtlMs: Long = 10L * 60L * 1000L

  /** Dirs whose lease THIS process acquired and has not released — the
    * fencing registry: [[fenceIfLost]] (and the managed pipeline's
    * per-batch check) throws only for dirs the process actually
    * claimed, so lease-free callers can never be false-fenced. */
  private val acquiredDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Did THIS process acquire (and not yet release) the lease on
    * `dir`? The caller-side half of the fencing signal. */
  def acquiredHere(dir: String): Boolean = acquiredDirs.contains(dir)

  /** Per-dir in-process mutual exclusion for [[withHeld]]: two sibling
    * verbs in ONE process both see the process's own marker and would
    * both pass through — and the first to finish would release the
    * lease out from under the second's still-running fold, dropping
    * cross-process protection mid-swap. Reentrant, so nested folds
    * (compact-if-due -> compact) keep working; contended tryLock
    * REFUSES like the cross-process path does (loud, no silent wait). */
  private val dirLocks =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.locks.ReentrantLock]()
  private def lockFor(dir: String) =
    dirLocks.computeIfAbsent(dir,
      _ => new java.util.concurrent.locks.ReentrantLock())

  private def path(dir: String) =
    new org.apache.hadoop.fs.Path(s"$dir/_lease")

  private def fsFor(conf: Configuration, dir: String) =
    path(dir).getFileSystem(conf)

  private def confOf(spark: SparkSession): Configuration =
    spark.sparkContext.hadoopConfiguration

  /** This process's lease identity. Liveness is the heartbeat, not the
    * pid; the identity decides own-process pass-through (same pid@host
    * = same process = cannot race itself). */
  def holder(): String = {
    val pid = java.lang.ProcessHandle.current().pid()
    val host = try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: java.net.UnknownHostException => "unknown-host" }
    s"$pid@$host"
  }

  /** (holder line, content epoch or -1) — "unknown" on any read
    * failure: the safe direction, an unknown FRESH lease refuses.
    * Reads to EOF: a short first read splitting the holder line would
    * make a held lease appear foreign — the heartbeat would silently
    * stop refreshing and a live writer would be reclaimed as stale. */
  private def readLease(f: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path): (String, Long) =
    try {
      val in = f.open(p)
      try {
        val bos = new java.io.ByteArrayOutputStream(64)
        val buf = new Array[Byte](512)
        var n = in.read(buf)
        while (n > 0) { bos.write(buf, 0, n); n = in.read(buf) }
        val bytes = bos.toByteArray
        if (bytes.isEmpty) ("unknown", -1L)
        else {
          val lines = new String(bytes, "UTF-8").split("\n")
          val epoch = lines.lift(1).flatMap(_.trim.toLongOption).getOrElse(-1L)
          (lines(0).trim, epoch)
        }
      } finally in.close()
    } catch { case _: java.io.IOException => ("unknown", -1L) }

  private def leaseBody(): Array[Byte] =
    s"${holder()}\n${System.currentTimeMillis()}".getBytes("UTF-8")

  /** Heartbeat age from max(mtime, content epoch) — mtime alone is a
    * silent no-op to refresh on object stores. None = lease vanished
    * between the caller's exists and this read (a concurrent release):
    * treated as absent, never as an error. */
  private def ageMs(f: org.apache.hadoop.fs.FileSystem,
                    p: org.apache.hadoop.fs.Path): Option[Long] =
    try {
      val mtime = f.getFileStatus(p).getModificationTime
      val epoch = readLease(f, p)._2
      Some(System.currentTimeMillis() - math.max(mtime, epoch))
    } catch { case _: java.io.FileNotFoundException => None }

  /** Atomically take a STALE marker out of the way: rename-aside (one
    * winner) + delete the tombstone. False = lost the race. */
  private def reclaimStale(f: org.apache.hadoop.fs.FileSystem,
                           p: org.apache.hadoop.fs.Path,
                           dir: String): Boolean = {
    val tomb = new org.apache.hadoop.fs.Path(
      s"$dir/_lease.reclaim.${java.util.UUID.randomUUID().toString.take(8)}")
    val won = try f.rename(p, tomb)
      catch { case _: java.io.IOException => false }
    if (won) { try f.delete(tomb, false): Unit
      catch { case _: java.io.IOException => () } }
    won
  }

  /** Take the exclusive writer lease on `dir`. Refuses while a LIVE
    * lease exists (a second concurrent writer breaks the single-writer
    * replay contracts — even one in this same process); reclaims a
    * stale one loudly and atomically (rename-aside: two racing
    * reclaimers get exactly one winner). Create-exclusive, then
    * check-after-write: on filesystems with atomic create (local,
    * HDFS) the exclusive create alone decides the race; on object
    * stores it is exists-then-PUT, so the marker is re-read after the
    * write and a foreign winner refuses here (see the atomicity
    * contract in the object doc). */
  def acquire(conf: Configuration, dir: String, ttlMs: Long,
              what: String): Unit = {
    require(ttlMs > 0L, s"Lease.acquire: ttlMs > 0, got $ttlMs")
    val f = fsFor(conf, dir)
    val p = path(dir)
    if (f.exists(p)) ageMs(f, p) match {
      case Some(age) if age <= ttlMs =>
        throw new IllegalStateException(
          s"$what lease on $dir refused: a live lease (heartbeated " +
            s"${age} ms ago, holder '${readLease(f, p)._1}') exists — " +
            "the holder may be active in another process, and a second " +
            "concurrent writer would break the single-writer contract. " +
            "Stop the other writer first, or wait out its lease.")
      case Some(age) =>
        System.err.println(
          s"[graft] reclaiming STALE $what lease on $dir " +
            s"(holder '${readLease(f, p)._1}', heartbeat ${age} ms old > " +
            s"ttl $ttlMs ms): treating the writer as crashed.")
        if (!reclaimStale(f, p, dir))
          throw new IllegalStateException(
            s"$what lease on $dir refused: lost the stale-lease reclaim " +
              "race to a concurrent acquirer.")
      case None => () // released concurrently — absent is what we want
    }
    val parent = p.getParent
    if (!f.exists(parent)) f.mkdirs(parent): Unit
    // the body is built before the create: holder() can be slow on its
    // first call (host name lookup), and the marker reads as empty until
    // the write below lands
    val body = leaseBody()
    // overwrite = false: of two racing acquirers exactly one creates —
    // the loser's IOException becomes the same refusal contract
    val out =
      try f.create(p, false)
      catch {
        case e: java.io.IOException => throw new IllegalStateException(
          s"$what lease on $dir refused: lost the acquire race to a " +
            "concurrent writer (the marker appeared between the check " +
            "and the exclusive create).", e)
      }
    try out.write(body) finally out.close()
    // check-after-write: on stores without atomic create-exclusive two
    // racers can both reach the write — the surviving content decides,
    // and every non-winner refuses here instead of proceeding to write
    // data under a lease it does not hold. Refuse only on a POSITIVELY
    // foreign holder: the exclusive create above already succeeded, so
    // on atomic-create filesystems we provably won, and treating a
    // transient unreadable marker ("unknown", retried once) as a lost
    // race would wedge OUR OWN fresh marker on the dir for a whole TTL.
    // On stores where create is not exclusive, the per-batch fencing
    // heartbeat is the backstop for the residual both-unknown case.
    val seen = readLease(f, p)._1 match {
      case "unknown" => readLease(f, p)._1
      case h => h
    }
    if (seen != holder() && seen != "unknown")
      throw new IllegalStateException(
        s"$what lease on $dir refused: lost the acquire race to a " +
          "concurrent writer (another holder's marker body survived the " +
          "write — non-atomic create on this filesystem).")
    acquiredDirs.add(dir): Unit
  }

  /** Release this process's OWN lease (no-op when absent — stop paths
    * call it unconditionally). Own-only: if our lease was reclaimed
    * after a >TTL stall and a NEW holder acquired, deleting "whatever
    * marker is present" would kill the new holder's live lease and let
    * a third writer in (double-writer) — so the holder line is compared
    * first, and a foreign marker is left untouched (it ages out on its
    * own if its holder is dead). An unreadable marker is also left: it
    * cannot be proven ours, and a wrongly-kept own marker merely ages
    * out after one TTL. */
  def release(conf: Configuration, dir: String): Unit = {
    acquiredDirs.remove(dir): Unit // we no longer claim it, kept or not
    val f = fsFor(conf, dir)
    val p = path(dir)
    try {
      if (!f.exists(p)) return
      val h = readLease(f, p)._1
      if (h == holder()) f.delete(p, false): Unit
      else System.err.println(
        s"[graft] lease release on $dir skipped: marker is held by '$h', " +
          s"not us ('${holder()}') — ours was reclaimed; leaving the new " +
          "holder's lease untouched.")
    } catch {
      case _: java.io.FileNotFoundException => ()
      case _: java.io.IOException => () // unreadable: ages out after TTL
    }
  }

  /** Refresh the heartbeat IF this process's own lease is held —
    * refresh-only (never creates: lease-free callers stay lease-free)
    * and own-only (a lease-free writer sharing the dir must not
    * resurrect a crashed writer's marker forever). setTimes first (one
    * atomic driver call); when the filesystem ignored it (object
    * stores), rewrite the content epoch instead — staleness reads
    * max(mtime, epoch), so either refresh counts.
    *
    * Returns whether the lease is (still) OURS: `false` means the
    * marker is positively absent or positively held by someone else —
    * a writer that sees `false` after having acquired was reclaimed as
    * stale (a >TTL GC pause / partition) and MUST stop writing (the
    * fencing check [[graft.streaming.StreamOps.curationPipelineStart]]
    * runs per batch). An indeterminate read (an IO error, or a marker
    * whose body is not written yet) returns `true` only for a dir this
    * process acquired — a transient fs blip must not abort a live
    * writer; the next beat re-checks — and `false` otherwise: a process
    * that never acquired the lease cannot hold it, and the empty marker
    * is another process's acquire in flight. */
  def heartbeatIfHeld(conf: Configuration, dir: String): Boolean = {
    val f = fsFor(conf, dir)
    val p = path(dir)
    try {
      if (!f.exists(p)) return false // positively absent
      val h = readLease(f, p)._1
      if (h == "unknown") return acquiredHere(dir) // indeterminate: retry next beat
      if (h != holder()) return false // positively foreign: fence
      val now = System.currentTimeMillis()
      f.setTimes(p, now, -1)
      val applied =
        try f.getFileStatus(p).getModificationTime >= now - 1000L
        catch { case _: java.io.FileNotFoundException => true }
      if (!applied) {
        // (a reclaimer racing this PUT is the documented residual; the
        // caller-side fencing — fenceIfLost / the managed per-batch
        // check — turns any lost race into a one-batch abort)
        // object-store fallback: PUT a fresh body (new content epoch).
        // Check-then-act twice over: re-read the holder immediately
        // before the PUT (a reclaimer may have installed its lease
        // since the check above — do not clobber it), and verify after
        // (a racing PUT that landed on top of ours means ours lost —
        // report not-ours so a fenced writer aborts). Readers race a
        // PUT atomically (old or new object, never a torn read) on
        // stores; on local/HDFS setTimes already worked.
        if (readLease(f, p)._1 != holder()) return false
        val out = f.create(p, true)
        try out.write(leaseBody()) finally out.close()
        readLease(f, p)._1 == holder()
      } else true
    } catch { case _: java.io.IOException => acquiredHere(dir) } // indeterminate
  }

  /** Heartbeat + self-fence in one call — the per-batch discipline for
    * every leased WRITER path (index ingests, the managed pipeline):
    * refreshes this process's own lease if held, and THROWS when the
    * process had acquired this dir's lease but no longer holds it
    * (reclaimed as stale after a >TTL stall — GC pause, partition):
    * a zombie writer must abort before its batch appends under the new
    * holder's feet. Lease-free callers (never acquired) are never
    * fenced — for them this is exactly the refresh-only heartbeat. */
  def fenceIfLost(conf: Configuration, dir: String): Unit = {
    val ours = heartbeatIfHeld(conf, dir)
    if (!ours && acquiredHere(dir))
      throw new IllegalStateException(
        s"writer on $dir fenced: the lease this process acquired is no " +
          "longer ours (reclaimed as stale — this process stalled past " +
          "the lease TTL and another writer or maintenance process took " +
          "over). Aborting before a zombie write lands; re-run once the " +
          "new holder is done.")
  }

  /** Run a maintenance fold HOLDING the lease: merely checking the
    * marker is absent would let a writer acquire it and start
    * appending in the middle of the fold's swap (and two maintenance
    * processes would race each other's rewrite). Pass-through when
    * this PROCESS already holds the lease — the owner cannot race
    * itself and keeps its lease; otherwise acquire (live foreign lease
    * refuses, stale reclaims — [[acquire]]'s contract) and release in
    * finally (own-only: a mid-fold reclaim must not see its successor's
    * marker deleted by our cleanup).
    *
    * A daemon thread heartbeats every ttl/4 WHILE the fold runs — in
    * both modes: a fold longer than the TTL (the expected case for a
    * 100 TB compaction, and equally for the managed stop path's
    * pass-through compact, where no micro-batches beat anymore) must
    * not go stale mid-swap and get reclaimed — the mid-swap corruption
    * this lease exists to prevent. A beat that POSITIVELY observes the
    * lease gone/foreign mid-fold latches the loss: it is logged the
    * moment it is seen, and a completed fold still FAILS (the swap may
    * have raced the new holder — the caller must not trust it).
    *
    * In-process exclusion rides the same call: two sibling verbs in one
    * process would both pass the own-marker check, and the first to
    * finish would release the lease under the second's fold — so entry
    * takes a per-dir reentrant tryLock and a contended call refuses
    * exactly like the cross-process path. */
  def withHeld[A](conf: Configuration, dir: String, ttlMs: Long,
                  what: String)(body: => A): A = {
    val lock = lockFor(dir)
    if (!lock.tryLock())
      throw new IllegalStateException(
        s"$what lease on $dir refused: another thread in this process " +
          "is holding the lease for its own fold — the single-writer " +
          "contract applies in-process too. Wait for it to finish.")
    try {
      val f = fsFor(conf, dir)
      val p = path(dir)
      val ownAlready =
        try f.exists(p) && readLease(f, p)._1 == holder()
        catch { case _: java.io.FileNotFoundException => false }
      if (!ownAlready) acquire(conf, dir, ttlMs, what)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val lost = new java.util.concurrent.atomic.AtomicBoolean(false)
      val period = math.max(200L, ttlMs / 4)
      val beat = new Thread(() => {
        while (!stop.get()) {
          try {
            if (!stop.get() && !heartbeatIfHeld(conf, dir) && !stop.get() &&
                lost.compareAndSet(false, true))
              System.err.println(
                s"[graft] $what on $dir LOST its lease mid-fold (marker " +
                  "gone or foreign): another process reclaimed it — the " +
                  "fold will fail at the end rather than trust its swap.")
          } catch { case _: Throwable => () } // next beat retries
          try Thread.sleep(period)
          catch { case _: InterruptedException => () }
        }
      }, s"graft-lease-heartbeat:$dir")
      beat.setDaemon(true)
      beat.start()
      try {
        val result = body
        if (lost.get())
          throw new IllegalStateException(
            s"$what on $dir lost its lease MID-FOLD (reclaimed by " +
              "another process after a heartbeat gap): the fold " +
              "completed but its swap may have raced the new holder — " +
              "verify the directory before trusting it, then re-run.")
        result
      } finally {
        stop.set(true)
        beat.interrupt()
        try beat.join(2000L) catch { case _: InterruptedException => () }
        if (!ownAlready) release(conf, dir)
        // a beat wedged in slow fs I/O past the join can resurrect the
        // marker (its object-store fallback PUT) AFTER the release —
        // wait it out and release again so no orphaned live-looking
        // lease wedges the dir for a TTL
        if (beat.isAlive) {
          try beat.join(10000L) catch { case _: InterruptedException => () }
          if (!ownAlready) release(conf, dir)
          if (beat.isAlive) System.err.println(
            s"[graft] lease heartbeat thread for $dir is wedged in fs " +
              "I/O; if a stray _lease marker remains it expires after " +
              "its TTL.")
        }
      }
    } finally lock.unlock()
  }

  // ------------------------------------------------------- Spark façade
  // The engine's call sites hold a SparkSession; the Configuration core
  // above is what a Spark-free process (the two-process integration
  // test's fork helper, an ops script) uses directly. Scala permits
  // default arguments on only one overload per name — they live here.

  /** [[acquire]] with the session's Hadoop configuration. */
  def acquire(spark: SparkSession, dir: String,
              ttlMs: Long = DefaultTtlMs,
              what: String = "writer"): Unit =
    acquire(confOf(spark), dir, ttlMs, what)

  /** [[release]] with the session's Hadoop configuration. */
  def release(spark: SparkSession, dir: String): Unit =
    release(confOf(spark), dir)

  /** [[heartbeatIfHeld]] with the session's Hadoop configuration. */
  def heartbeatIfHeld(spark: SparkSession, dir: String): Boolean =
    heartbeatIfHeld(confOf(spark), dir)

  /** [[fenceIfLost]] with the session's Hadoop configuration. */
  def fenceIfLost(spark: SparkSession, dir: String): Unit =
    fenceIfLost(confOf(spark), dir)

  /** [[withHeld]] with the session's Hadoop configuration. */
  def withHeld[A](spark: SparkSession, dir: String,
                  ttlMs: Long = DefaultTtlMs,
                  what: String = "maintenance")(body: => A): A =
    withHeld(confOf(spark), dir, ttlMs, what)(body)
}
