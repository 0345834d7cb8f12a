package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Writer mutex for a persisted index at `path`: an atomically-created
  * `<path>.lock` file serializes writers (build/append/retrain) against
  * each other (r10 ADVICE: an append's read-meta/write-meta could
  * interleave with a concurrent rebuild's swap and lose appended counts,
  * or write meta into a swapped-out tree). Reads take no lock — a probe
  * pins one committed [[IndexVersions]] root per plan and retries its
  * planning reads through [[IndexVersions.retryTransient]]. Waits up to
  * `waitMs` for a competing writer, then fails rather than proceeding
  * unserialized.
  *
  * Liveness (r16, r15 verdict #3): the lock is a LEASE, not a tombstone.
  * The holder heartbeats the lock file's mtime every leaseMs/3 while the
  * body runs; a waiter that observes the SAME mtime persist for a full
  * `graft.index.lock.leaseMs` (default 60 s) of its own elapsed time
  * treats the owner as dead and takes the lock over — no manual cleanup
  * after a crashed writer, and no cross-node clock comparison (skew
  * larger than the lease cannot steal a live lock; only a missing
  * heartbeat can lose one). The
  * takeover itself is race-free: a competitor must first RENAME the stale
  * lock aside (atomic — exactly one concurrent renamer succeeds) before
  * creating its own, so two waiters can never both "delete and recreate".
  * If a live owner loses its lease anyway (a GC pause longer than the
  * lease), release detects the foreign owner string and THROWS rather
  * than deleting the usurper's lock — the operator learns the exclusion
  * window was breached instead of silently racing.
  *
  * Atomicity of acquire (r11 review): local/file paths use NIO
  * `Files.createFile` (O_EXCL) because Hadoop's ChecksumFileSystem
  * implements `create(f, overwrite=false)` as a NON-atomic
  * exists-then-create; HDFS-like filesystems keep
  * `create(overwrite=false)`, which IS atomic there. Object stores
  * without atomic create-if-absent AND atomic rename (S3 before
  * conditional writes) can honor neither the mutex nor the takeover, so
  * acquire REFUSES such schemes up front (r16 verdict #4) rather than
  * silently not excluding: only schemes on [[AtomicSchemes]] are
  * accepted, and a deployment that knows its store is atomic (S3 with
  * conditional writes enabled, a custom connector) opts in with
  * `graft.index.lock.assumeAtomic=true` — coordinate writers externally
  * otherwise.
  *
  * Shared by [[IvfIndex]], [[MinhashIndex]] and [[ExactIndex]] (factored
  * in r14 so the persisted-index families keep ONE copy of the acquire
  * semantics).
  */
private[graft] object WriterLock {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Filesystem schemes known to provide BOTH atomic create-if-absent and
    * atomic single-file rename — the two primitives acquire and takeover
    * rest on. `file` uses NIO O_EXCL + POSIX rename; HDFS-family stores
    * are namespace-atomic; ABFS requires the hierarchical-namespace
    * (ADLS gen2) account type, where both are atomic. Everything else
    * (s3/s3a without conditional writes, gs, wasb, plain swift) must opt
    * in via `graft.index.lock.assumeAtomic`. */
  private[pipeline] val AtomicSchemes =
    Set("file", "hdfs", "viewfs", "webhdfs", "ofs", "o3fs", "abfs", "abfss")

  /** Lease duration: a lock whose mtime lags now by more than this is an
    * abandoned lock a waiter may take over. The holder heartbeats at a
    * third of it, so only a pause > 2/3 lease can lose a live lease. */
  def leaseMs(spark: SparkSession): Long =
    spark.conf.get("graft.index.lock.leaseMs", "60000").toLong

  def withLock[A](spark: SparkSession, path: String,
                  waitMs: Long = 600000L)(body: => A): A = {
    val conf = spark.sparkContext.hadoopConfiguration
    val lock = new org.apache.hadoop.fs.Path(s"$path.lock")
    val fs = lock.getFileSystem(conf)
    // capability gate (r16 verdict #4): on a store without atomic
    // create-if-absent + rename the "lock" would not actually exclude —
    // fail fast with the coordination message instead of racing silently
    if (!AtomicSchemes.contains(fs.getScheme.toLowerCase) &&
        !spark.conf.get("graft.index.lock.assumeAtomic", "false").toBoolean)
      throw new UnsupportedOperationException(
        s"filesystem scheme '${fs.getScheme}' is not known to provide the " +
          "atomic create-if-absent and atomic rename the index writer lock " +
          "requires; coordinate writers externally on this storage, or set " +
          "graft.index.lock.assumeAtomic=true if the store does provide " +
          "both (e.g. S3 with conditional writes)")
    val lease = leaseMs(spark)
    val owner =
      s"${java.lang.management.ManagementFactory.getRuntimeMXBean.getName} ${System.nanoTime()} ${Thread.currentThread().getId}"
    // "local" is decided by the filesystem the path RESOLVES to (r14
    // ADVICE): a scheme-less path under a non-file fs.defaultFS must take
    // the Hadoop branch — deciding off the raw URI scheme would acquire
    // via local NIO but release via the default filesystem
    val local = fs.getScheme == "file"
    def nioPath = java.nio.file.Paths.get(
      if (lock.toUri.getScheme == null) lock.toString else lock.toUri.getPath)
    // if the owner-write fails after create succeeded (disk full), delete
    // the just-created lock before rethrowing — otherwise every retry
    // fails FileAlreadyExists against the caller's own stale lock (r14
    // ADVICE)
    def tryAcquire(): Unit =
      if (local) {
        val nio = nioPath
        java.nio.file.Files.createFile(nio) // atomic O_EXCL
        try { java.nio.file.Files.write(nio, owner.getBytes("UTF-8")); () }
        catch { case e: Throwable =>
          java.nio.file.Files.deleteIfExists(nio); throw e }
      } else {
        val out = fs.create(lock, false)
        try { out.write(owner.getBytes("UTF-8")); out.close() }
        catch { case e: Throwable => fs.delete(lock, false); throw e }
      }
    /** The current lock file's content, or None if it vanished. */
    def ownerOf(): Option[String] =
      try {
        val in = fs.open(lock)
        try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
      } catch { case _: java.io.IOException => None }
    /** Claim an expired lease: rename the stale lock aside (atomic — one
      * winner among concurrent claimants), then drop the renamed file.
      * Loser's rename fails and it loops back to waiting.
      *
      * Staleness is decided by OBSERVED mtime stability, never by
      * comparing the holder's mtime against this waiter's clock (review
      * r16): cross-node clock skew larger than the lease would otherwise
      * steal a live, actively-heartbeating lock. The waiter records the
      * mtime it sees and takes over only after the SAME mtime has
      * persisted for a full lease of locally-elapsed time — a live
      * holder's heartbeat (lease/3 cadence) always changes it first. */
    var seenMtime = -1L
    var seenAt = 0L
    def tryTakeover(): Unit = {
      val mtime =
        try Some(fs.getFileStatus(lock).getModificationTime)
        catch { case _: java.io.FileNotFoundException => None }
      mtime match {
        case None => seenMtime = -1L
        case Some(mt) =>
          val now = System.currentTimeMillis()
          if (mt != seenMtime) { seenMtime = mt; seenAt = now }
          else if (now - seenAt > lease) {
            val claim = new org.apache.hadoop.fs.Path(
              s"$path.lock.stale.${java.util.UUID.randomUUID()}")
            val won = try fs.rename(lock, claim)
                      catch { case _: java.io.IOException => false }
            if (won) { fs.delete(claim, false); seenMtime = -1L; () }
          }
      }
    }
    val deadline = System.currentTimeMillis() + waitMs
    var acquired = false
    while (!acquired) {
      try { tryAcquire(); acquired = true }
      catch {
        case _: java.io.IOException if System.currentTimeMillis() < deadline =>
          tryTakeover()
          Thread.sleep(200)
        case e: java.io.IOException =>
          throw new IllegalStateException(
            s"index writer lock at $path.lock not acquired within ${waitMs}ms " +
              s"(concurrent writer holding a live lease under ${lease}ms heartbeats)", e)
      }
    }
    // heartbeat: keep the lease alive for as long as the body runs — a
    // long build must not look abandoned to waiters
    @volatile var beating = true
    val heartbeat = new Thread(() => {
      while (beating) {
        try Thread.sleep(math.max(lease / 3, 50L))
        catch { case _: InterruptedException => () }
        if (beating) {
          val now = System.currentTimeMillis()
          // catch NonFatal, not just IOException (r16 ADVICE): an
          // UnsupportedOperationException from fs.setTimes on a store
          // that lacks it would otherwise kill this thread silently and
          // let a waiter take over mid-body — keep beating (the attempt
          // itself may refresh mtime on some stores) and log loudly so
          // the operator sees the lease is not actually being renewed
          try {
            if (local)
              java.nio.file.Files.setLastModifiedTime(nioPath,
                java.nio.file.attribute.FileTime.fromMillis(now))
            else fs.setTimes(lock, now, -1)
          } catch { case scala.util.control.NonFatal(e) =>
            log.warn(s"writer-lock heartbeat on $path.lock failed " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage}); the lease " +
              "may expire under waiters if this persists")
          }
        }
      }
    }, s"graft-writer-lock-heartbeat")
    heartbeat.setDaemon(true)
    heartbeat.start()
    var bodyError: Throwable = null
    val result =
      try body
      catch { case t: Throwable => bodyError = t; null.asInstanceOf[A] }
    beating = false
    heartbeat.interrupt()
    heartbeat.join(5000)
    // Release mirrors the takeover protocol (r16 ADVICE): atomically
    // rename the lock to a unique tombstone FIRST, then inspect what we
    // renamed. The old check-then-act (read owner, then delete) had a
    // window where a waiter whose stability clock just elapsed could
    // rename the lock aside and create its own between our read and our
    // delete — we would then delete the usurper's fresh lock and let a
    // third writer in. With rename-as-claim, a concurrent takeover makes
    // OUR rename fail instead of us deleting a foreign lock.
    val tomb = new org.apache.hadoop.fs.Path(
      s"$path.lock.released.${java.util.UUID.randomUUID()}")
    var restoreFailed = false
    val renamed = try fs.rename(lock, tomb)
                  catch { case _: java.io.IOException => false }
    val cleanRelease =
      if (!renamed) false // lock already renamed aside / replaced: breach
      else {
        // read what we renamed, RETRYING through transient store hiccups
        // (r17 review: one failed read used to be misclassified as "we
        // renamed a usurper's lock" — our own healthy release then threw
        // a spurious breach and restored a dead, never-heartbeated lock)
        var tombOwner: Option[String] = None
        var attempt = 0
        while (tombOwner.isEmpty && attempt < 5) {
          attempt += 1
          try {
            val in = fs.open(tomb)
            try tombOwner = Some(new String(in.readAllBytes(), "UTF-8"))
            finally in.close()
          } catch {
            case _: java.io.IOException if attempt < 5 => Thread.sleep(100)
            case _: java.io.IOException => ()
          }
        }
        tombOwner match {
          case Some(o) if o == owner => fs.delete(tomb, false); true
          case Some(_) =>
            // we renamed a USURPER's lock aside (the lease was lost
            // mid-body and a new owner claimed it): restore their lock
            // best-effort before surfacing the breach. If a third waiter
            // created a fresh lock meanwhile the restore rename FAILS —
            // the usurper then believes it holds a lock that no longer
            // exists while the third writer proceeds, so the failure is
            // logged and carried into the breach exception (r17 ADVICE:
            // it used to be swallowed silently).
            val restored =
              try fs.rename(tomb, lock)
              catch { case _: java.io.IOException => false }
            if (!restored) {
              restoreFailed = true
              log.warn(s"restoring the usurper's lock at $path.lock " +
                "failed (a third writer likely created a fresh lock): " +
                "TWO writers may now believe they hold the lock")
            }
            false
          case None =>
            // persistently unreadable: INDETERMINATE, not a proven
            // breach. Restore the file to the lock position (if it was
            // ours it is dead and the stability takeover reclaims it in
            // one lease; if it was a usurper's it keeps excluding) and
            // say exactly what happened — never silently delete what
            // might be a foreign lock.
            try { fs.rename(tomb, lock); () }
            catch { case _: java.io.IOException => () }
            val e = new IllegalStateException(
              s"indeterminate release of $path.lock: the renamed lock " +
                "file could not be read back after 5 attempts; the lock " +
                "was restored and will clear via lease takeover")
            if (bodyError != null) { bodyError.addSuppressed(e); throw bodyError }
            throw e
        }
      }
    if (!cleanRelease) {
      // the lease expired mid-body and another writer took (or is
      // taking) over: surface the breach — the body's writes may have
      // raced the new owner's. A body error still takes precedence
      // (the breach rides as suppressed).
      val breach = new IllegalStateException(
        s"writer lease on $path.lock lost while the body ran " +
          s"(current owner: ${ownerOf().getOrElse("<gone>")}): increase " +
          "graft.index.lock.leaseMs beyond worst-case pauses" +
          (if (restoreFailed)
            "; ADDITIONALLY the usurper's lock could not be restored " +
              "after being renamed aside — a third writer holds a fresh " +
              "lock and TWO writers may be live"
          else ""))
      if (bodyError != null) { bodyError.addSuppressed(breach); throw bodyError }
      throw breach
    }
    if (bodyError != null) throw bodyError
    result
  }
}
