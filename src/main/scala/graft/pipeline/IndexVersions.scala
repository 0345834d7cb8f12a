package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Versioned index layout (r15, r14 verdict #2) — replaces the
  * rename-aside IndexSwap (removed r15) whose reader contract ("quiesce probes
  * around compaction/retrain") a serving cluster cannot honor.
  *
  * Layout: the index data trees live under `<path>/v=N/...`; a version is
  * VISIBLE once `<path>/v=N/_COMMITTED` exists (one atomic file create —
  * no rename-overwrite semantics, so the flip works on any filesystem
  * where file creation is atomically visible, object stores included).
  *
  * Reader contract: resolve [[currentRoot]] ONCE at plan creation (every
  * probe/topK entry does) — the returned tree's files are immutable, so an
  * in-flight plan is never invalidated by a concurrent maintenance write.
  * Maintenance (compact/retrain/rebuild) stages the new tree at v=N+1,
  * commits it, and GARBAGE-COLLECTS only versions that are BOTH two or
  * more cycles old AND were superseded at least [[minRetainMs]] ago (r16:
  * the age floor) — so the version a plan pinned survives one full
  * maintenance cycle at minimum, and survives maintenance BURSTS for as
  * long as the configured retention (set it ≥ the longest query wall; a
  * plan older than that can lose files).
  *
  * Legacy layout (data trees directly under `path`, pre-r15) is read
  * transparently: [[currentRoot]] falls back to `path` when no committed
  * version exists; the first versioned maintenance write leaves the legacy
  * trees in place as the grace "version" and a later one removes them once
  * the age floor passes (immediately, under `minRetainMs = 0`).
  *
  * This object owns the whole lifecycle of all three index families
  * ([[IvfIndex]], [[MinhashIndex]], [[ExactIndex]]): the two writer forms
  * ([[replace]] for a new version, [[inPlace]] for an append inside the
  * current one, both under [[WriterLock]]), carrying the `applied/`
  * ingest markers across the flip, commit, GC, and the one reader retry
  * ([[retryTransient]]). Each family supplies only its payload write and
  * names its payload dirs.
  */
private[pipeline] object IndexVersions {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val V = "^v=(\\d+)$".r

  private def fsOf(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** (version, committed?) pairs of every `v=N` dir under `path`
    * ([[IndexStats]] reads this listing for observability). */
  private[pipeline] def versions(spark: SparkSession,
                                 path: String): Seq[(Int, Boolean)] = {
    val (fs, p) = fsOf(spark, path)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.flatMap { st =>
      st.getPath.getName match {
        case V(n) if st.isDirectory =>
          Some((n.toInt, fs.exists(
            new org.apache.hadoop.fs.Path(st.getPath, "_COMMITTED"))))
        case _ => None
      }
    }
  }

  /** The data root a READER should use right now: the highest committed
    * version, or `path` itself for a legacy (unversioned) index. Resolve
    * once per plan. */
  def currentRoot(spark: SparkSession, path: String): String =
    versions(spark, path).filter(_._2).map(_._1).maxOption
      .map(n => s"$path/v=$n").getOrElse(path)

  /** Mutate the CURRENT version in place (appends, marker pruning):
    * `body` gets the root resolved under the writer lock — appends land
    * inside the current version (additive partitions; safe under
    * serving), and no concurrent commit can retire the root mid-body. */
  def inPlace[A](spark: SparkSession, path: String)(body: String => A): A =
    WriterLock.withLock(spark, path) { body(currentRoot(spark, path)) }

  /** Write a full REPLACEMENT version (build/compact/retrain): under the
    * writer lock, resolve the previous root, [[stage]] the next version,
    * run the family's payload `write(previousRoot, stagedRoot)`, carry the
    * applied markers forward (replay evidence must survive the flip), then
    * [[commit]]. A failure anywhere before the commit leaves the staged
    * tree invisible, and the next replace clears it. `dataDirs` are the
    * family's payload dirs (see [[legacyDirs]]). `lockHeld` is for a
    * caller already inside the writer lock (IVF's auto-retrain at the end
    * of an append). */
  def replace[A](spark: SparkSession, path: String, dataDirs: Seq[String],
                 lockHeld: Boolean = false)(write: (String, String) => A): A = {
    def run(): A = {
      val prev = currentRoot(spark, path)
      val staged = stage(spark, path)
      val out = write(prev, staged)
      IngestMarkers.copyApplied(spark, prev, staged)
      commit(spark, path, staged, legacyDirs(dataDirs))
      out
    }
    if (lockHeld) run() else WriterLock.withLock(spark, path)(run())
  }

  /** The trees a legacy (unversioned) index of a family holds at its
    * root — the family's payload `dataDirs` plus the `applied` markers
    * every family carries — and so what legacy GC deletes. */
  private[pipeline] def legacyDirs(dataDirs: Seq[String]): Seq[String] =
    dataDirs :+ "applied"

  /** Staging root for a full REPLACEMENT tree (build/compact/retrain):
    * `<path>/v=N+1`, invisible to readers until [[commit]]. Also clears
    * any stale uncommitted staging dir left by a crashed writer (safe: we
    * hold the writer lock, and uncommitted dirs are invisible). Call under
    * the writer lock. */
  def stage(spark: SparkSession, path: String): String = {
    val vs = versions(spark, path)
    val (fs, _) = fsOf(spark, path)
    vs.filterNot(_._2).foreach { case (n, _) =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/v=$n"), true)
    }
    val next = vs.filter(_._2).map(_._1).maxOption.getOrElse(0) + 1
    s"$path/v=$next"
  }

  /** Minimum time a superseded version survives after it stopped being
    * current, regardless of how many maintenance cycles have passed (r15
    * verdict #2 / ADVICE: a cycle-counted grace window lets two
    * back-to-back commits — compact then retrain — delete the root a slow
    * in-flight probe pinned). Set it to at least the longest query wall
    * the deployment serves; 0 restores pure cycle-counted GC. */
  def minRetainMs(spark: SparkSession): Long =
    spark.conf.get("graft.index.gc.minRetainMs", "900000").toLong

  /** Disk-safety valve on the age floor (review r16): each retained
    * version is a FULL copy of the index, and a high-frequency maintainer
    * (a streaming gate auto-compacting every few seconds) multiplied by a
    * 15-minute floor would hold hundreds of copies. At most this many
    * superseded versions are kept regardless of age — beyond it the
    * OLDEST go first, so a probe's exposure window under maintenance
    * bursts is maxRetained cycles instead of the floor. Size the pair so
    * floor / (compaction period) ≤ maxRetained in your deployment. */
  def maxRetained(spark: SparkSession): Int =
    spark.conf.get("graft.index.gc.maxRetained", "16").toInt

  /** Epoch ms at which version `m` was SUPERSEDED: the commit time of the
    * smallest committed version above it (a plan can have pinned `m` right
    * up to that instant). */
  private[pipeline] def supersededAt(fs: org.apache.hadoop.fs.FileSystem,
                                     path: String, committed: Seq[Int],
                                     m: Int): Long =
    committed.filter(_ > m).minOption
      .map { s =>
        // a successor already GC'd in this pass was itself superseded long
        // enough ago — anything below it is at least as old
        try fs.getFileStatus(
          new org.apache.hadoop.fs.Path(s"$path/v=$s/_COMMITTED"))
          .getModificationTime
        catch { case _: java.io.FileNotFoundException => 0L }
      }
      .getOrElse(Long.MaxValue)

  /** Make the staged version visible (atomic `_COMMITTED` create) and GC
    * superseded versions: a committed version ≤ N-2 (and the legacy root
    * trees once N ≥ 2) is deleted only when it ALSO stopped being current
    * at least [[minRetainMs]] ago — the age floor that keeps a slow
    * in-flight probe's pinned root alive through maintenance bursts. The
    * newest superseded version (N-1, the grace copy) always survives one
    * full cycle as before. Call under the writer lock. */
  def commit(spark: SparkSession, path: String, stagedRoot: String,
             legacyDirs: Seq[String]): Unit = {
    val (fs, _) = fsOf(spark, path)
    val n = stagedRoot.substring(stagedRoot.lastIndexOf("v=") + 2).toInt
    val committedFile = new org.apache.hadoop.fs.Path(s"$stagedRoot/_COMMITTED")
    // one create of an EMPTY file: the marker has no body to tear, so a
    // marker that exists always means the version is committed;
    // create(overwrite=false) throws if it exists (commit-once)
    val ok = try { fs.create(committedFile, false).close(); true }
             catch { case _: java.io.IOException => false }
    require(ok, s"could not commit index version $n at $path")
    val floor = minRetainMs(spark)
    val cap = math.max(maxRetained(spark), 1)
    // "now" comes from the STORAGE clock — the just-created _COMMITTED's
    // own mtime — so the age comparison below is same-clock against the
    // older _COMMITTED mtimes (r16 ADVICE: comparing this client's
    // System.currentTimeMillis against the storage server's mtimes
    // shortens the retention floor by the clock skew, exactly the
    // cross-clock trap WriterLock was redesigned out of). Skew between
    // DIFFERENT storage nodes of one store is assumed ≪ minRetainMs.
    val now =
      try fs.getFileStatus(committedFile).getModificationTime
      catch { case _: java.io.IOException => System.currentTimeMillis() }
    val committed = (versions(spark, path).filter(_._2).map(_._1) :+ n)
      .distinct.sorted
    val superseded = committed.filter(_ <= n - 2)
    // oldest-first beyond the cap, age floor within it
    val overCap = superseded.sorted.dropRight(cap).toSet
    if (overCap.nonEmpty)
      log.warn(s"index GC at $path: ${overCap.size} superseded version(s) " +
        s"exceed graft.index.gc.maxRetained=$cap and are deleted before the " +
        s"age floor (${floor}ms); maintenance is cycling faster than " +
        "floor/cap — slow it down or raise the cap if probes run long")
    superseded.foreach { m =>
      if (overCap(m) || now - supersededAt(fs, path, committed, m) >= floor) {
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/v=$m"), true)
        ()
      }
    }
    // legacy trees were superseded when the FIRST version committed.
    // They sit outside the v=N numbering, so the maxRetained cap cannot
    // order them; they honor the age floor only — one extra retained
    // copy at most, gone after the first post-floor maintenance write.
    if (n >= 2 &&
        now - supersededAt(fs, path, committed, 0) >= floor)
      legacyDirs.foreach { d =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/$d"), true)
        ()
      }
  }

  /** Retry a read that can transiently fail while a writer changes the
    * small meta/listing files, or while GC retires the root a reader just
    * resolved. A retried block must resolve the root itself, so a retry
    * never re-reads a deleted root. */
  def retryTransient[T](f: => T, attempts: Int = 5): T = {
    var left = attempts
    while (true) {
      try return f
      catch {
        case e: Exception if left > 0 && isTransient(e) =>
          left -= 1; Thread.sleep(200)
      }
    }
    sys.error("unreachable")
  }

  private def isTransient(e: Throwable): Boolean = {
    val m = Option(e.getMessage).getOrElse("")
    e.isInstanceOf[java.io.FileNotFoundException] ||
      m.contains("does not exist") || m.contains("infer schema") ||
      m.contains("PATH_NOT_FOUND") || m.contains("UNABLE_TO_INFER") ||
      (e.getCause != null && isTransient(e.getCause))
  }
}
