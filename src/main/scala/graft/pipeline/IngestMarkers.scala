package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The applied-marker half of the persisted-index ingest protocol, shared
  * by [[MinhashIndex]] and [[ExactIndex]] (r15 — the r14 verdict asked the
  * exact-digest index to reuse the minhash WriterLock/marker/compact
  * machinery rather than grow a second copy):
  *
  *  - a marker at `<path>/applied/<tag>` records an ingest tag's surviving
  *    ids, written AFTER the tag's append commits; `_SUCCESS` is the
  *    atomicity marker (a dir without it is NOT applied);
  *  - replay detection reads the marker and reproduces the original
  *    decision without touching the index;
  *  - markers are prunable once the ingest's own commit point passes (for
  *    a streaming gate: once the checkpoint commits the batch).
  *
  * [[IndexVersions.replace]] carries the markers into every new version;
  * the reader retry lives there too ([[IndexVersions.retryTransient]]).
  */
private[pipeline] object IngestMarkers {

  def sanitizeTag(t: String): String =
    t.map(c => if (c.isLetterOrDigit || c == '_' || c == '-') c else '_')

  /** The marker tag a streaming gate uses for a micro-batch — ONE place
    * owns the format, so retention policies never reverse-engineer it. */
  def batchTag(batchId: Long): String = s"b$batchId"

  /** Surviving ids recorded for an applied ingest `tag`, or None if the
    * tag was never (completely) marked applied. `path` is the INDEX path;
    * the marker tree lives in the current version's root. */
  def appliedMarker(spark: SparkSession, path: String,
                    tag: String): Option[DataFrame] = {
    val p = s"${IndexVersions.currentRoot(spark, path)}/applied/${sanitizeTag(tag)}"
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      Some(spark.read.parquet(p))
    else None
  }

  /** Record an ingest `tag`'s surviving ids (one column). Resolves the
    * current root — callers holding the writer lock with a root already
    * in hand should use [[writeAppliedMarkerAt]] so the marker cannot
    * land in an outgoing version (r15 review). */
  def writeAppliedMarker(survivorIds: DataFrame, path: String,
                         tag: String): Unit =
    writeAppliedMarkerAt(survivorIds,
      IndexVersions.currentRoot(survivorIds.sparkSession, path), tag)

  /** [[writeAppliedMarker]] against a RESOLVED root. */
  def writeAppliedMarkerAt(survivorIds: DataFrame, root: String,
                           tag: String): Unit =
    survivorIds.coalesce(1).write.mode("overwrite")
      .parquet(s"$root/applied/${sanitizeTag(tag)}")

  /** Tags under the current root's `applied/` whose marker is COMPLETE
    * (`_SUCCESS` present) — compaction's definition of "applied" must
    * match [[appliedMarker]]'s, or a half-written marker folds its tag
    * (r14 ADVICE). */
  def markedTags(spark: SparkSession, path: String): Seq[String] = {
    val applied = new org.apache.hadoop.fs.Path(
      s"${IndexVersions.currentRoot(spark, path)}/applied")
    val fs = applied.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(applied))
      fs.listStatus(applied).toSeq.map(_.getPath)
        .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
        .map(_.getName)
    else Nil
  }

  /** Number of ingest tags that are APPLIED (marker complete) and still
    * hold their own partition under `<root>/<dataDir>` — the directories a
    * compact would fold into base. The auto-compaction trigger
    * ([[graft.streaming.StreamingOps]] gates) keys on this, NOT on the
    * marker count: markers survive compaction (they are replay evidence),
    * so counting them would re-fire every batch. */
  def foldablePendingTags(spark: SparkSession, path: String,
                          dataDir: String): Int = {
    val root = IndexVersions.currentRoot(spark, path)
    val dir = new org.apache.hadoop.fs.Path(s"$root/$dataDir")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) 0
    else {
      val marked = markedTags(spark, path).toSet
      fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .collect { case s if s.startsWith("ingest=") => s.stripPrefix("ingest=") }
        .count(t => t != "base" && marked(t))
    }
  }

  /** Delete the streaming gate's applied markers for batches BELOW
    * `horizonBatchId` (commit-horizon retention). Non-batch tags are left
    * alone. @return raw tags actually removed. */
  def pruneAppliedMarkersBelow(spark: SparkSession, path: String,
                               horizonBatchId: Long): Seq[String] = {
    val B = "b(\\d+)".r
    pruneAppliedMarkers(spark, path, keep = {
      case B(id) => id.toLong >= horizonBatchId
      case _ => true
    })
  }

  /** Delete applied markers whose DIRECTORY NAME fails `keep`. Deletion
    * invalidates `_SUCCESS` FIRST so a crash or non-atomic object-store
    * delete can never leave a directory that still looks applied.
    *
    * Runs under the index's [[WriterLock]] (r15 ADVICE): an unlocked prune
    * racing a compact's copyApplied could delete a marker file between the
    * copy's list and read (failing the copy mid-flight), or finish after
    * the snapshot and resurrect the pruned marker in the newly committed
    * version. The root is resolved INSIDE the lock for the same reason.
    * @return names actually removed (both deletes verified). */
  def pruneAppliedMarkers(spark: SparkSession, path: String,
                          keep: String => Boolean): Seq[String] =
    IndexVersions.inPlace(spark, path) { root =>
      val dir = new org.apache.hadoop.fs.Path(s"$root/applied")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq.map(_.getPath)
        .filterNot(p => keep(p.getName))
        .flatMap { p =>
          val success = new org.apache.hadoop.fs.Path(p, "_SUCCESS")
          val invalidated = !fs.exists(success) || fs.delete(success, false)
          if (invalidated && fs.delete(p, true)) Some(p.getName) else None
        }
    }

  /** Copy the applied tree from one RESOLVED data root into a staged
    * version's root so markers survive the version flip. Both arguments
    * are resolved roots, NOT index paths. */
  def copyApplied(spark: SparkSession, fromRoot: String,
                  toRoot: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val applied = new org.apache.hadoop.fs.Path(s"$fromRoot/applied")
    val fs = applied.getFileSystem(conf)
    if (fs.exists(applied)) {
      org.apache.hadoop.fs.FileUtil.copy(fs, applied, fs,
        new org.apache.hadoop.fs.Path(s"$toRoot/applied"), false, conf)
      ()
    }
  }
}
