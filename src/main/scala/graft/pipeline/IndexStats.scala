package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Read-only observability over a persisted index tree (r16 verdict #5):
  * one row per [[IndexVersions]] version (plus the legacy root when
  * pre-versioned trees still exist), with the GC disposition each version
  * currently holds, the on-disk footprint, the index family, the pending
  * foldable ingest tags, the newest applied STREAMING batch
  * (`last_batch_tag`/`last_batch_rows` — the gate-progress observables
  * that move micro-batch by micro-batch, r17 verdict #6), and the family
  * meta rendered as `k=v` pairs. Exposed to SQL/JDBC as
  * `GRAFT_INDEX_STATS(index)`.
  *
  * `retained_by` tokens (mirroring [[IndexVersions.commit]]'s GC rule):
  *  - `current`: the version probes resolve right now
  *  - `staging`: an uncommitted tree (invisible to readers; a crashed
  *    writer's leftovers — the next staged write clears it)
  *  - `grace`: the newest superseded version (always survives one cycle)
  *  - `floor`: superseded less than `graft.index.gc.minRetainMs` ago
  *  - `expired`: past the floor — deleted at the next maintenance commit
  *  - `cap`: beyond `graft.index.gc.maxRetained` — deleted at the next
  *    maintenance commit regardless of age
  *  - `legacy`: pre-versioned trees at the root (age-floored like a
  *    version, exempt from the cap — see IndexVersions.commit)
  *
  * No writer lock: this is a listing bounded by the version count
  * (≤ cap + 2 by construction) — safe concurrent with maintenance, and a
  * version deleted mid-listing simply reports zero footprint.
  */
object IndexStats {

  private def contentOf(fs: org.apache.hadoop.fs.FileSystem,
                        dir: org.apache.hadoop.fs.Path): (Long, Long) =
    try {
      val s = fs.getContentSummary(dir)
      (s.getFileCount, s.getLength)
    } catch { case _: java.io.IOException => (0L, 0L) }

  /** Family of the tree rooted at `root`: exact|minhash|ann|unknown. */
  private def familyOf(fs: org.apache.hadoop.fs.FileSystem,
                       root: String): String = {
    def has(d: String) =
      try fs.exists(new org.apache.hadoop.fs.Path(s"$root/$d"))
      catch { case _: java.io.IOException => false }
    if (has("digests")) "exact"
    else if (has("buckets")) "minhash"
    else if (has("centroids")) "ann"
    else "unknown"
  }

  /** The family meta rendered `k=v,...` (columns sorted by name; the
    * newest row where the family appends meta). Empty when no meta tree
    * exists. */
  private def metaSummary(spark: SparkSession, root: String): String =
    try {
      val df = spark.read.option("mergeSchema", "true").parquet(s"$root/meta")
      // IVF orders its rows by meta_seq; a minhash count only grows
      val newest = Seq("meta_seq", "n_docs").find(df.columns.contains)
      val row = newest.fold(df.head())(c =>
        df.orderBy(org.apache.spark.sql.functions.col(c).desc_nulls_last).head())
      df.columns.sorted.map { c =>
        s"$c=${Option(row.getAs[Any](c)).getOrElse("null")}"
      }.mkString(",")
    } catch { case scala.util.control.NonFatal(_) => "" }

  def stats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = IndexVersions.versions(spark, path).sortBy(_._1)
    val committed = vs.filter(_._2).map(_._1)
    val currentV = committed.maxOption
    val floor = IndexVersions.minRetainMs(spark)
    val cap = math.max(IndexVersions.maxRetained(spark), 1)
    // same-clock "now": the storage mtime of the path itself is not
    // refreshed by children on HDFS-likes, so for OBSERVING we accept the
    // client clock — dispositions near the floor boundary are advisory
    // (the GC itself uses the storage clock, IndexVersions.commit)
    val now = System.currentTimeMillis()
    val superseded = currentV.map(n => committed.filter(_ <= n - 2))
      .getOrElse(Nil)
    val overCap = superseded.sorted.dropRight(cap).toSet
    def disposition(v: Int, isCommitted: Boolean): (Option[Long], String) =
      if (!isCommitted) (None, "staging")
      else if (currentV.contains(v)) (None, "current")
      else {
        val at = IndexVersions.supersededAt(fs, path, committed, v)
        val label =
          if (currentV.exists(_ - 1 == v)) "grace"
          else if (overCap(v)) "cap"
          else if (at == Long.MaxValue || now - at < floor) "floor"
          else "expired"
        (Some(at).filter(_ != Long.MaxValue), label)
      }
    val currentRoot = IndexVersions.currentRoot(spark, path)
    val family = familyOf(fs, currentRoot)
    val pendingTags = family match {
      case "exact" => IngestMarkers.foldablePendingTags(spark, path, "digests")
      case "minhash" => IngestMarkers.foldablePendingTags(spark, path, "buckets")
      case _ => 0
    }
    // streaming-gate progress (r17 verdict #6): the highest APPLIED batch
    // marker (`b<id>`, written by the incremental gates' foreachBatch
    // commit protocol) and its recorded survivor count — the observable
    // that moves batch-by-batch while a gate runs. One dir listing plus
    // one single-file marker count, only when batch markers exist;
    // non-batch tags (DDL/client appends) do not participate.
    val lastBatch = IngestMarkers.markedTags(spark, path)
      .flatMap { t => "b(\\d+)".r.unapplySeq(t).flatMap(_.headOption)
        .map(id => (id.toLong, t)) }
      .maxByOption(_._1)
    val (lastBatchTag, lastBatchRows) = lastBatch match {
      case Some((_, t)) =>
        val rows = IngestMarkers.appliedMarker(spark, path, t)
          .map(_.count()).getOrElse(-1L)
        (t, rows)
      case None => ("", -1L)
    }
    val meta = metaSummary(spark, currentRoot)
    val versionRows = vs.map { case (v, c) =>
      val (at, label) = disposition(v, c)
      val (files, bytes) = contentOf(fs,
        new org.apache.hadoop.fs.Path(s"$path/v=$v"))
      (v, c, currentV.contains(v), at, label, files, bytes)
    }
    // pre-versioned trees directly at the root (the legacy "version")
    val legacyRows =
      if (familyOf(fs, path) != "unknown" && path != currentRoot) {
        val at = IndexVersions.supersededAt(fs, path, committed, 0)
        // the DETECTED family's own DataDirs list (r17 ADVICE: the
        // all-family union was correct only while no two families share
        // a dir name — a family adding an overlapping subtree would have
        // double-counted); still owned by the kernels, so a family
        // adding a subtree stays covered automatically
        val familyDirs = IndexVersions.legacyDirs(familyOf(fs, path) match {
          case "exact" => ExactIndex.DataDirs
          case "minhash" => MinhashIndex.DataDirs
          case "ann" => IvfIndex.DataDirs
          case _ => (ExactIndex.DataDirs ++ MinhashIndex.DataDirs ++
            IvfIndex.DataDirs).distinct
        })
        val (files, bytes) = familyDirs
          .map(d => contentOf(fs, new org.apache.hadoop.fs.Path(s"$path/$d")))
          .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
        Seq((-1, true, false, Some(at).filter(_ != Long.MaxValue),
          "legacy", files, bytes))
      } else if (vs.isEmpty && familyOf(fs, path) != "unknown") {
        val (files, bytes) = contentOf(fs, p)
        Seq((-1, true, true, Option.empty[Long], "current", files, bytes))
      } else Nil
    (legacyRows ++ versionRows)
      .toDF("version", "committed", "current", "superseded_at_ms",
        "retained_by", "files", "bytes")
      .withColumn("family", org.apache.spark.sql.functions.lit(family))
      .withColumn("pending_tags",
        org.apache.spark.sql.functions.lit(pendingTags))
      .withColumn("last_batch_tag",
        org.apache.spark.sql.functions.lit(lastBatchTag))
      .withColumn("last_batch_rows",
        org.apache.spark.sql.functions.lit(lastBatchRows))
      .withColumn("meta", org.apache.spark.sql.functions.lit(meta))
  }
}
