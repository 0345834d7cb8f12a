package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted exact-dedup digest index: digest the corpus ONCE, gate every
  * new ingest batch against the stored digests — the exact-dedup analogue
  * of [[MinhashIndex]] (r14 verdict #3). [[Dedup.incrementalExactDedup]]
  * re-derives the corpus's distinct digests per call, which is right for
  * an ad-hoc comparison and a full corpus scan per ingest at 100 TB; with
  * the index an ingest pays the batch's own md5 map plus one digest
  * equi-join against the stored rows, and accepted survivors are APPENDED
  * so the next batch dedups against them too — the corpus text is never
  * re-read.
  *
  * Layout at `path` (the [[MinhashIndex]] shape, shared protocol objects):
  *  - `<path>/digests`: (id, h) — one row per distinct indexed text;
  *    `id` is the keeper (MIN id that owns digest `h`), carried so the
  *    keep-min replay rule can tell "my own appended copy" from a genuine
  *    corpus duplicate. Partitioned by an `ingest` tag (`base` + one per
  *    append); a re-written tag REPLACES its rows — replay-idempotent.
  *  - `<path>/meta`: (n_docs) — EXACTLY the stored digest rows; one row
  *    per meta write, append-only within a version (see [[writeMeta]]).
  *  - `<path>/tagmeta`: (tag, n_rows) per ingest partition (r17, r16
  *    verdict #6) — appends footer-count ONLY the tag they wrote and sum
  *    the rest from here (one directory listed instead of the whole
  *    tree); a tag orphaned by a crash before its meta write is missing
  *    from tagmeta and reconciles by a footer count on the next write.
  *  - `<path>/applied/<tag>`: survivor markers ([[IngestMarkers]]).
  *
  * Writers serialize via [[WriterLock]]; probes resolve the current
  * [[IndexVersions]] version once per plan and never lock. Compact folds
  * marked tags into `base` and commits a new version — non-disruptive to
  * in-flight probes (the previous version is the grace copy).
  */
object ExactIndex {

  /** Digest rows of `docs`: (id = min owner, h = md5(text)), one per
    * distinct text. NULL texts are excluded, matching
    * [[Dedup.exactDedup]]'s groupBy-on-digest semantics. */
  private def digestRows(docs: DataFrame, textCol: String,
                         idCol: String): DataFrame =
    docs.where(col(textCol).isNotNull)
      .groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("id"))
      .select(col("id"), col("h"))

  /** Digest tree width: rows are tiny (a 32-char digest + an id), so the
    * per-partition budget is much higher than the band trees'. */
  private def width(spark: SparkSession, n: Long): Int =
    Dedup.verifyPartitions(math.max(n, 1L),
      spark.sessionState.conf.numShufflePartitions, 1000000L)

  /** The payload subtrees a version of this index owns (see
    * [[IndexVersions]] — also the legacy-root GC list). */
  private[pipeline] val DataDirs = Seq("digests", "meta", "tagmeta")

  /** The CURRENT version's data root (see [[MinhashIndex.dataRoot]]). */
  def dataRoot(spark: SparkSession, path: String): String =
    IndexVersions.currentRoot(spark, path)

  /** Digest `corpus` and write the index — a fresh [[IndexVersions]]
    * version at `path`; previous-version readers keep serving until the
    * commit. */
  def build(corpus: DataFrame, textCol: String, idCol: String, path: String,
            corpusSize: Long = -1L): Unit = {
    val spark = corpus.sparkSession
    IndexVersions.replace(spark, path, DataDirs) { (_, root) =>
      val n = if (corpusSize > 0) corpusSize else corpus.count()
      digestRows(corpus, textCol, idCol)
        .withColumn("ingest", lit("base"))
        .repartition(width(spark, n), col("h"))
        .write.mode("overwrite").option("compression", "zstd")
        .partitionBy("ingest").parquet(s"$root/digests")
      // meta counts the rows actually STORED (distinct texts), not the
      // corpus size — parquet footer counts only, no data read (r15
      // verdict #8: meta used to drift upward until compact recounted)
      refreshMeta(spark, root, recount = Set("base"))
    }
  }

  /** Add accepted docs (after their batch passed the gate): digests land
    * in the ingest partition named by `tag`; re-running the SAME tag
    * overwrites that ingest's rows — idempotent under replay. Like
    * [[MinhashIndex.append]] there is no trained state to drift; an
    * appended doc's digest is exactly what a fresh build would produce.
    * @return total indexed docs after this append (metadata count). */
  def append(newDocs: DataFrame, textCol: String, idCol: String,
             path: String, batchSize: Long = -1L,
             tag: String = null): Long =
    IndexVersions.inPlace(newDocs.sparkSession, path) { root =>
      appendLocked(newDocs, textCol, idCol, root, batchSize, tag, None)
    }

  /** Append + applied-marker write as ONE locked operation (see
    * [[MinhashIndex.appendApplied]] — same race, same fix). */
  def appendApplied(newDocs: DataFrame, textCol: String, idCol: String,
                    path: String, tag: String,
                    survivorIds: DataFrame): Long =
    IndexVersions.inPlace(newDocs.sparkSession, path) { root =>
      appendLocked(newDocs, textCol, idCol, root, -1L, tag, Some(survivorIds))
    }

  private def appendLocked(newDocs: DataFrame, textCol: String, idCol: String,
                           root: String, batchSize: Long, tag: String,
                           markerIds: Option[DataFrame]): Long = {
    val spark = newDocs.sparkSession
    val add = if (batchSize > 0) batchSize else newDocs.count()
    // default tag from the on-disk auto-tag high-water mark, NOT nDocs
    // (compact can move nDocs backwards — MinhashIndex.defaultTag)
    val t = IngestMarkers.sanitizeTag(Option(tag)
      .getOrElse(MinhashIndex.defaultTag(spark, root, "digests")))
    // size files to the BATCH, not the session width (MinhashIndex
    // discipline): a small micro-batch writes one compact file
    val nOut = math.min(math.max(1L, add / 1000000L + 1), 4096L).toInt
    digestRows(newDocs, textCol, idCol)
      .repartition(nOut, col("h"))
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$root/digests/ingest=$t")
    // exact meta via PER-TAG footer counts (r16 verdict #6 — replaces the
    // r16 whole-tree count, which listed every file of every tag on each
    // append): the common append footer-counts ONE directory (the tag it
    // just wrote) and carries the other tags' counts forward from the
    // stored tagmeta. Exact in EVERY ordering: the count map is keyed by
    // the tag directories ON DISK, so a tag orphaned by a crash between
    // its digest write and its meta write is simply missing from tagmeta
    // and gets footer-counted on the next write — no arithmetic off a
    // stale total (the r16 review's undercount), no silent drift.
    val stored = refreshMeta(spark, root, recount = Set(t))
    markerIds.foreach(ids => IngestMarkers.writeAppliedMarkerAt(ids, root, t))
    stored
  }

  /** Recompute meta from per-tag footer counts at a RESOLVED root: tags
    * in `recount` (plus any tag absent from the stored tagmeta) are
    * footer-counted from their own directory; the rest reuse their stored
    * count. Writes tagmeta + the n_docs meta and returns the total. */
  private def refreshMeta(spark: SparkSession, root: String,
                          recount: Set[String]): Long = {
    val dir = new org.apache.hadoop.fs.Path(s"$root/digests")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk =
      if (!fs.exists(dir)) Seq.empty[String]
      else fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .collect { case s if s.startsWith("ingest=") => s.stripPrefix("ingest=") }
    val prior = readTagMeta(spark, root)
    val counts = onDisk.map { tg =>
      if (recount(tg) || !prior.contains(tg))
        tg -> storedRows(spark, s"$root/digests/ingest=$tg")
      else tg -> prior(tg)
    }
    writeTagMeta(spark, root, counts)
    val total = counts.map(_._2).sum
    writeMeta(spark, root, total)
    total
  }

  private def writeTagMeta(spark: SparkSession, root: String,
                           counts: Seq[(String, Long)]): Unit = {
    import spark.implicits._
    counts.toDF("tag", "n_rows")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/tagmeta")
  }

  /** Stored per-tag counts; empty for a pre-r17 tree (every tag then
    * footer-counts once and the map materializes) — and empty for a
    * CORRUPTED tagmeta dir too (r17 review: a writer killed mid-overwrite
    * leaves the dir existing but holding no committed parquet; treating
    * that as fatal would fail every later append — falling back to the
    * empty map forces a full footer recount, which self-heals it). */
  private def readTagMeta(spark: SparkSession,
                          root: String): Map[String, Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/tagmeta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else
      try spark.read.parquet(s"$root/tagmeta").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      catch { case scala.util.control.NonFatal(_) => Map.empty }
  }

  /** Footer-only row count of a parquet tree; 0 when it does not exist. */
  private def storedRows(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L else spark.read.parquet(dir).count()
  }

  /** Fold marked ingest partitions into `base` (see
    * [[MinhashIndex.compact]] — same rationale, same unmarked-tag crash
    * window rule, same maintenance-op reader contract), dedup digests to
    * their MIN owner id, recount meta exactly. */
  def compact(spark: SparkSession, path: String): Unit =
    IndexVersions.replace(spark, path, DataDirs) { (root, staged) =>
      val marked = IngestMarkers.markedTags(spark, path)
      val all = spark.read.parquet(s"$root/digests")
      val foldable = col("ingest") === "base" || col("ingest").isin(marked: _*)
      val m = readMetaAt(spark, root)
      all.filter(foldable)
        .groupBy(col("h")).agg(min(col("id")).as("id"))
        .select(col("id"), col("h"))
        .withColumn("ingest", lit("base"))
        .unionByName(all.filter(!foldable)
          .select(col("id"), col("h"), col("ingest").cast("string")))
        .repartition(width(spark, m.nDocs), col("h"))
        .write.mode("overwrite").option("compression", "zstd")
        .partitionBy("ingest").parquet(s"$staged/digests")
      // the staged tree has no tagmeta yet, so every surviving tag
      // footer-counts once — the full recount a compact owes anyway
      refreshMeta(spark, staged, recount = Set.empty)
    }

  /** Digest hits of `batch` against the indexed corpus — the persisted
    * form of [[Dedup.incrementalExactDedup]]'s anti-join probe.
    * Output: (a = batch id, b = indexed keeper id) for every batch doc
    * whose text digest is already indexed. */
  def probe(batch: DataFrame, textCol: String, idCol: String,
            path: String): DataFrame = {
    val spark = batch.sparkSession
    // resolve the version root ONCE per plan (immutable files — see
    // IndexVersions' reader contract)
    val idx = IndexVersions.retryTransient(
      spark.read.parquet(s"${IndexVersions.currentRoot(spark, path)}/digests"))
    batch.where(col(textCol).isNotNull)
      .select(col(idCol).as("a"), md5(col(textCol)).as("h"))
      .join(idx.select(col("id").as("b"), col("h")), Seq("h"))
      .select(col("a"), col("b"))
  }

  /** The exact ingest gate: keep the smallest id of each distinct batch
    * text, then drop any text already indexed. Compose with [[append]] on
    * the survivors to advance the corpus.
    *
    * Probe hits whose indexed id is itself a CURRENT-batch id get the
    * keep-min rule ([[MinhashIndex.dedupBatch]] — drop only when the
    * indexed id is SMALLER), so a crash-replayed micro-batch (its own
    * survivors already appended) reproduces its decision instead of
    * self-emptying.
    *
    * ID-SPACE CONTRACT (as MinhashIndex.dedupBatch): batch ids and
    * indexed corpus ids must be disjoint as documents — one monotone id
    * space; merging corpora with overlapping id ranges requires re-keying
    * first. */
  def dedupBatch(batch: DataFrame, textCol: String, idCol: String,
                 path: String): DataFrame = {
    val kept = Dedup.exactDedup(batch, textCol, idCol)
    val bIds = batch.select(col(idCol).as("__bid"))
    val hits = probe(kept, textCol, idCol, path)
      .join(bIds, col("b") === col("__bid"), "left")
      .filter(col("__bid").isNull || col("b") < col("a"))
      .select(col("a").as("__dup")).distinct()
    kept.join(hits, col(idCol) === col("__dup"), "left_anti")
  }

  // ---- applied-marker protocol (shared — see IngestMarkers) ----
  def appliedMarker(spark: SparkSession, path: String,
                    tag: String): Option[DataFrame] =
    IngestMarkers.appliedMarker(spark, path, tag)
  def writeAppliedMarker(survivorIds: DataFrame, path: String,
                         tag: String): Unit =
    IngestMarkers.writeAppliedMarker(survivorIds, path, tag)
  def batchTag(batchId: Long): String = IngestMarkers.batchTag(batchId)
  /** Applied ingest tags still holding their own partition — what a
    * [[compact]] would fold ([[MinhashIndex.pendingCompactionTags]]). */
  def pendingCompactionTags(spark: SparkSession, path: String): Int =
    IngestMarkers.foldablePendingTags(spark, path, "digests")
  def pruneAppliedMarkersBelow(spark: SparkSession, path: String,
                               horizonBatchId: Long): Seq[String] =
    IngestMarkers.pruneAppliedMarkersBelow(spark, path, horizonBatchId)

  final case class Meta(nDocs: Long)

  /** `root` is a RESOLVED data root (a version dir or the legacy path).
    * Meta rows are APPEND-ONLY within a version, as minhash's are: Spark's
    * overwrite deletes the tree before it writes, so a fault between the
    * two left an append's version with no meta, and `readMeta` and
    * `compact` failed until the append was retried (IndexFaultSpec).
    * `n_docs` only grows within a version, so readers take the largest. */
  private def writeMeta(spark: SparkSession, root: String, n: Long): Unit = {
    import spark.implicits._
    Seq(n).toDF("n_docs")
      .coalesce(1).write.mode("append").parquet(s"$root/meta")
  }

  def readMeta(spark: SparkSession, path: String): Meta =
    IndexVersions.retryTransient {
      readMetaAt(spark, IndexVersions.currentRoot(spark, path))
    }

  // stamp-cached (r19, see MetaCache): one FS listing instead of a
  // one-row Spark job when the meta tree is unchanged since the last read
  private def readMetaAt(spark: SparkSession, root: String): Meta =
    MetaCache.cached(spark, s"$root/meta") {
      Meta(spark.read.parquet(s"$root/meta").agg(max(col("n_docs"))).head().getLong(0))
    }
}
