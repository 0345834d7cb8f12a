package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH band index: sketch the corpus ONCE, probe every
  * new ingest batch against the stored buckets — the incremental-dedup
  * serving pattern at 100 TB. [[Dedup.crossMinhashCandidates]] re-sketches
  * the corpus per call, which is right for an ad-hoc comparison and wrong
  * for a pipeline that ingests continuously against the same corpus: with
  * the index, an ingest pays the batch's own sketch (a pure map) plus one
  * (band, bucket) equi-join against the stored rows, and accepted
  * survivors are APPENDED so the next batch dedups against them too —
  * the corpus text is never re-read.
  *
  * Layout at `path`:
  *  - `<path>/buckets`: (id, sig, band, bucket) — one row per corpus doc
  *    per band, the k-long signature carried inline so a probe scores
  *    est_jaccard without a second join back to a signature table (the
  *    classic LSH-table layout; it costs bands× signature duplication,
  *    which parquet encodes away since a doc's sig bytes repeat).
  *  - `<path>/meta`: (shingle_n, k, bands, n_docs) — a probe MUST sketch
  *    the batch with the BUILD's parameters or the bucket hashes are
  *    incomparable, so probe/append read them from here, never from the
  *    caller.
  */
object MinhashIndex {

  /** The payload subtrees a version of this index owns (see
    * [[IndexVersions]] — also the legacy-root GC list). */
  private[pipeline] val DataDirs = Seq("buckets", "meta")

  /** The CURRENT version's data root — where `buckets`/`meta`/`applied`
    * live right now. Public for tests/probes that inspect the physical
    * tree; resolve once per inspection (a maintenance write creates a new
    * root). */
  def dataRoot(spark: SparkSession, path: String): String =
    IndexVersions.currentRoot(spark, path)

  /** Sketch `corpus` and write the index — a fresh VERSION at `path`
    * ([[IndexVersions]]): readers of the previous version keep serving
    * until the new one commits, then new plans resolve to it. The buckets
    * tree is partitioned by an `ingest` tag (the build writes
    * `ingest=base`; each [[append]] writes its own tag), so a re-written
    * ingest REPLACES its rows instead of duplicating them — the property
    * replay-safe streaming ingest needs. Appends of NEW tags are additive
    * and safe under serving; the one exception is a crash-REPLAYED
    * append, which OVERWRITES its own tag partition — a probe racing
    * exactly that window can fail its scan and should be retried by the
    * caller (the window exists only between a crash and the batch's
    * re-delivery). */
  def build(corpus: DataFrame, textCol: String, idCol: String, path: String,
            shingleN: Int = 3, k: Int = 16, bands: Int = 4,
            corpusSize: Long = -1L): Unit = {
    require(k % bands == 0, "bands must divide k")
    val spark = corpus.sparkSession
    IndexVersions.replace(spark, path, DataDirs) { (_, root) =>
      val n = if (corpusSize > 0) corpusSize else corpus.count()
      val rows = Dedup.bandRows(
        Dedup.minhashSignatures(corpus, textCol, idCol, shingleN, k), k, bands)
      // co-locate each bucket's rows on disk (the probe joins on
      // (band, bucket)); width follows the exploded band volume, same
      // discipline as the in-query joins
      val nPart = Dedup.verifyPartitions(bands.toLong * math.max(n, 1L),
        spark.sessionState.conf.numShufflePartitions, 125000L)
      rows.withColumn("ingest", lit("base"))
        .repartition(nPart, col("band"), col("bucket"))
        .write.mode("overwrite").option("compression", "zstd")
        .partitionBy("ingest").parquet(s"$root/buckets")
      writeMeta(spark, root, shingleN, k, bands, n)
    }
  }

  /** Add accepted docs to the index (after their batch passed the dedup
    * gate): sketch with the SAVED parameters, write into the ingest
    * partition named by `tag`. Re-running the SAME tag overwrites that
    * ingest's rows — idempotent under replay (a crash-replayed micro-batch
    * cannot double its index rows). Unlike [[IvfIndex.append]] there is no
    * staleness to track — minhash has no trained state to drift; an
    * appended doc's buckets are exactly what a fresh build would produce.
    * The meta doc count is width-sizing metadata only; a crash-window
    * replay may overcount it, which only ever WIDENS probe exchanges.
    * @return total indexed docs after this append. */
  def append(newDocs: DataFrame, textCol: String, idCol: String,
             path: String, batchSize: Long = -1L,
             tag: String = null): Long =
    IndexVersions.inPlace(newDocs.sparkSession, path) { root =>
      appendLocked(newDocs, textCol, idCol, root, batchSize, tag, None)
    }

  /** Append + applied-marker write as ONE locked operation — the
    * streaming gate's commit step (r15 review): a marker written OUTSIDE
    * the lock can race a concurrent compact's marker snapshot and land in
    * the outgoing version, losing it after the flip. `survivorIds` is the
    * one-column id frame the marker records. */
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
    val m = readMetaAt(spark, root)
    val add = if (batchSize > 0) batchSize else newDocs.count()
    val t = IngestMarkers.sanitizeTag(Option(tag).getOrElse(defaultTag(spark, root, "buckets")))
    // size the ingest's files to the BATCH, not the session width: a
    // small micro-batch writes one compact file, not 32 slivers (the
    // accumulated-small-files pressure is then bounded by batch count,
    // and [[compact]] folds it away entirely)
    val nOut = math.min(
      math.max(1L, m.bands.toLong * add / 125000L + 1), 4096L).toInt
    Dedup.bandRows(
        Dedup.minhashSignatures(newDocs, textCol, idCol, m.shingleN, m.k),
        m.k, m.bands)
      .repartition(nOut, col("band"), col("bucket"))
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$root/buckets/ingest=$t")
    writeMeta(spark, root, m.shingleN, m.k, m.bands, m.nDocs + add)
    markerIds.foreach(ids => IngestMarkers.writeAppliedMarkerAt(ids, root, t))
    m.nDocs + add
  }

  /** Default ingest tag: one past the highest auto tag ALREADY ON DISK —
    * not `a<nDocs>` (r15 review: compact recounts nDocs exactly, which
    * can move it BACKWARDS past an issued tag; a later default append
    * would then silently overwrite that tag's rows). */
  private[pipeline] def defaultTag(spark: SparkSession, root: String,
                                   dataDir: String): String = {
    val dir = new org.apache.hadoop.fs.Path(s"$root/$dataDir")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val A = "ingest=a(\\d+)".r
    val next =
      if (!fs.exists(dir)) 0L
      else fs.listStatus(dir).toSeq.map(_.getPath.getName).collect {
        case A(n) => n.toLong + 1L
      }.maxOption.getOrElse(0L)
    s"a$next"
  }

  /** Fold ingest partitions accumulated by per-batch appends into the
    * `ingest=base` partition — the housekeeping a long-running streaming
    * gate needs (thousands of micro-batches would otherwise mean
    * thousands of partition directories). Rebuilds from the STORED rows
    * (no text re-sketch — the signatures are in the tree), dedups
    * row-identical duplicates, recomputes the meta doc count exactly
    * (fixing any crash-window overcounts), preserves applied markers, and
    * commits as a new version ([[IndexVersions]] — non-disruptive to readers).
    *
    * Only MARKED tags (and `base`) are folded: a tag with no applied
    * marker may belong to a crash-window batch the stream will
    * RE-DELIVER, and folding it away would let the replayed append
    * re-create the tag and duplicate its rows against base (r14 review);
    * unmarked tags keep their own partitions — and their
    * overwrite-idempotence — until their marker lands.
    *
    * Operational contract (r15): serialized against writers by the lock,
    * and NON-DISRUPTIVE to readers — the compacted tree commits as a new
    * [[IndexVersions]] version; in-flight probe plans keep reading the
    * previous version (the grace version, GC'd only by the NEXT
    * maintenance write), new plans resolve to the compacted one. */
  def compact(spark: SparkSession, path: String): Unit =
    IndexVersions.replace(spark, path, DataDirs) { (root, staged) =>
      val m = readMetaAt(spark, root)
      // "marked" = the marker's _SUCCESS exists, matching appliedMarker's
      // definition (r14 ADVICE): a half-written marker dir from a crash
      // during writeAppliedMarker must NOT fold its tag into base — the
      // replayed batch sees appliedMarker=None and re-appends the tag,
      // which would transiently duplicate the folded rows
      val markedTags = IngestMarkers.markedTags(spark, path)
      val all = spark.read.parquet(s"$root/buckets")
      val foldable = col("ingest") === "base" ||
        col("ingest").isin(markedTags: _*)
      val nPart = Dedup.verifyPartitions(math.max(m.nDocs, 1L) * m.bands,
        spark.sessionState.conf.numShufflePartitions, 125000L)
      all.filter(foldable)
        .select(col("id"), col("sig"), col("band"), col("bucket")).distinct()
        .withColumn("ingest", lit("base"))
        .unionByName(all.filter(!foldable)
          .select(col("id"), col("sig"), col("band"), col("bucket"),
            col("ingest").cast("string")))
        .repartition(nPart, col("band"), col("bucket"))
        .write.mode("overwrite").option("compression", "zstd")
        .partitionBy("ingest").parquet(s"$staged/buckets")
      // exact doc recount from the COMPACTED output (one scan of the
      // smaller deduped tree, not a second pass over the old one)
      val nDocs = spark.read.parquet(s"$staged/buckets")
        .select("id").distinct().count()
      writeMeta(spark, staged, m.shingleN, m.k, m.bands, nDocs)
    }

  /** Read the surviving ids recorded for an applied ingest `tag`, or None
    * if the tag was never marked applied — the replay-detection half of
    * the exactly-once micro-batch protocol
    * ([[graft.streaming.StreamingOps.incrementalDedupBatch]]). */
  def appliedMarker(spark: SparkSession, path: String,
                    tag: String): Option[DataFrame] =
    IngestMarkers.appliedMarker(spark, path, tag)

  /** Record an ingest `tag`'s surviving ids (one column). Written AFTER
    * the tag's append commits; `_SUCCESS` is the atomicity marker.
    *
    * A marker is only needed until the ingest's OWN commit point passes
    * (for the streaming gate: until the checkpoint commits that batch —
    * afterwards the engine can never re-deliver it), so markers are
    * prunable; they are one tiny id column each, and
    * [[pruneAppliedMarkers]] drops the ones a retention policy no longer
    * needs. */
  def writeAppliedMarker(survivorIds: DataFrame, path: String,
                         tag: String): Unit =
    IngestMarkers.writeAppliedMarker(survivorIds, path, tag)

  /** The marker tag the streaming gate uses for a micro-batch — ONE place
    * owns the format, so retention policies never reverse-engineer it. */
  def batchTag(batchId: Long): String = IngestMarkers.batchTag(batchId)

  /** Applied ingest tags still holding their own partition — what a
    * [[compact]] would fold. The streaming gates' auto-compaction
    * threshold keys on this. */
  def pendingCompactionTags(spark: SparkSession, path: String): Int =
    IngestMarkers.foldablePendingTags(spark, path, "buckets")

  /** Delete the streaming gate's applied markers for batches BELOW
    * `horizonBatchId` — the commit-horizon policy the marker doc
    * prescribes (once the checkpoint commits a batch it can never be
    * re-delivered, so its marker is dead weight). Non-batch tags are left
    * alone. @return the raw tags actually removed. */
  def pruneAppliedMarkersBelow(spark: SparkSession, path: String,
                               horizonBatchId: Long): Seq[String] =
    IngestMarkers.pruneAppliedMarkersBelow(spark, path, horizonBatchId)

  /** Delete applied markers whose DIRECTORY NAME fails `keep` —
    * housekeeping for a long-running index (markers accumulate one dir
    * per ingest). The predicate sees the sanitized on-disk name
    * ([[batchTag]] tags are sanitize-stable; arbitrary tags may not be —
    * prefer [[pruneAppliedMarkersBelow]] for the streaming gate).
    * Deletion invalidates `_SUCCESS` FIRST (the atomicity marker), so a
    * crash or non-atomic object-store delete can never leave a directory
    * that still looks applied but has lost its data files.
    * @return names actually removed (both deletes verified). */
  def pruneAppliedMarkers(spark: SparkSession, path: String,
                          keep: String => Boolean): Seq[String] =
    IngestMarkers.pruneAppliedMarkers(spark, path, keep)

  /** MinHash candidates of `batch` against the indexed corpus — the
    * persisted-corpus form of [[Dedup.crossMinhashCandidates]], result
    * identical pair for pair (q_dedup_index_parity drives the equality).
    * Output: (a = batch id, b = corpus id, est_jaccard). */
  def probe(batch: DataFrame, textCol: String, idCol: String, path: String,
            minEstSim: Double = 0.5, batchSize: Long = -1L): DataFrame = {
    val spark = batch.sparkSession
    // resolve the version root ONCE per plan, and read meta + buckets
    // from the SAME root (r15 review: a rebuild committing between two
    // independent resolutions could sketch the batch with the new meta's
    // parameters and join it against the old version's buckets — the
    // bucket spaces are incomparable and candidates silently vanish)
    val (m, idx) = IndexVersions.retryTransient {
      val root = IndexVersions.currentRoot(spark, path)
      (readMetaAt(spark, root), spark.read.parquet(s"$root/buckets"))
    }
    val nPart =
      if (batchSize > 0)
        Dedup.verifyPartitions(m.bands.toLong * math.max(batchSize, m.nDocs),
          spark.sessionState.conf.numShufflePartitions, 125000L)
      else math.max(Dedup.widthFromBytes(batch, m.bands),
        Dedup.widthFromBytes(idx, 1))
    Dedup.crossBandJoin(
      Dedup.bandRows(
        Dedup.minhashSignatures(batch, textCol, idCol, m.shingleN, m.k),
        m.k, m.bands),
      idx, m.k, nPart, minEstSim)
  }

  /** The ingest gate: `batch` rows with no indexed near-duplicate at
    * `minEstSim` or above. Compose with [[append]] on the survivors to
    * advance the corpus.
    *
    * Candidates whose corpus id is itself a CURRENT-batch id get the
    * keep-min rule instead of a plain drop: a doc is dropped by such a
    * pair only when the other id is SMALLER. In a normal ingest the index
    * holds no current-batch ids, so nothing changes; in a crash-replayed
    * micro-batch (the batch's own survivors already appended —
    * [[graft.streaming.StreamingOps.incrementalDedupBatch]]) this (a)
    * ignores identity pairs, so the replay cannot self-empty, and (b)
    * keeps the smallest-id representative of a within-batch dup group
    * rather than letting the group's members eliminate each other — a
    * plain a≠b guard loses the content entirely (both of {x, y} match the
    * other's appended copy and BOTH drop; review finding, pinned in
    * IncrementalDedupSpec's crash-window test).
    *
    * ID-SPACE CONTRACT (r14 ADVICE): the keep-min replay rule identifies
    * "my own appended copy" by id membership, so batch ids and corpus ids
    * MUST be disjoint as documents — a genuine corpus near-duplicate whose
    * id happens to equal some current-batch id (and is larger than its
    * match) would be treated as a replayed self-match and escape the drop.
    * Ingest pipelines with one monotone id space (the normal shape)
    * satisfy this by construction; merging corpora with overlapping id
    * ranges requires re-keying first. */
  def dedupBatch(batch: DataFrame, textCol: String, idCol: String,
                 path: String, minEstSim: Double = 0.5,
                 batchSize: Long = -1L): DataFrame = {
    val bIds = batch.select(col(idCol).as("__bid"))
    val hits = probe(batch, textCol, idCol, path, minEstSim, batchSize)
      .join(bIds, col("b") === col("__bid"), "left")
      .filter(col("__bid").isNull || col("b") < col("a"))
      .select(col("a").as("__dup")).distinct()
    batch.join(hits, col(idCol) === col("__dup"), "left_anti")
  }

  final case class Meta(shingleN: Int, k: Int, bands: Int, nDocs: Long)

  /** `root` is a RESOLVED data root (a version dir or the legacy path).
    * Meta rows are APPEND-ONLY within a version, as IVF's are: Spark's
    * overwrite deletes the tree before it writes, so a fault between the
    * two left an append's version with no meta, and every probe of it
    * failed (IndexFaultSpec). `n_docs` only grows within a version, so
    * readers take the row with the largest. */
  private def writeMeta(spark: SparkSession, root: String,
                        shingleN: Int, k: Int, bands: Int, n: Long): Unit = {
    import spark.implicits._
    Seq((shingleN, k, bands, n))
      .toDF("shingle_n", "k", "bands", "n_docs")
      .coalesce(1).write.mode("append").parquet(s"$root/meta")
  }

  def readMeta(spark: SparkSession, path: String): Meta =
    IndexVersions.retryTransient {
      readMetaAt(spark, IndexVersions.currentRoot(spark, path))
    }

  /** Meta from a RESOLVED root — pair with a buckets read of the SAME
    * root so a plan never mixes versions. Stamp-cached (r19, see
    * [[MetaCache]]): the probe path paid a one-row Spark job per serve
    * for parameters that change only on maintenance writes. */
  private def readMetaAt(spark: SparkSession, root: String): Meta =
    MetaCache.cached(spark, s"$root/meta") {
      val r = spark.read.parquet(s"$root/meta").orderBy(col("n_docs").desc).head()
      Meta(r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))
    }
}
