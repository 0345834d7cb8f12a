package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Stamp-keyed in-process cache for the small trees the index serve paths
  * read per plan (r19): `<root>/meta` parquet and IVF's
  * `<root>/centroids` — every probe paid a Spark job (parquet footer +
  * collect) for values that change only when a write lands.
  *
  * The key is the DIRECTORY LISTING of the tree, not the version root:
  * meta MUTATES within a version (append bumps a count in place), and a
  * DROP + re-CREATE recycles the same `v=N` root. Spark writes fresh
  * UUID-named part files every time, so the sorted (name, length, mtime)
  * tuple list is unique per write, at any mtime resolution. One
  * driver-side FS listing replaces one Spark job per serve; a listing
  * failure (version flip mid-probe) falls through to the uncached read,
  * which the caller retries.
  *
  * Bounded LRU (256 entries) of soft references — appends retire old
  * stamps, so an unbounded map would grow with ingest history, and a
  * centroid set can reach [[Similarity.MaxCentroidCells]] doubles (32 MB),
  * so entries also yield under memory pressure. */
private[pipeline] object MetaCache {

  private val cache =
    new java.util.LinkedHashMap[(String, String),
        java.lang.ref.SoftReference[AnyRef]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String),
            java.lang.ref.SoftReference[AnyRef]]): Boolean =
        size() > 256
    }

  /** Write identity of the small parquet dir at `dir`: sorted file
    * (name:len:mtime) listing. Null when the dir cannot be listed — for ANY
    * non-fatal failure, not only IOException (a FileSystem implementation
    * may surface a listing fault as a RuntimeException): the caller then
    * takes the uncached, retried load instead of failing the serve. */
  private def stamp(spark: SparkSession, dir: String): String =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p)
        .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .sorted.mkString(";")
    } catch { case scala.util.control.NonFatal(_) => null }

  /** `load` the value for `dir` once per on-disk write of it. */
  def cached[A <: AnyRef](spark: SparkSession, dir: String)(load: => A): A = {
    val st = stamp(spark, dir)
    if (st == null) load
    else {
      val key = (dir, st)
      val hit = cache.synchronized(Option(cache.get(key)).flatMap(r => Option(r.get)))
      hit.getOrElse {
        val v = load
        cache.synchronized(cache.put(key, new java.lang.ref.SoftReference[AnyRef](v)))
        v
      }.asInstanceOf[A]
    }
  }
}
