package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Stamp-keyed in-process cache for the tiny `<root>/meta` parquet reads
  * on the index serve paths (r19, guide §1.2 — the meta-read twin of the
  * r18 centroid cache): every MinhashIndex probe paid a one-row Spark job
  * (parquet footer + head()) for parameters that change only when a
  * maintenance write lands.
  *
  * Unlike centroids, meta MUTATES within a version (append bumps the doc
  * count in place), so the key cannot be the commit marker: it is the
  * DIRECTORY LISTING of the meta tree — Spark's overwrite writes fresh
  * UUID-named part files every time, so the sorted (name, length, mtime)
  * tuple list is unique per write, at any mtime resolution. One driver-side
  * FS listing replaces one Spark job per serve; a listing failure (version
  * flip mid-probe) falls through to the uncached read, which carries its
  * own retry.
  *
  * Bounded LRU (256 entries, each a few-field case class) — appends retire
  * old stamps, so an unbounded map would grow with ingest history. */
private[pipeline] object MetaCache {

  private val cache =
    new java.util.LinkedHashMap[(String, String), AnyRef](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), AnyRef]): Boolean =
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
      val hit = cache.synchronized(Option(cache.get(key)))
      hit.getOrElse {
        val v = load
        cache.synchronized(cache.put(key, v))
        v
      }.asInstanceOf[A]
    }
  }
}
