package graft.pipeline

import graft.SparkTestBase

/** The versioned-index lifecycle as a serving cluster sees it across a
  * tree's whole life: a dropped and re-created tree that recycles its
  * `v=N` root, and the migration of a legacy (unversioned) tree. */
class IndexLifecycleSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** `n` unit vectors of dimension 6 with ids from `firstId`; `phase`
    * moves the whole set, so two phases are two different corpora. */
  private def vectors(firstId: Long, n: Int, phase: Double) =
    (0 until n).map { i =>
      val v = Array.tabulate(6)(d => math.sin((i + 1) * (d + 1.7) + phase).abs + 0.05)
      val norm = math.sqrt(v.map(x => x * x).sum)
      (firstId + i, v.map(x => (x / norm).toFloat).toSeq)
    }.toDF("vec_id", "embedding")

  private def serve(path: String, queries: org.apache.spark.sql.DataFrame) =
    IvfIndex.topK(spark, path, queries, "vec_id", "embedding", k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet

  test("a tree dropped and rebuilt at the same path serves the new corpus, not cached centroids") {
    val a = vectors(0L, 48, phase = 0.0)
    val b = vectors(1000L, 48, phase = 2.3)
    val queries = vectors(5000L, 3, phase = 1.1)
    val path = tmp("graft_lifecycle_reuse")
    IvfIndex.build(a, "vec_id", "embedding", path, nLists = 6)
    val servedA = serve(path, queries) // fills the centroid cache for v=1
    assert(servedA.nonEmpty && servedA.forall(_._2 < 1000L))
    // DROP INDEX deletes the whole tree
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    IvfIndex.build(b, "vec_id", "embedding", path, nLists = 6)
    assert(IvfIndex.dataRoot(spark, path) == s"$path/v=1", "the rebuild recycles v=1")
    val fresh = tmp("graft_lifecycle_fresh")
    IvfIndex.build(b, "vec_id", "embedding", fresh, nLists = 6)
    val expected = serve(fresh, queries)
    assert(expected.nonEmpty && expected.forall(_._2 >= 1000L))
    assert(serve(path, queries) == expected,
      "the rebuilt tree must serve its own corpus through its own centroids")
  }

  test("legacy layout: a tagged IVF append's applied markers are collected with the legacy trees") {
    withConf("graft.index.gc.minRetainMs", "0") {
      val path = tmp("graft_lifecycle_legacy")
      IvfIndex.build(vectors(0L, 40, phase = 0.0), "vec_id", "embedding", path, nLists = 4)
      // forge the pre-versioned shape: the data trees directly under path
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      val v1 = new org.apache.hadoop.fs.Path(s"$path/v=1")
      for (d <- Seq("centroids", "vectors", "meta"))
        fs.rename(new org.apache.hadoop.fs.Path(v1, d), new org.apache.hadoop.fs.Path(s"$path/$d"))
      fs.delete(v1, true)
      assert(IvfIndex.dataRoot(spark, path) == path)
      IvfIndex.append(vectors(500L, 8, phase = 0.7), "vec_id", "embedding", path, tag = "t1")
      assert(new java.io.File(s"$path/applied/t1").isDirectory)
      IvfIndex.retrain(spark, path) // v=1; the legacy trees are the grace copy
      IvfIndex.retrain(spark, path) // v=2; the legacy trees are collected
      assert(!new java.io.File(s"$path/centroids").exists, "legacy trees collected")
      assert(!new java.io.File(s"$path/applied").exists,
        "the legacy applied/ tree must be collected with the other legacy trees")
      assert(IngestMarkers.appliedMarker(spark, path, "t1").isDefined,
        "the marker itself lives on in the current version")
    }
  }
}
