package graft.pipeline

import graft.SparkTestBase
import graft.pipeline.FaultFileSystem.Call
import org.apache.spark.sql.DataFrame

/** Crash safety of the versioned-index lifecycle, proven by fault
  * injection. Each write operation of the three index families runs once
  * clean through [[FaultFileSystem]] to count its file-system calls, then
  * once per fault point: the first, the median and the last call of each
  * counted method throws. After every fault:
  *  - the family's reader succeeds and sees the old result or the new one;
  *  - the same call, retried with no fault, succeeds;
  *  - the writer lease `<path>.lock` is gone.
  * Faults on the lease files themselves are [[WriterLock]]'s own spec.
  *
  * The one documented exception is a tagged IVF append that fails after
  * part of its vectors became visible and before its applied marker
  * landed: a reader may then see part of the batch, and the retry appends
  * it again. For those points only
  * readability, the retry and the lease are checked. */
class IndexFaultSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val work = java.nio.file.Files.createTempDirectory("graft_index_fault")

  /** Run `body` with the fault scheme registered, the writer lock accepted
    * on it (the scheme is not on [[WriterLock.AtomicSchemes]]) and GC
    * without an age floor, so replacing commits also delete versions. The
    * injected task failures are expected, so Spark's logging of them is
    * silenced. */
  private def faultable(body: => Unit): Unit =
    FaultFileSystem.withScheme(spark.sparkContext.hadoopConfiguration) {
      val confs = Map("graft.index.lock.assumeAtomic" -> "true",
        "graft.index.gc.minRetainMs" -> "0")
      val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.sparkContext.setLogLevel("OFF")
      try body
      finally {
        spark.sparkContext.setLogLevel("WARN")
        prev.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
    }

  private def local(uri: String): java.nio.file.Path =
    java.nio.file.Paths.get(new java.net.URI(uri).getPath)

  /** A new, empty index location in the fault scheme. */
  private def newIndex(): String = {
    val dir = java.nio.file.Files.createTempDirectory(work, "run").resolve("idx")
    s"${FaultFileSystem.Scheme}://$dir"
  }

  /** A fresh copy of the index tree at `template`. */
  private def copyOf(template: String): String = {
    val uri = newIndex()
    val (src, dst) = (local(template), local(uri))
    scala.util.Using.resource(java.nio.file.Files.walk(src)) { paths =>
      paths.forEach { p =>
        val t = dst.resolve(src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      }
    }
    uri
  }

  /** Calls on the index tree only: not the lease file beside it. */
  private def inIndex(uri: String): org.apache.hadoop.fs.Path => Boolean = {
    val root = local(uri).toString
    p => { val s = p.toUri.getPath; s == root || s.startsWith(root + "/") }
  }

  private def leaseLeft(uri: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(s"${local(uri)}.lock"))

  /** Fault every sweep point of `op` on copies of `template`. `window`
    * names the (method, k) points inside a documented crash window. */
  private def sweep(template: String, read: String => Any, op: String => Unit,
                    window: Seq[Call] => Set[(String, Int)] = _ => Set.empty): Unit = {
    val old = read(copyOf(template))
    val clean = copyOf(template)
    val calls = FaultFileSystem.record(inIndex(clean))(op(clean))
    val updated = read(clean)
    val crashWindow = window(calls)
    val points = for {
      m <- FaultFileSystem.Methods
      n = calls.count(_.method == m) if n > 0
      k <- Seq(1, (n + 1) / 2, n).distinct
    } yield (m, k)
    info(s"${calls.size} calls in a clean run; ${points.size} fault points " +
      s"(${crashWindow.size} calls in the documented window)")
    assert(points.map(_._1).toSet == FaultFileSystem.Methods.toSet,
      s"every method must be exercised: ${calls.groupBy(_.method).map(e => e._1 -> e._2.size)}")
    // the points are independent copies: check four at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try points.map { case (m, k) => scala.concurrent.Future(check(m, k))(ec) }
      .foreach(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
    finally pool.shutdown()

    def check(m: String, k: Int): Unit = {
      val at = s"fault at $m #$k"
      val idx = copyOf(template)
      val (outcome, fired) =
        FaultFileSystem.inject(FaultFileSystem.Plan(m, k, inIndex(idx)))(op(idx))
      assert(fired, s"$at never fired")
      assert(!leaseLeft(idx), s"$at left the lease behind ($outcome)")
      val seen = scala.util.Try(read(idx))
      assert(seen.isSuccess, s"$at: the reader failed ($outcome): ${seen.failed.map(_.toString)}")
      val exact = !crashWindow((m, k))
      if (exact)
        assert(seen.get == old || seen.get == updated,
          s"$at: the reader saw neither the old nor the new result ($outcome)")
      op(idx)
      assert(!leaseLeft(idx), s"$at: the retry left the lease behind")
    }
  }

  // ---- data: a few hundred rows across all three families ----

  private def vectors(firstId: Long, n: Int, phase: Double): DataFrame =
    (0 until n).map { i =>
      val v = Array.tabulate(6)(d => math.sin((i + 1) * (d + 1.3) + phase).abs + 0.05)
      val norm = math.sqrt(v.map(x => x * x).sum)
      (firstId + i, v.map(x => (x / norm).toFloat).toSeq)
    }.toDF("vec_id", "embedding")

  private val queries = vectors(9000L, 3, phase = 0.4)
  // the tagged append carries copies of the queries, so it changes the answer
  private val ivfAppend =
    queries.select(($"vec_id" - 8000L).as("vec_id"), $"embedding")
      .union(vectors(1100L, 5, phase = 2.9))

  private lazy val ivfTemplate: String = {
    val idx = newIndex()
    IvfIndex.build(vectors(0L, 60, phase = 0.0), "vec_id", "embedding", idx, nLists = 4)
    IvfIndex.retrain(spark, idx) // v=2: a replacing commit then collects v=1
    IvfIndex.append(vectors(500L, 8, phase = 1.7), "vec_id", "embedding", idx, tag = "t0")
    idx
  }

  private def ivfRead(idx: String): Set[(Long, Long, Double, Int)] =
    IvfIndex.topK(spark, idx, queries, "vec_id", "embedding", k = 4, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

  /** A tagged IVF append's crash window: from the first rename that can
    * make a vectors file visible through the create of the marker's
    * `_SUCCESS`. */
  private def ivfAppendWindow(calls: Seq[Call]): Set[(String, Int)] = {
    val start = calls.indexWhere(c => c.method == "rename" &&
      c.dst.contains("/vectors/") && !c.dst.contains("/_temporary"))
    val end = calls.indexWhere(c => c.method == "create" &&
      c.path.endsWith("/applied/t1/_SUCCESS"))
    assert(start >= 0 && end > start, s"window not found in $calls")
    (start to end).map(i =>
      (calls(i).method, calls.take(i + 1).count(_.method == calls(i).method))).toSet
  }

  private def text(i: Int, topic: String): String =
    (0 until 14).map(w => s"$topic${(i * 7 + w * 3) % 23}w$w").mkString(" ")

  private def docs(firstId: Long, topic: String, n: Int): DataFrame =
    (0 until n).map(i => (firstId + i, text(i, topic))).toDF("doc_id", "text")

  private val corpusA = docs(0L, "alpha", 12)
  private val corpusB = docs(100L, "beta", 12)
  private val tagged0 = docs(200L, "gamma", 4)
  private val tagged1 = docs(300L, "delta", 4)
  // one copy from each of A, B, the first and the second append
  private val probeBatch = Seq(
    (1000L, text(0, "alpha")), (1001L, text(0, "beta")),
    (1002L, text(1, "gamma")), (1003L, text(1, "delta"))).toDF("doc_id", "text")

  private def dedupTemplate(build: (DataFrame, String) => Unit, compact: String => Unit,
                            appendApplied: (DataFrame, String, String) => Unit): String = {
    val idx = newIndex()
    build(corpusA, idx)
    compact(idx) // v=2: a replacing commit then collects v=1
    appendApplied(tagged0, idx, "t0")
    idx
  }

  private def mhBuild(corpus: DataFrame, idx: String): Unit =
    MinhashIndex.build(corpus, "text", "doc_id", idx)
  private def mhAppend(batch: DataFrame, idx: String, tag: String): Unit = {
    MinhashIndex.appendApplied(batch, "text", "doc_id", idx, tag, batch.select("doc_id")); ()
  }
  private lazy val mhTemplate =
    dedupTemplate(mhBuild, MinhashIndex.compact(spark, _), mhAppend)
  private def mhRead(idx: String): Set[(Long, Long, Double)] =
    MinhashIndex.probe(probeBatch, "text", "doc_id", idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def exBuild(corpus: DataFrame, idx: String): Unit =
    ExactIndex.build(corpus, "text", "doc_id", idx)
  private def exAppend(batch: DataFrame, idx: String, tag: String): Unit = {
    ExactIndex.appendApplied(batch, "text", "doc_id", idx, tag, batch.select("doc_id")); ()
  }
  private lazy val exTemplate =
    dedupTemplate(exBuild, ExactIndex.compact(spark, _), exAppend)
  private def exRead(idx: String): Set[(Long, Long)] =
    ExactIndex.probe(probeBatch, "text", "doc_id", idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  // ---- IVF ----

  test("IVF build over an existing index: old-or-new, retryable, no lease left") {
    faultable(sweep(ivfTemplate, ivfRead,
      IvfIndex.build(vectors(2000L, 60, phase = 4.1), "vec_id", "embedding", _, nLists = 4)))
  }

  test("IVF tagged append: old-or-new outside the marker window, retryable, no lease left") {
    faultable(sweep(ivfTemplate, ivfRead, idx => {
      IvfIndex.append(ivfAppend, "vec_id", "embedding", idx, tag = "t1"); ()
    }, ivfAppendWindow))
  }

  test("IVF retrain: old-or-new, retryable, no lease left") {
    faultable(sweep(ivfTemplate, ivfRead, IvfIndex.retrain(spark, _)))
  }

  // ---- minhash ----

  test("minhash build over an existing index: old-or-new, retryable, no lease left") {
    faultable(sweep(mhTemplate, mhRead, mhBuild(corpusB, _)))
  }

  test("minhash append with marker: old-or-new, retryable, no lease left") {
    faultable(sweep(mhTemplate, mhRead, mhAppend(tagged1, _, "t1")))
  }

  test("minhash compact: old-or-new, retryable, no lease left") {
    faultable(sweep(mhTemplate, mhRead, MinhashIndex.compact(spark, _)))
  }

  // ---- exact ----

  test("exact build over an existing index: old-or-new, retryable, no lease left") {
    faultable(sweep(exTemplate, exRead, exBuild(corpusB, _)))
  }

  test("exact append with marker: old-or-new, retryable, no lease left") {
    faultable(sweep(exTemplate, exRead, exAppend(tagged1, _, "t1")))
  }

  test("exact compact: old-or-new, retryable, no lease left") {
    faultable(sweep(exTemplate, exRead, ExactIndex.compact(spark, _)))
  }
}
