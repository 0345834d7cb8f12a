package graft

import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.{Expiration, GraftCatalog, GraftSql, TriggerDef}

/** The catalog's container layout. A container that fits one partition is
  * stored as one partition that Catalyst knows is one (`SinglePartition`),
  * so `put`, TQL `TIME_SAMPLING` and `GROUP BY RANGE … FILL (LINEAR)` each
  * run as ONE job with no exchange; a container over the size budget
  * keeps the shuffle layout; both layouts return the same rows. Each test
  * runs in a session of its own (own SQL conf, own catalog) on the shared
  * SparkContext. */
class CatalogLayoutSpec extends SparkTestBase {

  private val BaseMs = 1717200000000L // 2024-06-01T00:00:00Z
  private val schema = StructType(Seq(
    StructField("ts", TimestampType, nullable = false),
    StructField("value", DoubleType)))

  /** Rows at BaseMs + k seconds holding value k. */
  private def rows(s: SparkSession, ks: Seq[Long]): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(ks.map(k =>
      Row(new Timestamp(BaseMs + k * 1000L), k.toDouble)): _*), schema)

  // ten minutes of one row per second, minutes 3 and 4 empty
  private val Seeded = (0L until 180L) ++ (300L until 600L)

  private def iso(sec: Long): String = java.time.Instant.ofEpochMilli(BaseMs + sec * 1000L).toString
  private def sqlTs(sec: Long): String =
    new Timestamp(BaseMs + sec * 1000L).toString.stripSuffix(".0")

  private def samplingTql =
    s"select TIME_SAMPLING(value, TIMESTAMP('${iso(0)}'), TIMESTAMP('${iso(540)}'), 1, MINUTE)"
  private def rangeSql(name: String) =
    s"SELECT ts, avg(value) AS v FROM $name WHERE ts BETWEEN TIMESTAMP '${sqlTs(0)}' " +
      s"AND TIMESTAMP '${sqlTs(599)}' GROUP BY RANGE(ts) EVERY (1, MINUTE) FILL (LINEAR)"

  // The series is linear in time (value = seconds since base), so a
  // sampled or interpolated value equals its own offset:
  //  - TIME_SAMPLING at minute m: 60 m (exact hit, or interpolated across
  //    the empty minutes between the rows at 179 s and 300 s);
  //  - the minute-m bucket average: 60 m + 29.5 (mean of 60 m .. 60 m + 59),
  //    and the empty minutes 3 and 4 interpolate linearly between the
  //    bucket averages 149.5 and 329.5 to 209.5 and 269.5 — the same rule.
  private val expectedSampling = (0L to 9L).map(m => (BaseMs + m * 60000L, m * 60.0))
  private val expectedRange = (0L to 9L).map(m => (BaseMs + m * 60000L, m * 60.0 + 29.5))

  /** A session of its own on the shared context, with `conf` set. */
  private def session(conf: (String, String)*): SparkSession = {
    val s = spark.newSession()
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Conf that puts every container over the one-partition budget (the
    * size up to which AQE coalesces a shuffle's output into one partition)
    * and keeps AQE from coalescing the shuffle path's output back into one
    * partition (at these sizes it would). */
  private val ShuffleLayout = Seq(
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  /** `body`'s result, the stage count of every job it launches, and the
    * final physical plan of every query it executes in session `s`. Both
    * listener buses are asynchronous and deliver events queued before a
    * listener was added, so a sentinel job and a sentinel query mark the
    * start and the end: what a listener sees between its two marks is
    * `body`'s. */
  private def traced[T](s: SparkSession)(body: => T): (T, Seq[Int], Seq[String]) = {
    val sc = s.sparkContext
    val id = java.util.UUID.randomUUID().toString.replace("-", "")
    val (startTag, endTag) = (s"layout_start_$id", s"layout_end_$id")
    val jobs = new ConcurrentLinkedQueue[(String, Int)]
    val plans = new ConcurrentLinkedQueue[String]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""),
          e.stageInfos.size))
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString.split("== Initial Plan ==").head)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def mark(tag: String): Unit = {
      sc.setJobDescription(tag)
      try {
        sc.parallelize(Seq(1), 1).count()
        s.range(1).toDF(tag).collect()
      } finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while ((!jobs.asScala.exists(_._1 == tag) || !plans.asScala.exists(_.contains(tag))) &&
          System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(jobs.asScala.exists(_._1 == tag), s"job listener never saw $tag")
      assert(plans.asScala.exists(_.contains(tag)), s"query listener never saw $tag")
    }
    def between[A](xs: Seq[A])(tagged: (A, String) => Boolean): Seq[A] =
      xs.dropWhile(!tagged(_, startTag)).dropWhile(tagged(_, startTag))
        .takeWhile(!tagged(_, endTag))
    sc.addSparkListener(jobListener)
    s.listenerManager.register(planListener)
    val out = try {
      mark(startTag)
      val result = body
      mark(endTag)
      result
    } finally {
      sc.removeSparkListener(jobListener)
      s.listenerManager.unregister(planListener)
    }
    (out, between(jobs.asScala.toSeq)(_._1 == _).map(_._2),
      between(plans.asScala.toSeq)(_.contains(_)))
  }

  private def reportsSinglePartition(df: DataFrame): Boolean =
    df.queryExecution.sparkPlan.outputPartitioning == SinglePartition

  /** One-row-per-key check of a (ts_ms, value) result. */
  private def assertClose(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Unit = {
    assert(got.map(_._1) == want.map(_._1), s"instants differ: $got")
    got.zip(want).foreach { case ((t, v), (_, w)) =>
      assert(math.abs(v - w) < 1e-9, s"at $t: got $v, want $w") }
  }

  private def sampled(cat: GraftCatalog, name: String): Seq[(Long, Double)] =
    cat.tqlQuery(name, samplingTql).collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))

  private def ranged(s: SparkSession, name: String): Seq[(Long, Double)] =
    GraftSql.sql(s, rangeSql(name)).collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))

  test("a small container is one SinglePartition; put, TIME_SAMPLING and GROUP BY RANGE run one job with no exchange") {
    val s = session()
    val cat = new GraftCatalog(s)
    cat.createTimeSeries("iot", schema, "ts")
    cat.put("iot", rows(s, Seeded.filter(_ < 500)))
    assert(reportsSinglePartition(cat.get("iot").df),
      cat.get("iot").df.queryExecution.sparkPlan.toString)

    // keys above every stored key: the put appends a run, no job, no query
    val (_, putJobs, putPlans) = traced(s)(cat.put("iot", rows(s, Seeded.filter(_ >= 500))))
    assert(putJobs.isEmpty && putPlans.isEmpty,
      s"an in-order put ran stage counts $putJobs, queries:\n${putPlans.mkString("\n")}")
    assert(reportsSinglePartition(cat.get("iot").df))
    assert(cat.get("iot").df.count() == Seeded.size)

    val (sampledRows, tqlJobs, tqlPlans) = traced(s)(sampled(cat, "iot"))
    assertClose(sampledRows, expectedSampling)
    assert(tqlJobs == Seq(1), s"TIME_SAMPLING: one job of one stage, got $tqlJobs")
    assert(tqlPlans.size == 1 && !tqlPlans.head.contains("Exchange"), tqlPlans.mkString("\n"))

    val (rangedRows, sqlJobs, sqlPlans) = traced(s)(ranged(s, "iot"))
    assertClose(rangedRows, expectedRange)
    assert(sqlJobs == Seq(1), s"GROUP BY RANGE: one job of one stage, got $sqlJobs")
    assert(sqlPlans.size == 1 && !sqlPlans.head.contains("Exchange"), sqlPlans.mkString("\n"))

    // keys that overlap stored ones (same values): the put rewrites
    val (_, overJobs, overPlans) = traced(s)(cat.put("iot", rows(s, Seeded.filter(_ >= 590))))
    assert(overJobs == Seq(1), s"put: one job of one stage, got stage counts $overJobs")
    assert(overPlans.nonEmpty && overPlans.forall(!_.contains("Exchange")),
      s"put planned an exchange:\n${overPlans.mkString("\n")}")
    assert(reportsSinglePartition(cat.get("iot").df))
    assert(cat.get("iot").df.count() == Seeded.size)
  }

  test("the layout rule compares the measured stored bytes with AQE's one-partition size") {
    val wideSchema = StructType(Seq(
      StructField("k", IntegerType, nullable = false), StructField("s", StringType)))
    // a 100-byte string per row: 8 bytes of null bits + 2 x 8 + 100 = 124
    def wide(s: SparkSession, ks: Range): DataFrame =
      s.createDataFrame(java.util.Arrays.asList(ks.map(k => Row(k, "x" * 100)): _*), wideSchema)
    val minSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val s = session()
    val cat = new GraftCatalog(s)
    cat.createCollection("wide", wideSchema, Seq("k"))
    assert(cat.get("wide").bytes == Some(0L))
    cat.put("wide", wide(s, 0 until 10))
    assert(cat.get("wide").bytes == Some(1240L))
    // room for the batch: one partition, no exchange
    s.conf.set(minSize, "64k")
    val (_, _, inPlans) = traced(s)(cat.put("wide", wide(s, 10 until 20)))
    assert(inPlans.nonEmpty && inPlans.forall(!_.contains("Exchange")), inPlans.mkString("\n"))
    assert(cat.get("wide").bytes == Some(2480L))
    // the stored bytes alone fill the budget: the shuffle path
    s.conf.set(minSize, "2480b")
    val (_, _, overPlans) = traced(s)(cat.put("wide", wide(s, 20 until 30)))
    assert(overPlans.exists(_.contains("Exchange hashpartitioning")), overPlans.mkString("\n"))
    assert(cat.get("wide").bytes == Some(3720L))
    assert(cat.get("wide").df.count() == 30)
  }

  test("over the size budget: put, TIME_SAMPLING and GROUP BY RANGE take the shuffle path, same rows") {
    val s = session(ShuffleLayout: _*)
    val cat = new GraftCatalog(s)
    cat.createTimeSeries("iot", schema, "ts")
    cat.put("iot", rows(s, Seeded.filter(_ < 500)))
    val (_, _, putPlans) = traced(s)(cat.put("iot", rows(s, Seeded.filter(_ >= 500))))
    assert(putPlans.exists(_.contains("Exchange hashpartitioning")),
      s"put should shuffle on the key:\n${putPlans.mkString("\n")}")
    assert(!reportsSinglePartition(cat.get("iot").df))
    assert(cat.get("iot").df.count() == Seeded.size)

    val (sampledRows, _, tqlPlans) = traced(s)(sampled(cat, "iot"))
    assertClose(sampledRows, expectedSampling)
    assert(tqlPlans.exists(_.contains("Exchange hashpartitioning")), tqlPlans.mkString("\n"))

    val (rangedRows, _, sqlPlans) = traced(s)(ranged(s, "iot"))
    assertClose(rangedRows, expectedRange)
    assertOneSweep(sqlPlans)
  }

  /** Exactly one GridSweep over the traced plans, and none of the window
    * plan's window, join or broadcast. */
  private def assertOneSweep(plans: Seq[String]): Unit = {
    val all = plans.mkString("\n")
    assert(all.sliding("GridSweep".length).count(_ == "GridSweep") == 1, all)
    assert(!all.contains("Window") && !all.contains("Join") && !all.contains("BroadcastExchange"), all)
  }

  test("a one-partition container samples and fills through exactly one GridSweep") {
    val s = session()
    val cat = new GraftCatalog(s)
    cat.createTimeSeries("iot", schema, "ts")
    cat.put("iot", rows(s, Seeded))
    val (sampledRows, tqlJobs, tqlPlans) = traced(s)(sampled(cat, "iot"))
    assertClose(sampledRows, expectedSampling)
    assert(tqlJobs == Seq(1) && !tqlPlans.mkString.contains("Exchange"), tqlPlans.mkString("\n"))
    assertOneSweep(tqlPlans)
    val (rangedRows, sqlJobs, sqlPlans) = traced(s)(ranged(s, "iot"))
    assertClose(rangedRows, expectedRange)
    assert(sqlJobs == Seq(1) && !sqlPlans.mkString.contains("Exchange"), sqlPlans.mkString("\n"))
    assertOneSweep(sqlPlans)
  }

  test("update, deleteWhere, remove and TTL expiry give the same rows under both layouts") {
    // hand rule: k < 100 doubled; values in [500, 550) deleted; key 10 s
    // removed; a ROW TTL of one minute at now = base + 2 min expires every
    // row with ts <= base + 60 s
    val want = Seeded
      .filterNot(k => k >= 500 && k < 550)
      .filterNot(_ == 10L)
      .filter(_ > 60L)
      .map(k => (BaseMs + k * 1000L, if (k < 100) 2.0 * k else k.toDouble))
    def run(s: SparkSession): (Seq[(Long, Double)], Boolean) = {
      val cat = new GraftCatalog(s)
      cat.createTimeSeries("dml", schema, "ts")
      cat.register(cat.get("dml").copy(
        expiration = Some(Expiration(1, "MINUTE", expirationType = "ROW"))))
      cat.put("dml", rows(s, Seeded))
      cat.update("dml", Map("value" -> col("value") * 2), col("value") < 100)
      cat.deleteWhere("dml", col("value") >= 500 && col("value") < 550)
      cat.remove("dml", Seq(new Timestamp(BaseMs + 10L * 1000L)))
      val report = cat.expireNow(BaseMs + 120000L).collect()
      assert(report.map(_.getLong(3)).toSeq == Seq(60L), report.mkString(","))
      val df = cat.get("dml").df
      (df.orderBy("ts").collect().toSeq
        .map(r => (r.getTimestamp(0).getTime, r.getDouble(1))), reportsSinglePartition(df))
    }
    val (one, oneSingle) = run(session())
    val (shuffled, shuffledSingle) = run(session(ShuffleLayout: _*))
    assert(oneSingle && !shuffledSingle)
    assert(one == want)
    assert(shuffled == want)
  }

  test("concurrent puts into one container lose no batch") {
    val s = session()
    val cat = new GraftCatalog(s)
    cat.createTimeSeries("race", schema, "ts")
    val threads = 2
    val batches = 10
    val perBatch = 5
    val barrier = new CyclicBarrier(threads)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val done = (0 until threads).map { t =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            barrier.await(30, TimeUnit.SECONDS)
            for (b <- 0 until batches) {
              val first = (t * batches + b) * perBatch.toLong
              cat.put("race", rows(s, first until first + perBatch))
            }
          }
        })
      }
      done.foreach(_.get(300, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(cat.get("race").df.count() == threads * batches * perBatch)
  }

  test("a trigger that writes another container does not deadlock opposite concurrent writes") {
    val s = session()
    val cat = new GraftCatalog(s)
    val other = Map("ta" -> "tb", "tb" -> "ta")
    other.keys.foreach { t =>
      cat.createTimeSeries(t, schema, "ts")
      cat.createTrigger(TriggerDef(s"${t}_put", t, Seq("PUT")))
    }
    // a one-row put into one container mirrors itself as a two-row put into
    // the other (whose trigger then stops): a notifier called while the
    // first write still held its container would wait for the other
    // container, held by the write going the other way
    cat.onTrigger { e =>
      if (e.rows == 1) {
        val k = 1000L + e.trigger.table.length * 10L
        cat.put(other(e.trigger.table), rows(s, Seq(k, k + 1)))
      }
    }
    val rounds = 3
    val barrier = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val done = Seq("ta", "tb").zipWithIndex.map { case (t, i) =>
        pool.submit(new Runnable {
          override def run(): Unit = for (r <- 0 until rounds) {
            barrier.await(30, TimeUnit.SECONDS)
            cat.put(t, rows(s, Seq(i * 100L + r)))
          }
        })
      }
      done.foreach(_.get(120, TimeUnit.SECONDS))
    } finally {
      pool.shutdownNow()
      cat.resetTriggerTransport()
    }
    // each container: its own 3 one-row puts + the mirrored keys (upserts)
    assert(cat.get("ta").df.count() == rounds + 2)
    assert(cat.get("tb").df.count() == rounds + 2)
  }
}
