package graft

import java.sql.Timestamp
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, StringType, StructField, StructType, TimestampType}

import graft.engine.{Expiration, GraftCatalog, GraftSql, TriggerDef}

/** The catalog's append path. A `put` whose batch is a driver-side
  * `LocalRelation` with keys above every stored key of a one-partition
  * TimeSeries becomes a run after the stored rows (`Container.runs` counts
  * them); any other put, and the put after eight runs, rewrites the
  * container. Each test drives an append container and a reference
  * container side by side with the same rows, the reference fed through
  * `repartition(1)` so that its batches are never local and every put of it
  * rewrites; both must then agree in schema (nullability included), rows,
  * `select *` order and stored bytes. */
class CatalogAppendSpec extends SparkTestBase {

  private val BaseMs = 1717200000000L // 2024-06-01T00:00:00Z
  private val schema = StructType(Seq(
    StructField("ts", TimestampType, nullable = false),
    StructField("value", DoubleType),
    StructField("status", StringType)))

  private def at(k: Long) = new Timestamp(BaseMs + k * 1000L)

  /** Rows at BaseMs + k seconds holding value k + `shift`; every third row
    * has a null status, so stored bytes count strings of both kinds. */
  private def rows(s: SparkSession, ks: Seq[Long], shift: Double = 0.0,
                   sch: StructType = schema): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(ks.map(k =>
      Row(at(k), k + shift, if (k % 3 == 0) null else "s" * (1 + (k % 5).toInt))): _*), sch)

  private def session(): SparkSession = spark.newSession()

  /** A catalog holding TimeSeries `app` (the append container) and `ref`
    * (the reference), both of `schema`. */
  private def catalog(s: SparkSession): GraftCatalog = {
    val cat = new GraftCatalog(s)
    Seq("app", "ref").foreach(cat.createTimeSeries(_, schema, "ts"))
    cat
  }

  /** Put `batch` into `app` as it is and into `ref` through `repartition(1)`;
    * returns the run count of `app` afterwards. */
  private def putBoth(cat: GraftCatalog, batch: DataFrame): Int = {
    cat.put("app", batch)
    cat.put("ref", batch.repartition(1))
    assert(cat.get("ref").runs == 0, "a non-local batch appended")
    cat.get("app").runs
  }

  /** `app` and `ref` agree in schema, rows, `select *` order and bytes,
    * and `app` is still one `SinglePartition` partition. */
  private def assertSame(cat: GraftCatalog): Unit = {
    val (a, b) = (cat.get("app"), cat.get("ref"))
    assert(a.df.schema == b.df.schema, s"${a.df.schema} vs ${b.df.schema}")
    val (got, want) = (a.df.collect().toSeq, b.df.collect().toSeq)
    assert(got == want, s"\nappend: $got\nrewrite: $want")
    assert(a.bytes == b.bytes)
    assert(a.df.queryExecution.sparkPlan.outputPartitioning == SinglePartition)
  }

  test("in-order batches append as runs and read like the rewrite path") {
    val s = session()
    val cat = catalog(s)
    assert(putBoth(cat, rows(s, 0L until 100L)) == 1)
    assert(putBoth(cat, rows(s, 100L until 200L)) == 2)
    assert(putBoth(cat, rows(s, Seq(250L, 200L, 230L))) == 3) // unsorted batch
    assertSame(cat)
    assert(cat.get("app").maxKey.contains((BaseMs + 250000L) * 1000L))
    // reads over the pending runs: one partition, no exchange, one GridSweep
    val sampled = cat.tqlQuery("app", "select TIME_SAMPLING(value, " +
      s"TIMESTAMP('${at(0).toInstant}'), TIMESTAMP('${at(180).toInstant}'), 1, MINUTE)")
    assert(sampled.collect().map(_.getDouble(1)).toSeq == Seq(0.0, 60.0, 120.0, 180.0))
    val plan = sampled.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Exchange") && plan.split("GridSweep").length == 2, plan)
    assert(sampled.queryExecution.sparkPlan.outputPartitioning == SinglePartition)
    // the catalog's temp view reads the runs too
    assert(GraftSql.sql(s, "SELECT count(*) FROM app").collect()(0).getLong(0) == 203L)
  }

  test("a batch that could collide, or is not a local relation of the container's types, rewrites") {
    val s = session()
    val cat = catalog(s)
    // stored keys 0..99 and 200..299, with a gap
    assert(putBoth(cat, rows(s, 0L until 100L)) == 1)
    assert(putBoth(cat, rows(s, 200L until 300L)) == 2)
    // a key at the max
    assert(putBoth(cat, rows(s, Seq(299L, 300L), shift = 0.5)) == 0)
    assertSame(cat)
    assert(putBoth(cat, rows(s, Seq(301L))) == 1)
    // keys below the max that collide with nothing: the gap, filled in order
    assert(putBoth(cat, rows(s, 100L until 200L)) == 0)
    assertSame(cat)
    // keys overlapping the stored ones
    assert(putBoth(cat, rows(s, 290L until 310L, shift = 1.0)) == 0)
    assertSame(cat)
    // a key twice in one batch (identical rows, so the kept one is known)
    assert(putBoth(cat, rows(s, Seq(400L, 401L, 401L))) == 0)
    assertSame(cat)
    assert(cat.get("app").df.count() == 312L)
    // a null key
    val nullable = StructType(schema.fields.map(_.copy(nullable = true)))
    val withNull = s.createDataFrame(java.util.Arrays.asList(
      Row(null, -1.0, "null key"), Row(at(500), 500.0, "x")), nullable)
    assert(putBoth(cat, withNull) == 0)
    assertSame(cat)
    assert(cat.get("app").df.schema("ts").nullable)
    // the null key sorts first, so in-order batches append after it
    assert(putBoth(cat, rows(s, Seq(501L))) == 1)
    assertSame(cat)
    // a type mismatch: FLOAT values, widened by the rewrite
    val floats = StructType(schema.fields.map(f =>
      if (f.name == "value") f.copy(dataType = FloatType) else f))
    val asFloat = s.createDataFrame(java.util.Arrays.asList(Row(at(600), 600.0f, "f")), floats)
    assert(putBoth(cat, asFloat) == 0)
    assertSame(cat)
    // a batch computed by a query, not a local relation
    val computed = s.range(700, 710).select(
      timestamp_millis(lit(BaseMs) + col("id") * 1000L).as("ts"),
      col("id").cast("double").as("value"), lit("q").as("status"))
    assert(putBoth(cat, computed) == 0)
    assertSame(cat)
    // a stored frame of several partitions, written over the size budget:
    // its partitions are sorted only within themselves
    val minSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    s.conf.set(minSize, "1")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    putBoth(cat, rows(s, Seq(710L)))
    assert(cat.get("app").df.rdd.getNumPartitions > 1)
    s.conf.unset(minSize)
    s.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    assert(putBoth(cat, rows(s, Seq(711L))) == 0)
    assertSame(cat)
  }

  test("the put after eight runs folds them into one checkpoint") {
    val s = session()
    val cat = catalog(s)
    for (b <- 0 until 8) assert(putBoth(cat, rows(s, b * 10L until b * 10L + 10L)) == b + 1)
    assertSame(cat)
    assert(putBoth(cat, rows(s, 80L until 90L)) == 0)
    assertSame(cat)
    assert(cat.get("app").maxKey.contains((BaseMs + 89000L) * 1000L))
    assert(putBoth(cat, rows(s, 90L until 100L)) == 1)
    assertSame(cat)
    assert(cat.get("app").df.count() == 100L)
  }

  test("update, deleteWhere, remove, TTL expiry and ADD COLUMN after appends match the rewrite path") {
    val s = session()
    val cat = catalog(s)
    Seq("app", "ref").foreach(n => cat.register(cat.get(n).copy(
      expiration = Some(Expiration(1, "MINUTE", expirationType = "ROW")))))
    def both(f: String => Unit): Unit = { f("app"); f("ref") }
    assert(putBoth(cat, rows(s, 0L until 100L)) == 1)
    assert(putBoth(cat, rows(s, 100L until 200L)) == 2)
    both(cat.update(_, Map("value" -> col("value") * 2), col("value") < 50))
    assert(cat.get("app").runs == 0)
    assertSame(cat)
    assert(putBoth(cat, rows(s, 200L until 250L)) == 1)
    both(cat.deleteWhere(_, col("value") >= 120 && col("value") < 130))
    assertSame(cat)
    assert(putBoth(cat, rows(s, 250L until 260L)) == 1)
    both(cat.remove(_, Seq(at(255))))
    assertSame(cat)
    assert(putBoth(cat, rows(s, 260L until 270L)) == 1)
    val report = cat.expireNow(BaseMs + 120000L).collect()
    assert(report.map(r => (r.getString(0), r.getLong(3))).toSet ==
      Set("app" -> 61L, "ref" -> 61L), report.mkString(","))
    assertSame(cat)
    assert(cat.get("app").maxKey.contains((BaseMs + 269000L) * 1000L))
    assert(putBoth(cat, rows(s, 270L until 280L)) == 1)
    both(cat.alterAddColumn(_, "extra", StringType))
    assertSame(cat)
    val wide = StructType(schema.fields :+ StructField("extra", StringType))
    val next = s.createDataFrame(java.util.Arrays.asList(Row(at(280), 280.0, "w", "e")), wide)
    assert(putBoth(cat, next) == 0) // the stored frame is a projection now
    assertSame(cat)
    assert(putBoth(cat, s.createDataFrame(java.util.Arrays.asList(
      Row(at(281), 281.0, "w", null)), wide)) == 1)
    assertSame(cat)
  }

  test("two threads appending to one container at once lose no batch and keep key order") {
    val s = session()
    val cat = catalog(s)
    val batches = 10
    val barrier = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      // thread t owns keys [20 b + 10 t, 20 b + 10 t + 10) of batch b, so
      // a batch lands above or below the other thread's latest one
      val done = (0 until 2).map { t =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            barrier.await(30, TimeUnit.SECONDS)
            for (b <- 0 until batches) {
              val first = 20L * b + 10L * t
              cat.put("app", rows(s, first until first + 10L))
            }
          }
        })
      }
      done.foreach(_.get(300, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    cat.put("ref", rows(s, 0L until 200L).repartition(1))
    assertSame(cat)
    assert(cat.get("app").maxKey.contains((BaseMs + 199000L) * 1000L))
  }

  test("SQL INSERT ... VALUES appends; PUT triggers count the local batch") {
    val s = session()
    val cat = GraftCatalog.forSession(s)
    GraftSql.sql(s, "CREATE TABLE ins (ts TIMESTAMP PRIMARY KEY, value DOUBLE) USING TIMESERIES")
    cat.createTrigger(TriggerDef("ins_put", "ins", Seq("PUT")))
    try {
      GraftSql.sql(s, "INSERT INTO ins VALUES (TIMESTAMP '2024-06-01 00:00:01', 1.0), " +
        "(TIMESTAMP '2024-06-01 00:00:02', 2.0)")
      assert(cat.get("ins").runs == 1)
      GraftSql.sql(s, "INSERT INTO ins VALUES (TIMESTAMP '2024-06-01 00:00:03', 3.0)")
      assert(cat.get("ins").runs == 2)
      GraftSql.sql(s, "INSERT OR REPLACE INTO ins VALUES (TIMESTAMP '2024-06-01 00:00:02', 20.0)")
      assert(cat.get("ins").runs == 0)
      val got = GraftSql.sql(s, "SELECT * FROM ins").collect().toSeq
        .map(r => (r.getTimestamp(0).getTime, r.getDouble(1)))
      assert(got == Seq((BaseMs + 1000L, 1.0), (BaseMs + 2000L, 20.0), (BaseMs + 3000L, 3.0)))
      assert(cat.firedTriggers.filter(_.trigger.name == "ins_put").map(_.rows) == Seq(2L, 1L, 1L))
    } finally cat.resetTriggerTransport()
  }
}
