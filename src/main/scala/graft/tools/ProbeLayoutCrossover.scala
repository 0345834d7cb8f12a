package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType, TimestampType}

import graft.engine.{GraftCatalog, GraftSession, GraftSql}
import graft.tql.{TqlCompiler, TqlParser}

/** Where does a one-partition catalog container stop beating the shuffle
  * layout? For each container size (rows of the perfbench IoT schema: ts,
  * value, a short status string; about 34 stored bytes a row) it builds one
  * container per layout and times, as medians of `reps` runs after two
  * warm-ups, a 200-row `put`, a TQL `TIME_SAMPLING` over the last 30
  * minutes at 1 minute and a `GROUP BY RANGE … FILL (LINEAR)` over the
  * same window. The layout is forced through the container's recorded
  * stored bytes: 0 always fits the one-partition budget, unknown always
  * takes the shuffle path. The two layouts run in alternating order per
  * size, so JVM warm-up does not favour one side. Usage:
  *   runMain graft.tools.ProbeLayoutCrossover [reps] [rows,rows,...]
  * Prints one `PROBE` line per (size, layout).
  */
object ProbeLayoutCrossover {
  private val BaseMs = Timestamp.valueOf("2024-06-01 00:00:00").getTime
  private val Schema = StructType(Seq(StructField("ts", TimestampType),
    StructField("value", DoubleType), StructField("status", StringType)))

  def main(args: Array[String]): Unit = {
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    val reps = args.headOption.map(_.toInt).getOrElse(9)
    val sizes = args.lift(1).map(_.split(",").map(_.toLong).toSeq)
      .getOrElse(Seq(7500L, 30000L, 120000L, 240000L, 480000L, 960000L))
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]").appName("graft-layout-probe"), shufflePartitions = cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.engine.GraftFunctions.registerAll(spark)
    val cat = GraftCatalog.forSession(spark)

    def iso(k: Long) = java.time.Instant.ofEpochMilli(BaseMs + k * 1000L).toString
    def sqlTs(k: Long) = new Timestamp(BaseMs + k * 1000L).toString.stripSuffix(".0")
    def rows(first: Long, n: Long) = spark.range(first, first + n)
      .select(timestamp_millis(lit(BaseMs) + col("id") * 1000L).as("ts"),
        (lit(20.0) + sin(col("id") / 600.0) * 5.0).as("value"),
        when(col("id") % 7 === 0, "WARN").otherwise("OK").as("status"))
    def ms(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    }
    def median(body: => Double): Double =
      (0 until reps + 2).map(_ => body).drop(2).sorted.apply(reps / 2)

    for ((n, i) <- sizes.zipWithIndex;
         one <- if (i % 2 == 0) Seq(true, false) else Seq(false, true)) {
      val layout = if (one) "one" else "shuffle"
      val name = s"layout_probe_${n}_$layout"
      cat.createTimeSeries(name, Schema, "ts")
      def force(): Unit = cat.register(cat.get(name).copy(bytes = if (one) Some(0L) else None))
      force()
      cat.put(name, rows(0, n))
      var next = n
      val putMs = median {
        force()
        val t = ms(cat.put(name, rows(next, 200)))
        next += 200
        t
      }
      val last = next - 1
      val from = last - 1800
      val tql = TqlParser.parse(s"select TIME_SAMPLING(value, TIMESTAMP('${iso(from)}'), " +
        s"TIMESTAMP('${iso(last)}'), 1, MINUTE)")
      val sql = s"SELECT ts, avg(value) AS v FROM $name WHERE ts BETWEEN " +
        s"TIMESTAMP '${sqlTs(from)}' AND TIMESTAMP '${sqlTs(last)}' " +
        "GROUP BY RANGE(ts) EVERY (1, MINUTE) FILL (LINEAR)"
      val samplingMs = median(ms(require(
        TqlCompiler.compile(cat.get(name), tql).collect().length == 31)))
      val rangeMs = median(ms(require(GraftSql.sql(spark, sql).collect().length == 31)))
      val c = cat.get(name)
      println(f"PROBE rows=$next%d stored_bytes=${c.bytes.getOrElse(-1L)}%d layout=$layout " +
        f"partitions=${c.df.rdd.getNumPartitions}%d put_ms=$putMs%.1f " +
        f"sampling_ms=$samplingMs%.1f range_ms=$rangeMs%.1f")
      cat.dropContainer(name)
    }
    spark.stop()
  }
}
