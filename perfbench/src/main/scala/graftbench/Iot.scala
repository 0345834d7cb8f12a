package graftbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

import graft.engine.{GraftCatalog, GraftSql}
import graft.tql.{TqlCompiler, TqlParser}

/** IoT traffic of the `serve` workload: two clients, each owning its own
  * TimeSeries sensor containers, picked with a seeded skew toward hot
  * sensors. An iteration is one
  * 200-row `GraftCatalog.put` followed by four reads that favour recent
  * time: TQL latest row, TQL 10-minute range, TQL `TIME_SAMPLING`, and a
  * GridDB SQL `GROUP BY RANGE ... FILL(LINEAR)`. Each client checks its
  * reads against the rows it has had acknowledged. */
final class Iot(spark: SparkSession, seed: Long) {
  val clients = 2
  private val sensorsPerClient = 4
  private val initialRows = 2000
  private val batchRows = 200
  private val catalog = GraftCatalog.forSession(spark)

  private def sensor(c: Int, i: Int) = s"sensor_c${c}_$i"
  /** Rows acknowledged per sensor; row k sits at base + k seconds. */
  private val acked = scala.collection.concurrent.TrieMap[String, Long]()
  private val rngs = Array.tabulate(clients)(c => new SplittableRandom(seed * 977L + c))

  def setup(): Unit =
    for (c <- 0 until clients; i <- 0 until sensorsPerClient) {
      val name = sensor(c, i)
      catalog.createTimeSeries(name, Gen.IotSchema, "ts")
      catalog.put(name, rowsFrame(name, 0, initialRows))
      acked(name) = initialRows
    }

  private def rowsFrame(name: String, first: Long, n: Int) =
    spark.createDataFrame(java.util.Arrays.asList(Gen.iotRows(seed, name, first, n): _*),
      Gen.IotSchema)

  private def iso(k: Long): String =
    java.time.Instant.ofEpochMilli(Gen.IotBaseMs + k * 1000L).toString

  private def sqlTs(k: Long): String =
    new Timestamp(Gen.IotBaseMs + k * 1000L).toString.stripSuffix(".0")

  private def tql(rec: Recorder, kind: String, c: Int, name: String, text: String)
                 (check: Array[org.apache.spark.sql.Row] => Unit): Unit =
    rec.op(kind, c) { op =>
      val t = rec.tracer
      val q = t.span(op, "tql.parse")(TqlParser.parse(text))
      val df = t.span(op, "tql.compile")(TqlCompiler.compile(catalog.get(name), q))
      val rows = t.action(op, df)(df.collect())
      check(rows)
      Map("rows" -> rows.length.toDouble)
    }

  private def iteration(c: Int, rec: Recorder): Unit = {
    val r = rngs(c)
    val name = sensor(c, Gen.skewedPick(r, sensorsPerClient))
    val n0 = acked(name)
    val batch = rowsFrame(name, n0, batchRows)
    val put = rec.op("put", c) { op =>
      rec.tracer.span(op, "engine.catalog.put")(catalog.put(name, batch))
      Map("rows_before" -> n0.toDouble, "rows_put" -> batchRows.toDouble)
    }
    if (put) acked(name) = n0 + batchRows
    val n = acked(name)
    val last = n - 1
    tql(rec, "tql_latest", c, name, "select * order by ts desc limit 1") { rows =>
      Check(rows.length == 1 && rows(0).getTimestamp(0).getTime == Gen.IotBaseMs + last * 1000L,
        s"$name: latest row is not the newest acknowledged one (k=$last)")
    }
    // a 10-minute window ending a skewed distance before the newest row
    val hi = math.max(600L, last - (-120.0 * math.log(1.0 - r.nextDouble())).toLong)
    val lo = hi - 600L
    tql(rec, "tql_range", c, name,
      s"select * where ts >= TIMESTAMP('${iso(lo)}') and ts < TIMESTAMP('${iso(hi)}')") { rows =>
      Check(rows.length == 600, s"$name: 10-minute range returned ${rows.length} rows, want 600")
    }
    // the last 30 minutes sampled each minute
    val from = last - 1800L
    tql(rec, "tql_sampling", c, name,
      s"select TIME_SAMPLING(value, TIMESTAMP('${iso(from)}'), TIMESTAMP('${iso(last)}'), 1, MINUTE)") { rows =>
      Check(rows.length == 31, s"$name: TIME_SAMPLING returned ${rows.length} rows, want 31")
    }
    rec.op("sql_range", c) { op =>
      val t = rec.tracer
      val df = t.span(op, "engine.sql_call")(GraftSql.sql(spark,
        s"SELECT ts, avg(value) AS v FROM $name WHERE ts BETWEEN TIMESTAMP '${sqlTs(from)}' " +
          s"AND TIMESTAMP '${sqlTs(last)}' GROUP BY RANGE(ts) EVERY (1, MINUTE) FILL (LINEAR)"))
      val rows = t.action(op, df)(df.collect())
      Check(rows.length == 31 && rows.forall(!_.isNullAt(1)),
        s"$name: GROUP BY RANGE returned ${rows.length} rows, want 31 filled")
      Map("rows" -> rows.length.toDouble)
    }
  }

  def warm(client: Int, rec: Recorder): Unit = iteration(client, rec)

  def loop(client: Int, deadline: Long, rec: Recorder): Unit =
    while (System.nanoTime() < deadline) iteration(client, rec)

  /** Every container holds exactly the rows acknowledged to its client. */
  def finalChecks(rec: Recorder): Unit =
    for (c <- 0 until clients; i <- 0 until sensorsPerClient) {
      val name = sensor(c, i)
      rec.op("check_rows", c) { _ =>
        val n = catalog.get(name).df.count()
        Check(n == acked(name), s"$name holds $n rows, ${acked(name)} acknowledged")
        Map("rows" -> n.toDouble)
      }
    }

  def layerExtras(): Map[String, Double] =
    Map("engine.catalog.container_rows" -> acked.values.sum.toDouble / acked.size)
}
