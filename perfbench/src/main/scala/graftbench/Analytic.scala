package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.{Q, Registry}

/** `analytic`: one client runs passes over `Registry.benchQueries`, each
  * query to the `noop` sink so the full plan executes (under `.count()`
  * Catalyst prunes final sorts and whole window operators). The start
  * query is rotated by the seed. Checks: each query's row count and an
  * order-independent checksum of its non-floating columns repeat on every
  * pass, and row counts match the DuckDB-oracle counts stored beside the
  * benchmark. */
final class Analytic(spark: SparkSession, corpus: String, seed: Long,
                     expected: Map[String, Long]) extends Workload {
  /** Two clients warm up (each half the queries, which halves the cold
    * pass's wall time); one runs the timed passes. */
  val clients = 2
  val phases = Seq((Seq(0), 1.0))
  private val queries: IndexedSeq[Q] = {
    val qs = Registry.benchQueries.toIndexedSeq
    val k = java.lang.Math.floorMod(seed, qs.size.toLong).toInt
    qs.drop(k) ++ qs.take(k)
  }
  private val reference = scala.collection.concurrent.TrieMap[String, (Long, String)]()

  def setup(): Unit = graft.engine.Tables.registerAll(spark, corpus)

  /** Columns whose values are exact on every run: floating results may
    * differ in the last bit with partition order, so they stay out. */
  private def exactCols(schema: StructType): Seq[String] = schema.fields.collect {
    case f if !Analytic.floating(f.dataType) => f.name
  }.toSeq

  private def runOne(q: Q, client: Int, rec: Recorder): Unit =
    rec.op(q.name, client) { op =>
      val t = rec.tracer
      val df = t.span(op, "engine.build")(q.build(spark, corpus))
      val cols = exactCols(df.schema)
      val sig = if (cols.isEmpty) lit(0L) else xxhash64(cols.map(c => col(s"`$c`")): _*)
      val obs = Observation(s"check_$op")
      val observed = df.observe(obs, count(lit(1)).as("n"), sum(sig.cast("decimal(38,0)")).as("h"))
      if (t.on) t.commandQes.clear()
      t.markAction(op)
      t.span(op, "spark.action")(observed.write.format("noop").mode("overwrite").save())
      if (t.on) {
        t.phases(op, df.queryExecution)
        Analytic.writeCommand(t).foreach(qe => t.phases(op, qe))
      }
      val m = obs.get
      val n = m("n").asInstanceOf[Long]
      val h = String.valueOf(m("h"))
      expected.get(q.name).foreach(e => Check(n == e, s"${q.name}: $n rows, oracle says $e"))
      reference.get(q.name) match {
        case Some((n0, h0)) => Check(n == n0 && h == h0,
          s"${q.name}: rows/checksum changed between passes ($n0,$h0) -> ($n,$h)")
        case None => reference(q.name) = (n, h)
      }
      Map("rows" -> n.toDouble)
    }

  def warm(client: Int, rec: Recorder): Unit =
    queries.indices.filter(_ % clients == client).foreach(i => runOne(queries(i), client, rec))

  /** Whole passes, so every query weighs the same whatever the rotation:
    * a pass that has started when the time is up runs to its end. */
  def loop(client: Int, deadline: Long, rec: Recorder): Unit =
    do queries.foreach(runOne(_, client, rec)) while (System.nanoTime() < deadline)

  def finalChecks(rec: Recorder): Unit = ()

  def layerExtras(): Map[String, Double] = Map.empty
}

object Analytic {
  def floating(t: DataType): Boolean = t match {
    case FloatType | DoubleType => true
    case ArrayType(e, _) => floating(e)
    case MapType(k, v, _) => floating(k) || floating(v)
    case StructType(fs) => fs.exists(f => floating(f.dataType))
    case _ => false
  }

  /** The noop write's QueryExecution, as reported (asynchronously) by the
    * QueryExecutionListener; waits at most one second for it. */
  def writeCommand(t: Tracer): Option[org.apache.spark.sql.execution.QueryExecution] = {
    val deadline = System.nanoTime() + 1000000000L
    def find() = t.commandQes.asScala.map(_._2).filter(qe =>
      qe.logical.nodeName.contains("Overwrite") || qe.logical.nodeName.contains("AppendData")).lastOption
    var got = find()
    while (got.isEmpty && System.nanoTime() < deadline) { Thread.sleep(5); got = find() }
    got
  }
}
