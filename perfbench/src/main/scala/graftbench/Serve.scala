package graftbench

import org.apache.spark.sql.SparkSession

/** `serve`: the operational traffic of one session, in two phases. First
  * clients 0 and 1 run the IoT ingest-and-read loop ([[Iot]]) for half the
  * run, contending with each other on the shared session; then client 2
  * serves the persisted indexes through SQL text ([[IndexServe]]) for the
  * other half. The classes run apart because an index job holding every
  * core under Spark's FIFO scheduler makes concurrent IoT latencies swing
  * twofold from run to run. One process pays one session start and one
  * warm-up for both. */
final class Serve(spark: SparkSession, work: String, corpus: String, seed: Long)
    extends Workload {
  private val iot = new Iot(spark, seed)
  private val index = new IndexServe(spark, work, corpus, seed, client = iot.clients)
  val clients = iot.clients + 1
  val phases = Seq((0 until iot.clients, 0.5), (Seq(iot.clients), 0.5))

  def setup(): Unit = { iot.setup(); index.setup() }

  def warm(client: Int, rec: Recorder): Unit =
    if (client < iot.clients) iot.warm(client, rec) else index.warm(rec)

  def loop(client: Int, deadline: Long, rec: Recorder): Unit =
    if (client < iot.clients) iot.loop(client, deadline, rec) else index.loop(deadline, rec)

  def finalChecks(rec: Recorder): Unit = iot.finalChecks(rec)

  def layerExtras(): Map[String, Double] = iot.layerExtras() ++ index.layerExtras()
}
