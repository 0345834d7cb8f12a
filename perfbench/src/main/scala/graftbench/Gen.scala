package graftbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generators of the `serve` inputs (the analytic corpus comes from
  * `corpus.py`). Every value is a pure function of the seed and the row's
  * position, so the same seed gives the same inputs. */
object Gen {

  // ---- vectors: unit-norm, clustered around `clusters` centres; the
  //      label is drawn independently of the cluster, as in the repo's
  //      embeddings fixture

  final case class Vec(id: Long, v: Array[Float], label: Int)

  private def gauss(r: SplittableRandom): Double = {
    val u1 = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def centres(seed: Long, dim: Int, clusters: Int): Array[Array[Double]] = {
    val r = new SplittableRandom(seed * 7919L + 17L)
    Array.fill(clusters)(Array.fill(dim)(gauss(r)))
  }

  /** `n` vectors with ids `firstId..`, stream `stream` of the seed. */
  def vectors(seed: Long, n: Int, dim: Int, labels: Int, firstId: Long,
              stream: Long = 0L, clusters: Int = 10): Seq[Vec] = {
    val cs = centres(seed, dim, clusters)
    val r = new SplittableRandom(seed * 1000003L + stream)
    (0 until n).map { i =>
      val c = cs(r.nextInt(clusters))
      val label = r.nextInt(labels)
      val raw = Array.tabulate(dim)(j => c(j) + 1.5 * gauss(r))
      val norm = math.sqrt(raw.map(x => x * x).sum)
      Vec(firstId + i, raw.map(x => (x / norm).toFloat), label)
    }
  }

  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  def vectorFrame(spark: SparkSession, vs: Seq[Vec]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      vs.map(v => Row(v.id, v.v.toSeq, v.label)): _*), VecSchema)

  // ---- IoT: 200-row batches per sensor, one row per second

  val IotSchema: StructType = StructType(Seq(
    StructField("ts", TimestampType), StructField("value", DoubleType),
    StructField("status", StringType)))

  /** Epoch ms of a sensor's first row. */
  val IotBaseMs: Long = Timestamp.valueOf("2024-06-01 00:00:00").getTime

  /** Rows `first until first + n` of one sensor (row k sits at base + k s). */
  def iotRows(seed: Long, sensor: String, first: Long, n: Int): Seq[Row] = {
    val r = new SplittableRandom(seed * 31L + sensor.hashCode.toLong * 1000003L + first)
    (0 until n).map { i =>
      val k = first + i
      val v = 20.0 + 5.0 * math.sin(k / 600.0) + gauss(r)
      Row(new Timestamp(IotBaseMs + k * 1000L), v, if (v > 27.0) "WARN" else "OK")
    }
  }

  /** Zipf-like pick over `n` items: item i has weight 1/(i+1)^1.2. */
  def skewedPick(r: SplittableRandom, n: Int): Int = {
    val w = (0 until n).map(i => 1.0 / math.pow(i + 1, 1.2))
    var x = r.nextDouble() * w.sum
    var i = 0
    while (i < n - 1 && x >= w(i)) { x -= w(i); i += 1 }
    i
  }

  // ---- dedup gate batches: half planted exact copies under fresh ids,
  //      half fresh texts that match nothing indexed

  private val Words = Seq("query", "row", "stream", "spark", "batch", "sort",
    "value", "hash", "filter", "data", "scan", "key", "window", "table", "join")

  final case class GateDoc(docId: Long, text: String, planted: Boolean)

  def gateBatch(seed: Long, batch: Int, size: Int, indexed: IndexedSeq[String]): Seq[GateDoc] = {
    val r = new SplittableRandom(seed * 8191L + batch)
    (0 until size).map { i =>
      val id = 100000000L + batch.toLong * 1000L + i
      if (i % 2 == 0) GateDoc(id, indexed(r.nextInt(indexed.size)), planted = true)
      else {
        val words = Seq.fill(10 + r.nextInt(40))(Words(r.nextInt(Words.size)))
        GateDoc(id, (words :+ s"fresh$id").mkString(" "), planted = false)
      }
    }
  }
}
