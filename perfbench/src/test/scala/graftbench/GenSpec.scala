package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The `serve` generators are pure functions of the seed: the same seed
  * gives identical inputs, another seed different ones (the analytic
  * corpus is covered by test_corpus.py). */
class GenSpec extends AnyFunSuite {

  test("IoT batches repeat for a seed and differ across seeds") {
    val a = Gen.iotRows(7L, "sensor_c0_1", 2000L, 200)
    assert(a == Gen.iotRows(7L, "sensor_c0_1", 2000L, 200))
    assert(a != Gen.iotRows(8L, "sensor_c0_1", 2000L, 200))
    assert(a.map(_.getTimestamp(0).getTime) ==
      (2000L until 2200L).map(k => Gen.IotBaseMs + k * 1000L))
  }

  test("sensor picks repeat for a seed and favour hot sensors") {
    def picks(seed: Long) = {
      val r = new java.util.SplittableRandom(seed)
      Seq.fill(2000)(Gen.skewedPick(r, 8))
    }
    assert(picks(3L) == picks(3L))
    assert(picks(3L) != picks(4L))
    val counts = picks(3L).groupBy(identity).map { case (k, v) => k -> v.size }
    assert(counts(0) > counts(7) * 4)
  }

  test("ANN corpus, queries and append batches repeat for a seed") {
    def vs(seed: Long, stream: Long) =
      Gen.vectors(seed, 300, 64, 10, 0L, stream).map(v => (v.id, v.v.toSeq, v.label))
    assert(vs(5L, 0L) == vs(5L, 0L))
    assert(vs(5L, 1001L) == vs(5L, 1001L))
    assert(vs(5L, 0L) != vs(6L, 0L))
    assert(vs(5L, 0L) != vs(5L, 1001L))
    vs(5L, 0L).foreach { case (_, v, _) =>
      assert(math.abs(v.map(x => x.toDouble * x).sum - 1.0) < 1e-4)
    }
  }

  test("gate batches repeat for a seed and plant half exact copies") {
    val indexed = (0 until 50).map(i => s"doc text $i")
    val g = Gen.gateBatch(9L, 3, 100, indexed)
    assert(g == Gen.gateBatch(9L, 3, 100, indexed))
    assert(g != Gen.gateBatch(10L, 3, 100, indexed))
    assert(g.count(_.planted) == 50)
    assert(g.filter(_.planted).forall(d => indexed.contains(d.text)))
    assert(g.filterNot(_.planted).forall(d => !indexed.contains(d.text)))
    assert(g.map(_.docId).distinct.size == 100)
  }
}
