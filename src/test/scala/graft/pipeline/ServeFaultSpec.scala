package graft.pipeline

import graft.SparkTestBase

/** Failure paths of the serve-side helpers: a listing fault must fall
  * through to the uncached load, and a metric wait must be bounded
  * without leaving a thread behind. */
class ServeFaultSpec extends SparkTestBase {

  test("MetaCache: a non-IO listing failure falls through to the uncached load") {
    FaultFileSystem.withScheme(spark.sparkContext.hadoopConfiguration) {
      val dir = s"${FaultFileSystem.Scheme}:///tmp/graft_meta_fault/meta"
      var loads = 0
      def load(): String = { loads += 1; s"loaded-$loads" }
      // the listing throws an unchecked exception, the way some
      // FileSystem implementations surface faults
      def failingListing = FaultFileSystem.Plan("listStatus", 1, _ => true,
        new IllegalStateException(_))
      def cachedUnderFault(): String = {
        val (out, fired) =
          FaultFileSystem.inject(failingListing)(MetaCache.cached(spark, dir)(load()))
        assert(fired, "the listing fault must fire")
        out.get
      }
      assert(cachedUnderFault() == "loaded-1")
      // no stamp, so nothing is cached: every call takes the load again
      assert(cachedUnderFault() == "loaded-2")
    }
  }

  test("observed-metric wait: a never-firing Observation returns the fallback after the bound, leaking no thread") {
    import scala.concurrent.duration._
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    def parkedOnObservation: Int =
      Thread.getAllStackTraces.values.toArray(Array.empty[Array[StackTraceElement]])
        .count(_.exists(_.getClassName.startsWith("org.apache.spark.sql.Observation")))
    val before = threads.getThreadCount
    val bound = 200.millis
    // more waits than the global pool has threads: a per-wait parked
    // thread would show in the count
    val rounds = Runtime.getRuntime.availableProcessors + 2
    (1 to rounds).foreach { i =>
      val obs = org.apache.spark.sql.Observation(s"never_$i")
      val t0 = System.nanoTime()
      val n = IvfIndex.observedCount(obs, "n", bound)(-1L)
      val waited = (System.nanoTime() - t0).nanos
      assert(n == -1L, "a never-firing observation must yield the fallback")
      assert(waited >= bound, s"returned after $waited, before the $bound bound")
      assert(waited < bound + 5.seconds, s"wait overran its bound: $waited")
    }
    assert(parkedOnObservation == 0, "a thread is still parked on Observation.get")
    val after = threads.getThreadCount
    assert(after <= before, s"live threads grew from $before to $after")
  }
}
