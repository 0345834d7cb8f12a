package graft

import graft.pipeline.IvfIndex
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}

/** Fixed Spark work on the IVF serve path. An index with more than 32
  * lists has more `vectors/cluster=N` directories than Spark's default
  * parallel-listing threshold, so each serve and append used to launch a
  * one-task-per-list "Listing leaf files and directories" job; and the
  * centroids were planned as nLists x (dim + 1) literal Columns. This spec
  * pins both away: no listing job on the three serve-path operations, and
  * one centroid Literal whose plan footprint does not grow with nLists. */
class IvfServeJobsSpec extends SparkTestBase {

  private val Dim = 16

  /** Deterministic synthetic vectors with a 10-value label. */
  private def vectors(from: Long, n: Long): DataFrame =
    spark.range(from, from + n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(Dim)),
        i => sin(col("id") * i + i * i)).as("embedding"),
      (col("id") % 10).cast("int").as("label"))

  private lazy val path48 = {
    val p = java.nio.file.Files.createTempDirectory("graft_ivf_jobs48").toString
    IvfIndex.build(vectors(0, 2000), "vec_id", "embedding", p, nLists = 48,
      attrCols = Seq("label"))
    p
  }

  private val ListingJob = "Listing leaf files and directories"

  /** Descriptions of every Spark job `body` launches. The listener bus is
    * asynchronous, so a sentinel job with a unique description runs after
    * `body`: once the listener has seen it, every earlier job start has
    * been delivered too. */
  private def jobsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    val sentinel = "ivf-serve-jobs-sentinel-" + java.util.UUID.randomUUID()
    try {
      body
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(sentinel) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains(sentinel), "listener never saw the sentinel job")
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.filterNot(_ == sentinel)
  }

  private def assertNoListingJob(what: String)(body: => Unit): Unit = {
    val jobs = jobsOf(body)
    assert(jobs.nonEmpty, s"$what ran no job at all — the probe saw nothing")
    assert(!jobs.exists(_.contains(ListingJob)),
      s"$what launched a parallel listing job:\n${jobs.mkString("\n")}")
  }

  private def queries: DataFrame = vectors(100000, 4)

  test("unfiltered serve over a 48-list index launches no listing job") {
    val p = path48
    assertNoListingJob("unfiltered topK") {
      IvfIndex.topK(spark, p, queries, "vec_id", "embedding", k = 10).collect()
    }
  }

  test("filtered serve over a 48-list index launches no listing job") {
    val p = path48
    assertNoListingJob("filtered topK") {
      IvfIndex.topK(spark, p, queries, "vec_id", "embedding", k = 10,
        predicate = Some(col("label") === 3)).collect()
    }
  }

  test("append to a 48-list index launches no listing job") {
    val p = java.nio.file.Files.createTempDirectory("graft_ivf_jobs_app").toString
    IvfIndex.build(vectors(0, 2000), "vec_id", "embedding", p, nLists = 48,
      attrCols = Seq("label"))
    assertNoListingJob("append") {
      IvfIndex.append(vectors(50000, 200), "vec_id", "embedding", p)
    }
    // the append landed: its vectors are served back
    val got = IvfIndex.topK(spark, p, vectors(50000, 1), "vec_id", "embedding",
      k = 1, nProbe = 4).collect()
    assert(got.nonEmpty)
  }

  /** The centroid literals in `plan`, and the node count of each
    * expression tree that carries one. */
  private def centroidLiterals(plan: LogicalPlan): (Seq[Literal], Seq[Int]) = {
    def isCentroids(e: Expression): Boolean = e match {
      case Literal(_, ArrayType(s: StructType, _)) => s.fieldNames.sameElements(Array("cid", "cv"))
      case _ => false
    }
    val exprs = plan.collect { case n => n.expressions }.flatten
    val carriers = exprs.filter(_.exists(isCentroids))
    (carriers.flatMap(_.collect { case l: Literal if isCentroids(l) => l }),
      carriers.map(_.collect { case x => x }.size))
  }

  test("serve plan holds the centroids as ONE literal whose size does not grow with nLists") {
    val small = java.nio.file.Files.createTempDirectory("graft_ivf_jobs8").toString
    IvfIndex.build(vectors(0, 2000), "vec_id", "embedding", small, nLists = 8)
    val serve48 = IvfIndex.topK(spark, path48, queries, "vec_id", "embedding", k = 10)
    val serve8 = IvfIndex.topK(spark, small, queries, "vec_id", "embedding", k = 10)
    // the analyzed plan is what the analyzer and optimizer walk: constant
    // folding would collapse per-centroid literal Columns into one Literal
    // only AFTER paying for every node, so the pin is on both plans
    for ((phase, plan) <- Seq[(String, DataFrame => LogicalPlan)](
        "analyzed" -> (_.queryExecution.analyzed),
        "optimized" -> (_.queryExecution.optimizedPlan))) {
      val (lits48, nodes48) = centroidLiterals(plan(serve48))
      val (lits8, nodes8) = centroidLiterals(plan(serve8))
      assert(lits48.size == 1, s"$phase: expected one centroid literal, found ${lits48.size}")
      assert(lits48.head.value.asInstanceOf[ArrayData].numElements() == 48)
      assert(lits8.size == 1, s"$phase: expected one centroid literal, found ${lits8.size}")
      assert(nodes48 == nodes8, s"$phase: centroid expression grows with nLists: " +
        s"$nodes8 nodes at 8 lists, $nodes48 at 48")
    }
  }
}
