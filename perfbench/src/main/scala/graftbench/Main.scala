package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.engine.GraftSession

/** One closed-loop workload. The timed part is a sequence of phases, each
  * a set of clients running their loops for a share of the run. */
trait Workload {
  def clients: Int
  def setup(): Unit
  /** One untimed round of client `client`'s operations. */
  def warm(client: Int, rec: Recorder): Unit
  /** (clients, share of the run's seconds) per timed phase, in order. */
  def phases: Seq[(Seq[Int], Double)]
  def loop(client: Int, deadline: Long, rec: Recorder): Unit
  def finalChecks(rec: Recorder): Unit
  /** Layer state read after the timed loop (traced runs only). */
  def layerExtras(): Map[String, Double]
}

/** Runs one workload and writes its raw measurements as JSON; the
  * launcher (run.py) turns them into metrics.
  *
  * {{{
  * Main --workload analytic|serve --seed N --seconds S --trace 0|1
  *      --corpus DIR --work DIR --out FILE [--expected FILE]
  * }}}
  *
  * With `--trace 1` each phase runs as two segments of half its length,
  * untraced then traced, so the tracing overhead is measured in one
  * process on the same state. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.configure(SparkSession.builder()
        .master(s"local[$cpus]").appName("graft-perfbench"), shufflePartitions = cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.engine.GraftFunctions.registerAll(spark)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val tracer = new Tracer(spark)
    val rec = new Recorder(tracer)
    val w: Workload = workload match {
      case "analytic" => new Analytic(spark, opts("corpus"), seed, Expected.load(opts.get("expected")))
      case "serve" => new Serve(spark, work, opts("corpus"), seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val setupS = secs(w.setup())
    def clients(cs: Seq[Int])(body: Int => Unit): Unit = {
      val threads = cs.map { c =>
        val th = new Thread(() => body(c), s"client-$c")
        th.start(); th
      }
      threads.foreach(_.join())
    }
    val warmS = secs(clients(0 until w.clients)(w.warm(_, rec)))

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    val gc0 = gcMs
    rec.timed = true
    val modes = if (traced) Seq(false, true) else Seq(false)
    val segs = for (((cs, share), phase) <- w.phases.zipWithIndex; on <- modes) yield {
      if (on) tracer.start()
      val t0 = tracer.now
      val deadline = System.nanoTime() + (seconds * share * 1e9 / (if (traced) 2 else 1)).toLong
      clients(cs)(w.loop(_, deadline, rec))
      val t1 = tracer.now
      if (on) tracer.stop()
      Map("phase" -> phase, "share" -> share, "traced" -> on, "start" -> t0, "end" -> t1)
    }
    val gcPauseMs = gcMs - gc0
    rec.timed = false
    w.finalChecks(rec)
    val extras = if (traced) w.layerExtras() else Map.empty[String, Double]
    // one fixed query first, so state the last workload query left behind
    // (which one depends on the seed's rotation) is released; then let the
    // ContextCleaner drop what the first collection freed
    spark.range(1).selectExpr("count(1)").collect()
    System.gc(); Thread.sleep(500); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6

    val ops = rec.all
    val out = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "cores" -> cpus,
      "session_s" -> sessionS, "setup_s" -> setupS, "warm_s" -> warmS,
      "live_heap_mb" -> heapMb, "gc_pause_ms" -> gcPauseMs,
      "segments" -> segs, "layer_extras" -> extras,
      "ops" -> ops.map { o =>
        val x = tracer.execOf(o.id)
        Map("id" -> o.id, "kind" -> o.kind, "client" -> o.client, "start" -> o.start,
          "end" -> o.end, "ok" -> o.ok, "timed" -> o.timed, "traced" -> o.traced,
          "cause" -> o.cause, "extra" -> o.extra,
          "exec" -> x.map(e => Map("jobs" -> e.jobs, "stages" -> e.stages,
            "tasks" -> e.tasks, "sql_execs" -> e.sqlExecs, "eager_sql_execs" -> e.eagerSqlExecs,
            "busy_ms" -> e.busyMs, "run_ms" -> e.runMs, "gc_ms" -> e.gcMs,
            "wait_ms" -> e.waitMs, "shuffle_write_bytes" -> e.shuffleWriteBytes,
            "spill_bytes" -> e.spillBytes, "skews" -> e.skews.toSeq)))
      },
      "spans" -> tracer.spans.asScala.toSeq.map(s =>
        Seq(s.op, s.name, s.start, s.end)))
    java.nio.file.Files.write(java.nio.file.Paths.get(opts("out")),
      Json.render(out).getBytes("UTF-8"))
    spark.stop()
  }
}

/** Oracle row counts stored beside the benchmark (`expected_counts.json`:
  * a flat object of query name to row count). */
object Expected {
  def load(path: Option[String]): Map[String, Long] = path.map { p =>
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    "\"([^\"]+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toLong).toMap
  }.getOrElse(Map.empty)
}
