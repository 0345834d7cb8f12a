package graft
import org.apache.spark.sql.SparkSession
import graft.engine.GraftSession
import graft.queries.Registry

/** Benchmark main: times the headline (bench-flagged) queries at
  * SPARK_GRAFT_SF_DIR and prints one JSON line for the driver.
  *
  * Harness hygiene (round-4 postmortem: a 16-query x 6-run loop in one JVM
  * inflated later queries 4-26x over their cold standalone times):
  *  - the codegen class cache is sized by `GraftSession.configure`, so one
  *    query's compiles never evict another's — eviction churn (recompile
  *    per iteration at Spark's 100-entry default) was the main decay source;
  *  - each query warms immediately before its own timed iterations (same
  *    plan shape at the smallest SF), so the cache is hot per query no
  *    matter how many queries precede it;
  *  - between queries the table cache is dropped and a GC is requested so
  *    the ContextCleaner reclaims dereferenced broadcasts instead of
  *    letting tens of broadcast blocks accumulate across the run;
  *  - per-iteration times go to stderr so decay is visible in the log; the
  *    stdout contract stays ONE JSON line, now with per-query
  *    {"median": m, "min": n}. Min is the robust statistic for CPU-bound
  *    repeats — a median > 2x its min marks the measurement as
  *    noise-dominated (environment interference), not a plan regression.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Session shuffle width derives from the DATA (r12, replacing the env
    // knob the r11 sf100z rehearsal needed): post-shuffle partition size
    // must track scanned bytes, not the core count — at sf100z, 600M-row
    // joins over 32 partitions sort/spill ~0.5 GB per task and go
    // super-linear for config reasons, not plan reasons. At driver SFs the
    // core floor binds, so driver numbers are unchanged. The env var
    // remains an explicit override for probes.
    val shuffleParts = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt)
      .getOrElse(GraftSession.shuffleWidthFor(
        graft.engine.TableStats.treeSize(sfDir), cpus.toInt))
    Console.err.println(s"[bench] shuffle width: $shuffleParts")
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"),
      shufflePartitions = shuffleParts)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    // 7 iterations (r12, was 5): the 12-iteration q1_agg trace showed JIT
    // settling through ~6 iterations (0.33 -> 0.22 s) — a 5-iteration
    // median lands on the still-warming band and read as a 1.2x
    // "regression" in r11; the median of 7 sits in steady state. min is
    // unaffected either way.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "7").toInt
    // scale rehearsals add non-headline queries by name, or replace the
    // whole set (SCALING.md runs)
    def named(env: String) = sys.env.get(env)
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
      .map(Registry.byName)
    val only = named("SPARK_GRAFT_BENCH_ONLY")
    val benchSet = if (only.nonEmpty) only
      else Registry.benchQueries ++ named("SPARK_GRAFT_BENCH_EXTRA")
    // driver-SF-only entries (exact O(N²) baselines, pair-set bounds) are
    // refused at scale dirs BEFORE any job runs (r13 verdict #5)
    Registry.assertScaleSafe(benchSet, sfDir)
    // machine-drift calibration: a fixed, data-free, deterministic Spark
    // job timed the same way as the queries. Cross-round totals are only
    // comparable after normalizing by this — round 8 measured the SAME
    // commit differing ~1.5-2x across days on this host (SCALING.md), so a
    // raw r(N) vs r(N-1) total conflates code and machine. The workload
    // (sum of id % 1000007 over 200M longs on all cores — overflow-free
    // under ANSI mode) is pure whole-stage
    // codegen: no I/O, no shuffle, no allocation churn.
    def measureCalib(): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(200000000L).selectExpr("sum(id % 1000007)").collect()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm the codegen + JIT
      val ts = Seq(once(), once(), once()).sorted
      ts(1)
    }
    // second calibration, SHAPED like the small benched queries (parquet
    // scan -> shuffle -> agg over the warm dir): the r14 A/B (r12 code
    // re-run today vs its committed artifact) proved the host's
    // query-relevant state can drift 1.5x on sub-0.3s queries while the
    // pure-CPU calib reads IDENTICAL — scheduler/page-cache/IO state that
    // a codegen sum never touches. calib_io is the sentinel for THAT
    // class; cross-round readers of small-query deltas should check both.
    def measureCalibIo(): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.read.parquet(s"$warmDir/lineitem.parquet")
          .groupBy(org.apache.spark.sql.functions.col("l_returnflag"))
          .agg(org.apache.spark.sql.functions.sum("l_quantity"))
          .collect()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      val ts = Seq(once(), once(), once()).sorted
      ts(1)
    }
    // calib floor from committed BENCH_r*.json artifacts (the fastest this
    // host has measured): a run whose calib sits > 1.3x above it is host
    // drift — BENCH_r13 committed exactly that as a fake +12% regression
    // (r13 verdict #3). Such a run is retried (below) instead of recorded.
    val calibRef: Option[Double] = {
      val re = java.util.regex.Pattern.compile("\"calib\":\\s*([0-9.eE+-]+)")
      val files = Option(new java.io.File(".").listFiles()).getOrElse(Array())
        .filter(f => f.getName.matches("BENCH_r\\d+\\.json")).sortBy(_.getName)
      val vals = files.takeRight(6).flatMap { f =>
        val m = re.matcher(new String(java.nio.file.Files.readAllBytes(f.toPath)))
        if (m.find()) Some(m.group(1).toDouble) else None
      }
      if (vals.nonEmpty) Some(vals.min) else None
    }
    // a failed query must NEVER be silently timed: an exception returns in
    // milliseconds and reads as a 100x speedup (round 7's "fast" TS numbers
    // were exactly this — every events-table query was throwing on an
    // unexpected timestamp type and the harness recorded the throw time)
    // per-ATTEMPT failure map (r14 review: a shared map let a retried
    // attempt's transient throw mark the KEPT attempt's artifact failed
    // and exit 3 on a healthy run); the kept attempt's map wins
    final case class Attempt(results: Seq[(String, (Double, Double))],
                             calib: Double, calibIo: Double,
                             failed: scala.collection.mutable.LinkedHashMap[String, String])
    // first-attempt cold pass times (see below); re-runs never overwrite
    // them — the cold state exists once per JVM/page-cache life
    val coldTimes = scala.collection.mutable.LinkedHashMap[String, Double]()
    def timedSuite(recordCold: Boolean): Attempt = {
      val failed = scala.collection.mutable.LinkedHashMap[String, String]()
      val calib = measureCalib()
      Console.err.println(f"[bench] calibration (fixed 200M-row sum): $calib%.3f s")
      val results = benchSet.map { q =>
        try q.build(spark, warmDir).count() catch { case _: Throwable => () }
        // one untimed FULL execution at the TARGET dir (r13, was plan-build
        // only in r12). The plan-build half covers registration (eager parquet
        // footer resolution) and plan-time memoized work (the IVF index
        // build — r11's q_sim_ivf_indexed sf100z median 13.28s vs min 1.75s
        // was the build landing in iteration 1). Executing it additionally
        // pulls the query's input bytes through the OS page cache: at
        // rehearsal SFs (sf100z = 21 GB) the first timed iterations were
        // DISK-bound, not compute-bound — q5 declined 114 -> 38.5 s across 7
        // iterations purely on cache fill, so committed medians read as false
        // 1.5-2.4x regressions while hot mins showed parity (r12 verdict #1).
        // Spark caches no results across jobs (no .cache() anywhere in the
        // bench path), so timed iterations still execute the full plan; what
        // goes away is the cold-disk component, which a real cluster amortizes
        // across hundreds of spindles and which says nothing about the plan.
        // The pass is itself TIMED and emitted as the per-query `cold` field
        // (r13 ADVICE): a genuine cold-IO/first-run regression stays on
        // record without polluting the warm medians.
        val tc0 = System.nanoTime()
        try q.build(spark, sfDir).count() catch { case _: Throwable => () }
        if (recordCold)
          coldTimes.getOrElseUpdate(q.name, (System.nanoTime() - tc0) / 1e9)
        val times = (1 to iters).map { _ =>
          val t0 = System.nanoTime()
          try { q.build(spark, sfDir).count() } catch {
            case e: Throwable => failed.getOrElseUpdate(q.name,
              Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
          }
          (System.nanoTime() - t0) / 1e9
        }
        Console.err.println(f"[bench] ${q.name}%-28s " +
          times.map(t => f"$t%.3f").mkString(" ") +
          (if (failed.contains(q.name)) "  FAILED: " + failed(q.name) else ""))
        // cross-query hygiene: drop cached tables and nudge the
        // ContextCleaner (broadcast blocks are weak-ref collected)
        spark.catalog.clearCache()
        System.gc()
        q.name -> ((times.sorted.apply(times.length / 2), times.min))
      }
      // calib_io measured per attempt (r14 review: a once-only measure
      // could describe a REJECTED attempt's host state) — the kept
      // attempt's value is committed
      val calibIo = measureCalibIo()
      Console.err.println(f"[bench] io-shaped calibration (warm-dir scan+agg): $calibIo%.3f s")
      Attempt(results, calib, calibIo, failed)
    }
    var best = timedSuite(recordCold = true)
    val calibAttempts = scala.collection.mutable.ListBuffer(best.calib)
    // drift protocol (r13 verdict #3): while the run's calib sits > 1.3x
    // above the committed floor, the host is slow RIGHT NOW — repeat the
    // suite (<= 2 retries) and keep the attempt with the LOWEST calib (the
    // healthiest host state observed). If every attempt is slow, the best
    // one is kept and calib_degraded marks the artifact so a cross-round
    // reader normalizes instead of reading raw deltas.
    for (ref <- calibRef) {
      var retries = 0
      while (best.calib > ref * 1.3 && retries < 2) {
        Console.err.println(f"[bench] calib ${best.calib}%.3f > 1.3x floor $ref%.3f — host drift, re-running suite")
        retries += 1
        val a2 = timedSuite(recordCold = false)
        calibAttempts += a2.calib
        if (a2.calib < best.calib) best = a2
      }
    }
    val results = best.results
    val calib = best.calib
    val calibIo = best.calibIo
    val failed = best.failed
    val qs = results.map { case (k, (med, mn)) =>
        "\"" + k + "\":{\"median\":" + med + ",\"min\":" + mn +
          coldTimes.get(k).map(c => ",\"cold\":" + c).getOrElse("") +
          (if (failed.contains(k)) ",\"failed\":true" else "") + "}"
      }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2._1).sum else 0.0
    val failedArr = failed.keys.map("\"" + _ + "\"").mkString("[", ",", "]")
    val degraded = calibRef.exists(ref => calib > ref * 1.3)
    val calibMeta = "\"calib\":" + calib + ",\"calib_io\":" + calibIo +
      calibRef.map(r => ",\"calib_floor\":" + r).getOrElse("") +
      ",\"calib_attempts\":" + calibAttempts.mkString("[", ",", "]") +
      (if (degraded) ",\"calib_degraded\":true" else "")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedArr,$calibMeta,"sf":"$sfDir"}""")
    if (failed.nonEmpty) {
      Console.err.println(s"[bench] ${failed.size} queries FAILED — timings above are throw times, not plans")
      sys.exit(3)
    }
    spark.stop()
  }
}
