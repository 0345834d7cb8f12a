package graft.engine

import org.apache.spark.sql.SparkSession

/** Session bootstrap for the Graft engine (Spark-native GridDB-capability
  * analytics). Sized for local[32] testing but configured the way a large
  * cluster run would be: AQE on, sensible shuffle partitioning, UTC.
  *
  * Reference: GridDB boots an EventEngine pool per service
  * (/root/reference/server/sql_service.cpp:774); Spark's equivalent of that
  * whole machinery is the SparkSession + scheduler, so this is intentionally
  * thin.
  */
object GraftSession {

  /** Apply graft-standard configuration to any builder. The GraftExtensions
    * attach the GridDB dialect (functions + statement parser) at session
    * creation; getOrCreate() on an already-created session keeps that
    * session's extensions (Spark semantics) — use `spark.sql.extensions=
    * graft.engine.GraftExtensions` for platform-owned sessions. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int = 32): SparkSession.Builder =
    b.withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Prefer shuffled-hash over sort-merge where the build side's
      // per-partition estimate allows it (Spark's canBuildLocalHashMap
      // guard still applies): past the broadcast cliff SHJ skips the two
      // full-side sorts — measured at sf100z, q5 30.8 s vs 53.6 s and q3
      // 18.3 s vs 25.4 s mins, alternating A/B (tools/ProbeShj, r12).
      // Composes with the data-derived shuffle width, which keeps
      // per-partition build sides bounded; small-SF plans are unaffected
      // (dims broadcast long before either strategy is consulted).
      .config("spark.sql.join.preferSortMergeJoin", "false")
      // List up to 4096 sub-directories on the driver instead of launching
      // a one-task-per-directory Spark listing job (default threshold 32).
      // An IVF `vectors/cluster=N` tree has one directory per list, so at
      // the default every GRAFT_ANN_TOPK, filtered serve and ALTER INDEX …
      // APPEND over a >32-list index paid that job. Measured on a 4-core
      // host with local disk, `spark.read.parquet` of a 142-list, 710-file
      // vectors tree: median 663 ms as a job, 130 ms on the driver (10
      // alternating reads each). Trees past 4096 directories still fan out,
      // where parallel listing pays for its scheduling.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
      // events.parquet carries TIMESTAMP(NANOS) which Spark cannot represent
      // natively (µs); read as LongType nanos and convert in Tables.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // tz-less parquet timestamps (timestamp[us] with isAdjustedToUTC=false
      // — how the driver's generator writes ts/l_shipdate/o_orderdate) read
      // as plain TIMESTAMP, not TIMESTAMP_NTZ: under the UTC session TZ the
      // values are identical, every time function (unix_micros & co) stays
      // applicable, and the DuckDB oracle agrees (it treats naive parquet
      // timestamps the same way).
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // Compile generated code once per JVM. Spark's class cache
      // (CodeGenerator.cache: JVM-wide, keyed on the generated source and
      // the compiling thread's class loader, sized at its first use) holds
      // 100 classes by default, so every analytic pass recompiled most of
      // its classes. Measured with an unbounded cache on a 4-core host, a
      // whole 20 s perfbench run compiles 354 classes (analytic) and 286
      // (serve); 1000 holds either with room to spare. BindConstants keeps
      // the serve working set from growing with every new time window.
      // A static conf: it takes effect only before the first session.
      .config("spark.sql.codegen.cache.maxEntries", "1000")

  /** Session shuffle width for a dataset of `dataBytes` on-disk parquet:
    * one partition per 64 MB of scan bytes, floored at the core count and
    * capped at 65536. The same bytes-per-partition discipline as
    * `Dedup.widthFromBytes`, applied to the SESSION default: a cluster
    * deployment sizes `spark.sql.shuffle.partitions ~ input/128MB` of
    * POST-shuffle data, and parquet compresses heap rows ~2-4x, so 64 MB
    * of scan bytes approximates a 128-256 MB heap partition. The floor
    * keeps every core busy at small SFs (driver benches are unchanged:
    * sf0.1 is ~100 MB, well under 32 x 64 MB); the derivation matters at
    * rehearsal scale, where r11 measured width=cores spilling 600M-row
    * joins ~0.5 GB per task and going super-linear until a hand-set
    * width=256 (SCALING.md Finding 1 — this function replaces that env
    * knob). */
  def shuffleWidthFor(dataBytes: Long, cores: Int): Int = {
    val derived = dataBytes / (64L << 20) + 1
    math.min(math.max(cores.toLong, derived), 65536L).toInt
  }

  /** Local session for tests / tools. */
  def local(cores: Int = 32): SparkSession = {
    val spark = configure(
      SparkSession.builder().master(s"local[$cores]").appName("graft"),
      shufflePartitions = math.max(cores, 8)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.registerAll(spark)
    spark
  }

  /** Ensure graft function registry + confs are present on an externally
    * created session (e.g. the driver's Verify/Bench session). Idempotent.
    * It cannot size the codegen cache: `spark.sql.codegen.cache.maxEntries`
    * is a static conf, so a session graft did not build must carry it in
    * its own Spark conf (see [[configure]]). */
  def prepare(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // read TIMESTAMP(NANOS) parquet (events.ts) as LongType nanos
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // naive parquet timestamps as TIMESTAMP, not NTZ (see configure)
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    GraftFunctions.registerAll(spark)
    spark
  }
}
