package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Container kinds, mirroring GridDB's ContainerType
  * (/root/reference/server/data_store_common.h:219-222). */
sealed trait ContainerKind
case object Collection extends ContainerKind
case object TimeSeries extends ContainerKind

/** Declarative data expiry, declared by `CREATE TABLE ... WITH
  * (expiration_time=n, expiration_time_unit='DAY', ...)` — the reference's
  * DDLWithParameter::EXPIRATION_* option family
  * (/root/reference/server/sql_parser.h:49-53; value validation
  * /root/reference/server/nosql_command.cpp:2100-2211).
  *
  * `expirationType` is ROW (delete rows older than now-TTL; requires a
  * TimeSeries container) or PARTITION (drop whole interval partitions whose
  * end+TTL has passed — `checkExpirableInterval`,
  * /root/reference/server/nosql_command.cpp:4193; requires interval
  * partitioning). `divisionCount` is the reference's ROW-expiry erasure
  * granularity (default EXPIRE_DIVIDE_DEFAULT_NUM = 8,
  * /root/reference/server/base_container.h:150) — recorded for meta-table
  * parity; a columnar layout erases at row precision anyway. */
final case class Expiration(
    time: Int,
    unit: String,
    divisionCount: Int = 8,
    expirationType: String = "PARTITION") {
  def ttlMs: Long = time.toLong * Expiration.unitMs(unit)
}

object Expiration {
  val Units: Map[String, Long] = Map(
    "DAY" -> 86400000L, "HOUR" -> 3600000L, "MINUTE" -> 60000L,
    "SECOND" -> 1000L, "MILLISECOND" -> 1L)
  def unitMs(u: String): Long = Units.getOrElse(u.toUpperCase,
    throw new IllegalArgumentException(s"Target time unit '$u' not supported"))
}

/** One registered container: a DataFrame plus GridDB-style metadata
  * (kind, row-key columns, time column for TimeSeries, optional SQL-level
  * sharding declared by `CREATE TABLE ... PARTITION BY`, optional
  * declarative TTL plus placement hints from the `WITH (...)` option
  * list — DATA_AFFINITY / INTERVAL_WORKER_GROUP are physical-placement
  * hints on the reference's chunk store, accept-and-record here). */
final case class Container(
    name: String,
    df: DataFrame,
    kind: ContainerKind,
    keyColumns: Seq[String] = Nil,
    timeColumn: Option[String] = None,
    partitioning: Option[PartitionedTables.Partitioning] = None,
    expiration: Option[Expiration] = None,
    placementHints: Map[String, String] = Map.empty,
    // columns declared TIMESTAMP(9), carried as epoch-NANOS LongType (the
    // Tables.events ts_ns convention); plain LONG time columns are epoch
    // ms. Time arithmetic (TTL expiry) consults this per column — the
    // expiry column may be the key (ROW) or the partition column
    // (PARTITION), on either container kind
    nanoColumns: Set[String] = Set.empty,
    // bytes the frame held when the catalog last wrote it, measured on that
    // write's own job; None = unknown (the catalog's layout rule then keeps
    // the shuffle path)
    bytes: Option[Long] = None,
    // a TimeSeries keyed on its TIMESTAMP column: the largest stored key in
    // epoch microseconds, observed on the write that stored it (the rewrite
    // path's job, or the appended batch on the driver); None = unknown or
    // no non-null key
    maxKey: Option[Long] = None,
    // batches appended since the last rewrite: one-partition runs the
    // stored frame reads after its checkpoint (see GraftCatalog.put)
    runs: Int = 0)

/** Loader / catalog for the driver-provided TESTDATA star schema.
  *
  * The `events` table models a GridDB TimeSeries container (TIMESTAMP row
  * key, time-ordered); the TPC-H-ish tables model Collections. The parquet
  * `ts` column is TIMESTAMP(NANOS), which Spark reads (under
  * `nanosAsLong`) as LongType — we surface BOTH:
  *   - `ts`: TimestampType truncated to microseconds (Spark-native), and
  *   - `ts_ns`: the original int64 nanos (lossless, GridDB NanoTimestamp
  *     parity — /root/reference/server/data_type.h:78).
  */
object Tables {

  val collectionNames: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")

  // session -> (path -> resolved DataFrame). spark.read.parquet resolves the
  // footer schema eagerly (driver-side file I/O); Verify/Bench build ~90
  // queries in one session, each re-reading the same handful of tables. A
  // resolved DataFrame is an immutable logical plan — safe to share. Weak
  // keys + SOFT values: a DataFrame strongly references its session, so
  // strong values would pin the weak key forever (value->key chain); soft
  // references break the chain while keeping the cache effective until
  // memory pressure.
  private val readCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, java.lang.ref.SoftReference[DataFrame]]]())

  /** Read one raw parquet table from the sf dir (cached per session+path). */
  def read(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val m = readCache.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, java.lang.ref.SoftReference[DataFrame]]())
    val path = s"$sfDir/$name.parquet"
    Option(m.get(path)).flatMap(r => Option(r.get)).getOrElse {
      val df = spark.read.parquet(path)
      m.put(path, new java.lang.ref.SoftReference(df))
      df
    }
  }

  /** Normalize a raw events frame (batch or streaming): surface `ts` as
    * TimestampType (µs) and `ts_ns` as the lossless int64 nanos. */
  def normalizeEvents(raw: DataFrame): DataFrame = {
    if (raw.schema("ts").dataType == LongType) {
      raw
        .withColumnRenamed("ts", "ts_ns")
        .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
        .select("event_id", "ts", "ts_ns", "user_id", "event_type", "value", "props")
    } else {
      // defensive: a caller-supplied frame may still carry TIMESTAMP_NTZ
      // (e.g. a replay schema captured before session conf applied); under
      // the UTC session TZ the cast is value-preserving
      val ts =
        if (raw.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
          col("ts").cast("timestamp")
        else col("ts")
      raw.withColumn("ts", ts)
        .withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
        .select("event_id", "ts", "ts_ns", "user_id", "event_type", "value", "props")
    }
  }

  /** The events TimeSeries with `ts` as a proper TimestampType (µs). */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEvents(read(spark, sfDir, "events"))

  def container(spark: SparkSession, sfDir: String, name: String): Container =
    name match {
      case "events" =>
        Container("events", events(spark, sfDir), TimeSeries,
          keyColumns = Seq("ts"), timeColumn = Some("ts"))
      case n =>
        Container(n, read(spark, sfDir, n), Collection)
    }

  // session -> last registered sf dir; registering resolves every table's
  // parquet footer eagerly, so repeat registrations of the same dir
  // (Verify/Bench build ~90 queries in one session) are skipped. Weak keys,
  // same rationale as readCache.
  private val lastRegistered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  /** Register every TESTDATA table as a temp view in the session.
    *
    * Synchronized, and the marker is written only AFTER every view
    * exists: the earlier put-then-register form was a check-then-act race
    * — with Verify's concurrent workers, a second thread saw the marker
    * the instant the first thread put it and ran its query against views
    * that were not created yet (TABLE_OR_VIEW_NOT_FOUND on half the
    * round's queries). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    lastRegistered.synchronized {
      if (lastRegistered.get(spark) != sfDir) {
        (collectionNames :+ "events").foreach { n =>
          container(spark, sfDir, n).df.createOrReplaceTempView(n)
        }
        lastRegistered.put(spark, sfDir)
      }
    }
}
