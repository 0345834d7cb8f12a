package graft.engine

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, NullsFirst, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Statistics}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, BinaryType, IntegerType, MapType, StringType, StructField, StructType, TimestampType}

/** Container catalog: GridDB's DDL/DML surface mapped onto Spark.
  *
  * Reference surface: CREATE/DROP TABLE (rules 15-41
  * /root/reference/server/sql_internal_parser.cpp:849-875), TimeSeries DDL
  * (`USING TIMESERIES`, rule 40), partitioned tables (rules 29-31),
  * Container.put/get/remove (java_client/.../Container.java:437,557,671),
  * metadata tables #tables/#columns (/root/reference/server/meta_type.h:89-115).
  *
  * Semantics: `put` is INSERT-OR-REPLACE by row key (GridDB upserts on PK);
  * implemented as union + keep-latest-per-key — the MERGE pattern that scales
  * as one shuffle on the key. Data lives in temp views (tests) — the same
  * API drives partitioned parquet layouts via `PartitionedTables`.
  *
  * Layout: a container that fits one partition (see `onePartition`) is
  * kept as ONE partition that Catalyst knows is one (`SinglePartition`), so
  * DML and the IoT reads over it plan no exchange; a bigger one keeps the
  * shuffle layout.
  *
  * Runs and the fold: a one-partition TimeSeries keyed on its TIMESTAMP
  * column is a checkpoint plus up to `MaxRuns` appended runs. A `put`
  * whose batch is a driver-side `LocalRelation` with keys above every
  * stored key cannot collide, so it becomes one more sorted run read after
  * the checkpoint in the same partition (GridDB appends rows to its chunk
  * store the same way): no Spark job, no rewrite. The run's rows stay on
  * the driver, inside the run's RDD, until a fold. Every other write is
  * the fold: it rewrites checkpoint and runs into one new checkpoint.
  *
  * Concurrency: writes to one container are serialized (GridDB serializes
  * writes per container) — each DML reads the stored frame, runs its job
  * and registers the result under the container's write lock, so two
  * concurrent puts cannot both build on the same old frame. Triggers fire
  * after the lock is released, so a notifier that writes another container
  * cannot deadlock against a write going the other way. Reads take no lock;
  * the catalog maps are synchronized like the trigger map.
  */
/** Event-trigger definition (client surface gridstore.h GSTriggerInfo
  * :838-870: name, REST|JMS type, uri, PUT/DELETE event flags, column set,
  * JMS destination, credentials). The CE server itself REJECTS trigger
  * creation (CreateDropTriggerHandler throws "Trigger not support",
  * /root/reference/server/transaction_service_base.cpp:5078) while still
  * shipping the #event_triggers meta table — so this surface is additive:
  * a Spark-native notification hook, fired per ingest batch. */
final case class TriggerDef(name: String, table: String,
                            eventTypes: Seq[String],
                            columns: Seq[String] = Nil,
                            triggerType: String = "REST",
                            uri: String = "",
                            jmsDestinationType: Option[String] = None,
                            jmsDestinationName: Option[String] = None,
                            user: Option[String] = None,
                            password: Option[String] = None)

/** One trigger firing: the batch that caused it and its row count. */
final case class TriggerEvent(trigger: TriggerDef, event: String, rows: Long)

object GraftCatalog {
  private val sessions =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, GraftCatalog]()

  /** The per-container predicate of GridStore.multiGet
    * (java_client RowKeyPredicate.java: either a distinct-key set or a
    * start/finish key range — the two construction families). Both range
    * bounds are INCLUSIVE, like setStart/setFinish. */
  sealed trait RowKeyPredicate
  final case class KeySet(keys: Seq[Any]) extends RowKeyPredicate
  final case class KeyRange(from: Option[Any], finish: Option[Any])
      extends RowKeyPredicate

  /** The session-scoped catalog the SQL-text front-end routes DDL/DML to
    * (containers become temp views, so session scoping matches Spark's). */
  def forSession(spark: SparkSession): GraftCatalog =
    sessions.computeIfAbsent(spark, s => new GraftCatalog(s))
}

final class GraftCatalog(spark: SparkSession) {

  private val containers = scala.collection.mutable.LinkedHashMap[String, Container]()
  // (index name, table, columns) — advisory metadata: Spark has no secondary
  // indexes (Parquet stats + pushdown play that role), but the DDL must
  // round-trip and surface in #index_info (meta_type.h TYPE_INDEX)
  private val indexes =
    scala.collection.mutable.LinkedHashMap[String, (String, Seq[String])]()
  private val views = scala.collection.mutable.LinkedHashMap[String, String]()
  private val triggers = scala.collection.mutable.LinkedHashMap[String, TriggerDef]()
  // auth DDL surface (grammar rules 78-90, sql_processor_ddl.cpp:218,554):
  // users/roles with salted-SHA-256 password digests (never plaintext) and
  // table-level ALL/SELECT privileges. A single-JVM Spark engine has no
  // wire-auth boundary — the catalog carries the reference's SEMANTICS
  // (DDL round-trip, duplicate/missing errors, #users-style metadata,
  // checkPrivilege for an embedding layer to enforce); real authentication
  // belongs to the cluster platform (documented divergence, COVERAGE.md).
  private final case class UserDef(name: String, isRole: Boolean,
                                   passwordDigest: Option[String])
  private val users = scala.collection.mutable.LinkedHashMap[String, UserDef]()
  // (grantee, table, privilege ALL|SELECT)
  private val grants = scala.collection.mutable.LinkedHashSet[(String, String, String)]()
  private val databases = scala.collection.mutable.LinkedHashSet[String]("public")
  // notification transport: REST/JMS fan-out is the production binding; the
  // default (and the zero-egress test binding) records firings so specs and
  // operators can observe them
  private val firedLog = scala.collection.mutable.ListBuffer[TriggerEvent]()
  private def logTransport: TriggerEvent => Unit =
    e => firedLog.synchronized { firedLog += e; () }
  @volatile private var notifier: TriggerEvent => Unit = logTransport

  /** CREATE TRIGGER (additive DDL; GSTriggerInfo semantics). Trigger-map
    * access is synchronized throughout: DDL mutates on the driver while
    * streaming foreachBatch threads fire/enumerate concurrently. */
  def createTrigger(t: TriggerDef): Unit = {
    require(exists(t.table), s"table ${t.table} does not exist")
    val bad = t.eventTypes.filterNot(Set("PUT", "DELETE"))
    require(bad.isEmpty, s"unknown trigger event types: ${bad.mkString(",")}")
    t.columns.foreach(cn => require(get(t.table).df.columns.contains(cn),
      s"${t.table} has no column $cn"))
    triggers.synchronized {
      require(!triggers.contains(t.name), s"trigger ${t.name} already exists")
      triggers(t.name) = t
    }
  }

  /** DROP TRIGGER. */
  def dropTrigger(name: String, ifExists: Boolean = false): Unit =
    triggers.synchronized {
      if (triggers.remove(name).isEmpty && !ifExists)
        throw new NoSuchElementException(s"trigger $name does not exist")
    }

  def listTriggers: Seq[TriggerDef] = triggers.synchronized { triggers.values.toSeq }

  /** Replace the notification transport (e.g. [[RestTriggerNotifier]] in a
    * real deployment). The default logs to [[firedTriggers]]. */
  def onTrigger(f: TriggerEvent => Unit): Unit = notifier = f

  /** Restore the default in-process logging transport (test hygiene). */
  def resetTriggerTransport(): Unit = notifier = logTransport

  /** Firings observed by the default (logging) transport. */
  def firedTriggers: Seq[TriggerEvent] = firedLog.synchronized { firedLog.toList }

  /** Fire the table's triggers for `event`. The affected-row count is
    * computed ONCE and only when at least one trigger matches — tables
    * without triggers pay nothing on the put/remove hot path. */
  private def fireTriggers(table: String, event: String, affected: => Long): Unit = {
    val matching = triggers.synchronized {
      triggers.values.filter(t => t.table == table && t.eventTypes.contains(event)).toSeq
    }
    if (matching.nonEmpty) {
      val n = affected
      matching.foreach(t => notifier(TriggerEvent(t, event, n)))
    }
  }

  def createCollection(name: String, schema: StructType,
                       keyColumns: Seq[String] = Nil): Container = {
    val df = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    register(Container(name, df, Collection, keyColumns, None, bytes = Some(0L)))
  }

  def createTimeSeries(name: String, schema: StructType,
                       timeColumn: String): Container = {
    require(schema.fieldNames.contains(timeColumn), s"missing $timeColumn")
    val df = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    register(Container(name, df, TimeSeries, Seq(timeColumn), Some(timeColumn),
      bytes = Some(0L)))
  }

  def register(c: Container): Container = writing(c.name) {
    containers.synchronized { containers(c.name) = c }
    GraftSqlBridge.replaceTempView(c.df, c.name)
    c
  }

  def get(name: String): Container =
    containers.synchronized { containers.get(name) }.getOrElse(
      throw new NoSuchElementException(s"container $name does not exist"))

  def exists(name: String): Boolean = containers.synchronized { containers.contains(name) }

  def dropContainer(name: String): Unit = writing(name) {
    containers.synchronized { containers.remove(name) }
    spark.catalog.dropTempView(name)
  }

  // one monitor per container name; entries are never removed, so a
  // dropped-and-recreated container keeps serializing on the same one
  private val writeLocks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Run a read-modify-write of container `name` under its write lock
    * (reentrant: `register` nests inside the DML that calls it). */
  private def writing[T](name: String)(body: => T): T =
    writeLocks.computeIfAbsent(name, _ => new Object).synchronized(body)

  /** Replace container `name`'s metadata under its write lock. */
  private[engine] def alter(name: String)(f: Container => Container): Container =
    writing(name)(register(f(get(name))))

  /** Cut lineage after DML without pulling rows to the driver: an eager
    * `localCheckpoint` materializes each partition on its executor (blocks
    * stay distributed; the ContextCleaner reclaims superseded checkpoints).
    * The same job measures the bytes it stores and, for a container keyed
    * on its TIMESTAMP time column, its largest key (observed aggregates,
    * read back once the job has finished: no extra job); the next DML's
    * layout rule reads the bytes, the next put's append path the key. A
    * result of one partition is published as `SinglePartition`, so
    * aggregates and windows over the container plan no exchange. This is
    * also the fold: `df` reads the pending runs, and the result has none.
    * Repeated put/update/delete therefore stack O(1) plan depth while the
    * data itself never leaves the cluster — the property the reference's
    * DMLProcessor has by writing through the chunk store
    * (/root/reference/server/sql_processor_dml.h:39). */
  private def materialize(c: Container, df: DataFrame): Container = {
    val key = timeKey(c, df.schema)
    val observed = df.observe(StoredBytes, storedBytes(df.schema).as("bytes"),
      key.map(k => max(unix_micros(quoted(k)))).getOrElse(lit(null).cast("long")).as("max_key"))
    val cp = observed.localCheckpoint()
    val m = observed.queryExecution.observedMetrics.get(StoredBytes)
    c.copy(df = GraftSqlBridge.asSinglePartition(cp), bytes = m.map(_.getLong(0)),
      maxKey = m.filterNot(_.isNullAt(1)).map(_.getLong(1)), runs = 0)
  }

  private val StoredBytes = "graft_stored_bytes"

  private def quoted(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** Per-row bytes of `schema` that do not depend on the values: 8 bytes
    * of null bits (per 64 columns) and 8 per column, plus a nested column's
    * type default size. */
  private def fixedRowBytes(schema: StructType): Long =
    8L * ((schema.size + 63) / 64 + schema.size) + schema.fields.map(_.dataType).collect {
      case t @ (_: ArrayType | _: MapType | _: StructType) => t.defaultSize.toLong
    }.sum

  /** Aggregate: the bytes rows of `schema` take in Spark's row format —
    * [[fixedRowBytes]] plus each string or binary value's own length,
    * measured (Spark's row-width estimate counts any string as 20 bytes).
    * [[rowBytes]] is the same count taken on the driver. */
  private def storedBytes(schema: StructType): Column = {
    val row = schema.fields.foldLeft(lit(fixedRowBytes(schema))) { (b, f) =>
      f.dataType match {
        case _: StringType | BinaryType => b + coalesce(octet_length(quoted(f.name)), lit(0))
        case _ => b
      }
    }
    coalesce(sum(row), lit(0L))
  }

  /** [[storedBytes]] of one row, counted on the driver. */
  private def rowBytes(schema: StructType): InternalRow => Long = {
    val fixed = fixedRowBytes(schema)
    val varying = schema.fields.zipWithIndex.collect {
      case (f, i) if f.dataType.isInstanceOf[StringType] =>
        (r: InternalRow) => if (r.isNullAt(i)) 0L else r.getUTF8String(i).numBytes.toLong
      case (f, i) if f.dataType == BinaryType =>
        (r: InternalRow) => if (r.isNullAt(i)) 0L else r.getBinary(i).length.toLong
    }
    r => varying.foldLeft(fixed)((b, f) => b + f(r))
  }

  /** The layout rule: `c` stays ONE partition while its stored bytes, plus
    * the incoming batch's estimated size, fit the size up to which AQE
    * itself coalesces a shuffle's output into one partition:
    * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MB) under
    * the default `parallelismFirst`, which spreads anything bigger across
    * the cores, else the larger of that and
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes`. Inside it the
    * shuffle path would end in one partition anyway, so the one-partition
    * path gives up no parallelism after its merge. An unmeasured container,
    * or a batch whose size Spark cannot estimate, keeps the shuffle path. */
  private def fitsOnePartition(c: Container, incoming: Option[DataFrame]): Boolean = {
    def bytesConf(key: String) = JavaUtils.byteStringAsBytes(spark.conf.get(key))
    val minSize = bytesConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE.key)
    val budget =
      if (spark.conf.get(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST.key).toBoolean) minSize
      else minSize max bytesConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key)
    val batch = incoming.fold(BigInt(0))(_.queryExecution.analyzed.stats.sizeInBytes)
    c.bytes.exists(b => BigInt(b) + batch <= budget)
  }

  /** DML input under the layout rule: inside the budget it is gathered
    * with a no-shuffle `coalesce(1)`. */
  private def onePartition(c: Container, df: DataFrame,
                           incoming: Option[DataFrame] = None): DataFrame =
    if (fitsOnePartition(c, incoming)) df.coalesce(1) else df

  /** The time column of a TimeSeries keyed on it, when it is a TIMESTAMP
    * in `schema`: the key whose maximum the catalog tracks and by which
    * the append path orders runs. */
  private def timeKey(c: Container, schema: StructType): Option[String] =
    c.timeColumn.filter(tc => c.kind == TimeSeries && c.keyColumns == Seq(tc) &&
      schema.find(_.name == tc).exists(_.dataType == TimestampType))

  /** Runs a container holds before its next put folds them. */
  private val MaxRuns = 8

  /** The append path of `put`: `batch` (the optimized plan of `rows`)
    * becomes one more run of `c`, sorted by key and read after the stored
    * rows in the same partition, when it cannot collide with a stored key
    * and the container is, and stays, one partition. The rows are
    * already on the driver, so no Spark job or SQL execution runs; the
    * run's bytes are counted here. None, and nothing changed, when any
    * condition fails. */
  private def appendRun(c: Container, rows: DataFrame,
                        batch: Option[LocalRelation]): Option[Container] =
    (c.df.queryExecution.logical, batch, timeKey(c, c.df.schema), c.bytes) match {
      case (stored: LogicalRDD, Some(local), Some(tc), Some(bytes))
          if c.runs < MaxRuns && (c.maxKey.isDefined || bytes == 0L) && local.data.nonEmpty &&
            stored.rdd.partitions.length <= 1 &&
            local.output.map(a => (a.name, a.dataType)) == stored.output.map(a => (a.name, a.dataType)) &&
            fitsOnePartition(c, Some(rows)) =>
        val k = stored.output.indexWhere(_.name == tc)
        if (local.data.exists(_.isNullAt(k))) None
        else {
          val toUnsafe = UnsafeProjection.create(local.schema)
          val run = local.data.map(r => toUnsafe(r).copy()).sortBy(_.getLong(k))
          val keys = run.map(_.getLong(k))
          val above = keys.head > c.maxKey.getOrElse(Long.MinValue) &&
            keys.iterator.zip(keys.iterator.drop(1)).forall { case (a, b) => a < b }
          Option.when(above) {
            val key = stored.output(k)
            // the stored rows come first and every run is sorted above
            // them, so an ascending key order survives the append
            val sorted = bytes == 0L || stored.outputOrdering.headOption.exists(o =>
              o.child.semanticEquals(key) && o.direction == Ascending && o.nullOrdering == NullsFirst)
            val ordering = if (sorted) Seq(SortOrder(key, Ascending)) else Nil
            val output = stored.output.zip(local.output).map { case (a, b) =>
              if (b.nullable && !a.nullable) a.withNullability(true) else a }
            val stats = Statistics(stored.stats.sizeInBytes + local.stats.sizeInBytes,
              for (a <- stored.stats.rowCount) yield a + run.size)
            // one partition reading the stored rows, then the run: the
            // stored partition is the only one with a preferred location,
            // and Spark's coalescer places located partitions first and
            // keeps the rest in order
            val rdd = stored.rdd.union(spark.sparkContext.parallelize[InternalRow](run, 1))
              .coalesce(1)
            register(c.copy(
              df = GraftSqlBridge.republish(spark, stored, rdd, output, ordering, stats),
              bytes = Some(bytes + run.iterator.map(rowBytes(local.schema)).sum),
              maxKey = Some(keys.last), runs = c.runs + 1))
          }
        }
      case _ => None
    }

  /** INSERT OR REPLACE by row key (PUT semantics). Rows with keys already
    * present replace the stored rows; unkeyed containers append. A
    * driver-side batch above every stored key of a one-partition TimeSeries
    * takes the append path ([[appendRun]]: no job); every other put, and
    * the put after `MaxRuns` appends, rewrites the container with its runs
    * through one job ([[materialize]]). */
  def put(name: String, rows: DataFrame): Container = {
    val local = Some(rows.queryExecution.optimizedPlan).collect { case l: LocalRelation => l }
    val out = writing(name) {
      val c = get(name)
      appendRun(c, rows, local).getOrElse {
        val merged =
          if (c.keyColumns.isEmpty) onePartition(c, c.df.unionByName(rows), Some(rows))
          else {
            val tagged = onePartition(c, c.df.withColumn("__gen", lit(0))
              .unionByName(rows.withColumn("__gen", lit(1))), Some(rows))
            val w = Window.partitionBy(c.keyColumns.map(col): _*)
              .orderBy(col("__gen").desc)
            tagged.withColumn("__rn", row_number().over(w))
              .filter(col("__rn") === 1).drop("__gen", "__rn")
          }
        register(materialize(c, merged))
      }
    }
    fireTriggers(name, "PUT", local.fold(rows.count())(_.data.size.toLong))
    out
  }

  /** Point/row-key lookup (GET semantics). */
  def getRows(name: String, keyValues: Seq[Any]): DataFrame = {
    val c = get(name)
    require(c.keyColumns.nonEmpty, s"$name has no row key")
    val cond = c.keyColumns.zip(keyValues)
      .map { case (k, v) => col(k) === lit(v) }.reduce(_ && _)
    c.df.filter(cond)
  }

  /** Normalize one lookup key: scalars address a single-column key; a Seq
    * addresses a composite key (GridDB allows up to 16 key columns,
    * MAX_COMPOSITE_COLUMN_NUM /root/reference/server/data_type.h:40). */
  private def asKeyParts(c: Container, key: Any): Seq[Any] = key match {
    case parts: Seq[_] =>
      require(parts.size == c.keyColumns.size,
        s"${c.name}: composite key needs ${c.keyColumns.size} parts, got ${parts.size}")
      parts
    case scalar =>
      require(c.keyColumns.size == 1,
        s"${c.name} has a composite key; pass a Seq of ${c.keyColumns.size} values")
      Seq(scalar)
  }

  /** Batch point lookup — GridStore.multiGet
    * (/root/reference/java_client/.../GridStore.java:2174): ONE set-membership
    * scan (single In predicate), not N point reads. Composite keys compare as
    * structs with matching field names, which Spark still evaluates as a
    * single semi-join-able In. */
  def multiGet(name: String, keys: Seq[Any]): DataFrame = {
    val c = get(name)
    require(c.keyColumns.nonEmpty, s"$name has no row key")
    if (c.keyColumns.size == 1)
      c.df.filter(col(c.keyColumns.head).isin(keys: _*))
    else {
      val keyStruct = struct(c.keyColumns.map(col): _*)
      val lits = keys.map { k =>
        struct(asKeyParts(c, k).zip(c.keyColumns)
          .map { case (v, n) => lit(v).as(n) }: _*)
      }
      c.df.filter(keyStruct.isin(lits: _*))
    }
  }

  /** Container.query(tql) (java_client Container.java:722): run a TQL
    * statement against this container through the oracle-checked TQL
    * front end. */
  def tqlQuery(name: String, tql: String): DataFrame =
    graft.tql.TqlCompiler.run(get(name), tql)

  /** GridStore.fetchAll (GridStore.java:1871): execute a batch of
    * per-container TQL queries in one call; results in input order. */
  def fetchAll(queries: Seq[(String, String)]): Seq[DataFrame] =
    queries.map { case (name, tql) => tqlQuery(name, tql) }

  /** GridStore.multiPut (java_client GridStore.java:2017): one call PUTs a
    * row set into each named container — the cross-container batch-ingest
    * path. Each container's put keeps its own semantics (upsert by key,
    * event triggers fire), exactly like the per-container form. */
  def multiPut(batches: Map[String, DataFrame]): Unit =
    batches.foreach { case (name, rows) => put(name, rows) }

  /** GridStore.multiGet (GridStore.java:2174): a per-container
    * [[GraftCatalog.RowKeyPredicate]] — a distinct-key set or a key range —
    * evaluated for every named container in one call; result keyed by
    * container name. The range's finish key is INCLUSIVE, matching
    * RowKeyPredicate.setFinish. */
  def multiGetAll(preds: Map[String, GraftCatalog.RowKeyPredicate])
      : Map[String, DataFrame] =
    preds.map { case (name, p) =>
      name -> (p match {
        case GraftCatalog.KeySet(ks) => multiGet(name, ks)
        case GraftCatalog.KeyRange(f, u) =>
          keyRange(name, f, u, untilInclusive = true)
      })
    }

  /** Lexicographic composite-key comparison: key strictly-less/greater than a
    * bound prefix (bound may cover only the leading key columns). */
  private def lexCompare(cols: Seq[org.apache.spark.sql.Column], bound: Seq[Any],
                         less: Boolean): org.apache.spark.sql.Column = {
    val (c0, b0) = (cols.head, lit(bound.head))
    val strict = if (less) c0 < b0 else c0 > b0
    if (cols.size == 1 || bound.size == 1) strict
    else strict || (c0 === b0 && lexCompare(cols.tail, bound.tail, less))
  }

  /** RowKeyPredicate range scan (java_client/.../RowKeyPredicate.java):
    * inclusive start; `until` is this API's native half-open (exclusive)
    * bound, with `untilInclusive = true` giving the reference's
    * setFinish semantics (the finish key itself conforms —
    * RowKeyPredicate.setFinish javadoc), which [[multiGetAll]] uses.
    * Composite bounds (Seq of leading key parts) compare
    * lexicographically, matching the reference's composite-key ordering
    * (server/value_operator.h compareTo over key columns in order). */
  def keyRange(name: String, from: Option[Any], until: Option[Any],
               untilInclusive: Boolean = false): DataFrame = {
    val c = get(name)
    require(c.keyColumns.nonEmpty, s"$name has no row key")
    val cols = c.keyColumns.map(col)
    def boundParts(b: Any): Seq[Any] = b match {
      case parts: Seq[_] =>
        require(parts.nonEmpty && parts.size <= cols.size,
          s"$name: range bound takes 1..${cols.size} leading key parts")
        parts
      case scalar => Seq(scalar)
    }
    // untilInclusive = the reference RowKeyPredicate.setFinish semantics
    // ("a value LARGER than the specified value is non-conforming" — the
    // finish key itself matches); the default exclusive `until` is this
    // API's native half-open range
    val conds =
      from.map(b => !lexCompare(cols, boundParts(b), less = true)).toSeq ++
        until.map(b =>
          if (untilInclusive) !lexCompare(cols, boundParts(b), less = false)
          else lexCompare(cols, boundParts(b), less = true)).toSeq
    conds.foldLeft(c.df)((d, cond) => d.filter(cond))
  }

  // ---- TimeSeries point-API parity (java_client TimeSeries.java:312
  // get(base, TimeOperator), :360 interpolate(base, column), :396/:446
  // query(start, end[, order]), :603 aggregate(start, end, column,
  // Aggregation)) — thin delegations to the oracle-checked TQL kernels in
  // ts/TimeSeriesOps, so a client-API caller and a TQL query share ONE
  // implementation. All take epoch-millis (the client's Date). ----

  private def tsContainer(name: String): (Container, String) = {
    val c = get(name)
    val tc = c.timeColumn.getOrElse(throw new IllegalArgumentException(
      s"$name is not a TimeSeries container"))
    (c, tc)
  }

  /** TimeSeries.get(base, TimeOperator): the row at/adjacent to `baseMs`
    * under NEXT | NEXT_ONLY | PREVIOUS | PREVIOUS_ONLY
    * (TimeOperator.java:42-69). Zero rows when no row qualifies, like the
    * client's null return. */
  def tsGet(name: String, baseMs: Long, op: String): DataFrame = {
    val (c, tc) = tsContainer(name)
    val t = timestamp_millis(lit(baseMs))
    op.toUpperCase match {
      case "NEXT"          => graft.ts.TimeSeriesOps.timeNext(c.df, tc, t)
      case "NEXT_ONLY"     => graft.ts.TimeSeriesOps.timeNext(c.df, tc, t, only = true)
      case "PREVIOUS"      => graft.ts.TimeSeriesOps.timePrev(c.df, tc, t)
      case "PREVIOUS_ONLY" => graft.ts.TimeSeriesOps.timePrev(c.df, tc, t, only = true)
      case other => throw new IllegalArgumentException(
        s"unknown TimeOperator '$other' (NEXT|NEXT_ONLY|PREVIOUS|PREVIOUS_ONLY)")
    }
  }

  /** TimeSeries.interpolate(base, column): linear interpolation of
    * `column` at `baseMs` between the bracketing rows; exact row wins;
    * zero rows outside the series range (the client's null). */
  def tsInterpolate(name: String, baseMs: Long, column: String): DataFrame = {
    val (c, tc) = tsContainer(name)
    graft.ts.TimeSeriesOps.timeInterpolated(c.df, tc, column,
      timestamp_millis(lit(baseMs)))
  }

  /** TimeSeries.query(start, end[, order]): rows with start <= ts <= end
    * in the requested time order. */
  def tsQuery(name: String, startMs: Long, endMs: Long,
              descending: Boolean = false): DataFrame = {
    val (c, tc) = tsContainer(name)
    c.df.filter(col(tc) >= timestamp_millis(lit(startMs)) &&
        col(tc) <= timestamp_millis(lit(endMs)))
      .orderBy(if (descending) col(tc).desc else col(tc).asc)
  }

  /** TimeSeries.aggregate(start, end, column, Aggregation): one-value
    * aggregation over the closed time range (Aggregation.java:72-198).
    * VARIANCE/STANDARD_DEVIATION are the sample forms, matching the TQL
    * compiler's VARIANCE/STDDEV mapping; WEIGHTED_AVERAGE is the
    * time-weighted average (the TIME_AVG kernel restricted to the range,
    * aggregation_func.h:780-899). */
  def tsAggregate(name: String, startMs: Long, endMs: Long,
                  column: String, agg: String): DataFrame = {
    val (c, tc) = tsContainer(name)
    val in = c.df.filter(col(tc) >= timestamp_millis(lit(startMs)) &&
      col(tc) <= timestamp_millis(lit(endMs)))
    val v = col(column)
    agg.toUpperCase match {
      case "MINIMUM" => in.agg(min(v).as("minimum"))
      case "MAXIMUM" => in.agg(max(v).as("maximum"))
      case "TOTAL"   => in.agg(sum(v).as("total"))
      case "AVERAGE" => in.agg(avg(v).as("average"))
      case "VARIANCE" => in.agg(var_samp(v).as("variance"))
      case "STANDARD_DEVIATION" => in.agg(stddev_samp(v).as("standard_deviation"))
      // COUNT is "the number of Rows", not non-null values of the column
      // (Aggregation.java:173 — "Available to any kinds of Columns")
      case "COUNT"   => in.agg(count(lit(1)).as("count"))
      case "WEIGHTED_AVERAGE" =>
        graft.ts.TimeSeriesOps.timeAvg(in, tc, column)
      case other => throw new IllegalArgumentException(
        s"unknown Aggregation '$other'")
    }
  }

  // ---- Collection spatial query parity (java_client Collection.java:107
  // query(column, geometry, GeometryOperator.INTERSECT) — the TQL
  // ST_MBRINTERSECTS / ST_QSFMBRINTERSECTS forms per the GeometryOperator
  // doc — and :161 query(column, intersection, disjoint)). ----

  /** Rows whose WKT geometry column's MBR intersects `wkt`'s. */
  def geometryQuery(name: String, column: String, wkt: String): DataFrame = {
    val c = get(name)
    c.df.filter(graft.geometry.Geo.stMbrIntersectsWkt(col(column), lit(wkt)))
  }

  /** Rows intersecting `intersectWkt` and NOT intersecting `disjointWkt`
    * (Collection.java:161 — "a range that does not intersect with the
    * values on the column"). */
  def geometryQuery(name: String, column: String, intersectWkt: String,
                    disjointWkt: String): DataFrame = {
    val c = get(name)
    val g = col(column)
    c.df.filter(graft.geometry.Geo.stMbrIntersectsWkt(g, lit(intersectWkt)) &&
      !graft.geometry.Geo.stMbrIntersectsWkt(g, lit(disjointWkt)))
  }

  /** The quadratic-surface form: rows whose 3D geometry column's MBR
    * intersects the QSF built via Geo.stMakeQsf/stMakeSphere/stMakePlane/
    * stMakeCylinder/stMakeCone. */
  def geometryQueryQsf(name: String, column: String,
                       qsf: org.apache.spark.sql.Column): DataFrame = {
    val c = get(name)
    c.df.filter(graft.geometry.Geo.stQsfMbrIntersects(qsf, col(column)))
  }

  /** DELETE by key (REMOVE semantics). */
  def remove(name: String, keyValues: Seq[Any]): Container = {
    val (out, removed) = writing(name) {
      val c = get(name)
      require(c.keyColumns.nonEmpty, s"$name has no row key")
      val cond = c.keyColumns.zip(keyValues)
        .map { case (k, v) => col(k) === lit(v) }.reduce(_ && _)
      (register(materialize(c, onePartition(c, c.df.filter(!cond)))), c.df.filter(cond))
    }
    fireTriggers(name, "DELETE", removed.count())
    out
  }

  /** SQL UPDATE ... SET ... WHERE (DMLProcessor semantics,
    * /root/reference/server/sql_processor_dml.h:39): assignments applied to
    * matching rows, others untouched. */
  def update(name: String, assignments: Map[String, org.apache.spark.sql.Column],
             where: org.apache.spark.sql.Column): Container = writing(name) {
    val c = get(name)
    val updated = assignments.foldLeft(c.df) { case (d, (colName, v)) =>
      d.withColumn(colName, when(where, v).otherwise(col(colName)))
    }
    register(materialize(c, onePartition(c, updated)))
  }

  /** SQL DELETE ... WHERE. */
  def deleteWhere(name: String, where: org.apache.spark.sql.Column): Container = {
    val hit = coalesce(where, lit(false))
    val (out, removed) = writing(name) {
      val c = get(name)
      (register(materialize(c, onePartition(c, c.df.filter(!hit)))), c.df.filter(hit))
    }
    fireTriggers(name, "DELETE", removed.count())
    out
  }

  /** Apply declarative TTL as of `nowMs`: the catalog operation behind the
    * reference's automatic expiry sweep. For every container created
    * `WITH (expiration_time=...)`:
    *  - PARTITION expiry drops whole interval partitions whose END plus
    *    the TTL has passed — `erasableTime = endTime + duration <= now`
    *    (`checkExpirableInterval` /root/reference/server/
    *    nosql_command.cpp:4193) — the catalog analogue of deleting
    *    partition directories ([[PartitionedTables.dropPartitionsBefore]]
    *    with the same watermark on a parquet layout);
    *  - ROW expiry deletes rows older than now - TTL.
    * Returns a report (one row per expiring container) so an operator job
    * can log what a scheduled sweep removed. Row counts cost one job per
    * expiring container — this is an admin operation, not a query path. */
  def expireNow(nowMs: Long): DataFrame = {
    import spark.implicits._
    val report = containers.synchronized { containers.values.toSeq }.flatMap { c =>
      c.expiration.map { e =>
        // epoch-ms view of a time column; integer div for nanos — epoch ns
        // (~1.7e18) is past double's 2^53 exact range, so double division
        // would corrupt the cutoff
        def msOf(colName: String) =
          if (c.nanoColumns.contains(colName)) expr(s"`$colName` div 1000000")
          else if (c.df.schema(colName).dataType == org.apache.spark.sql.types.LongType)
            col(colName) // plain LONG time column: epoch ms
          else unix_millis(col(colName))
        val expired = e.expirationType match {
          case "PARTITION" =>
            // bucket on the PARTITIONING column — not the row key (r12
            // review: PARTITION expiry is legal on a Collection, whose
            // key is not the time axis; bucketing the key would mass-
            // delete or crash a keyless table)
            val (pcol, every) = c.partitioning match {
              case Some(PartitionedTables.Interval(pc, ev)) => (pc, ev)
              case Some(PartitionedTables.IntervalHash(tc, ev, _, _)) => (tc, ev)
              case other => throw new IllegalStateException(
                s"${c.name}: PARTITION expiration needs interval partitioning, has $other")
            }
            // partitions [b0, b0+every) with b0+every <= cutoff; the
            // watermark keeps the partition containing the cutoff instant
            // (its end is still inside the TTL window) — same arithmetic
            // as the parquet-layout path
            val watermark = PartitionedTables.ttlWatermark(nowMs, e.ttlMs, every)
            (floor(msOf(pcol) / lit(every)).cast("long") * lit(every)) < watermark
          case _ =>
            // ROW expiry requires a TimeSeries (validated at CREATE), so
            // the time column exists. Inclusive boundary: the reference
            // erases when ts + ttl <= now (checkExpirableInterval)
            val tsName = c.timeColumn.getOrElse(throw new IllegalStateException(
              s"${c.name}: ROW expiration without a time column"))
            msOf(tsName) <= nowMs - e.ttlMs
        }
        val removed = c.df.filter(expired).count()
        if (removed > 0) deleteWhere(c.name, expired)
        (c.name, e.expirationType, nowMs - e.ttlMs, removed)
      }
    }
    report.toDF("TABLE_NAME", "EXPIRATION_TYPE", "ERASABLE_BEFORE_MS", "REMOVED_ROWS")
  }

  /** ALTER TABLE name ADD [COLUMN] col type (grammar rules 103-106,
    * /root/reference/server/sql_internal_parser.cpp:937-941). Existing rows
    * see NULL for the new column — the reference's fixed-null fill for
    * columns appended after rows were stored. */
  def alterAddColumn(name: String, column: String,
                     dataType: org.apache.spark.sql.types.DataType): Container =
    alter(name) { c =>
      require(!c.df.columns.map(_.toLowerCase).contains(column.toLowerCase),
        s"$name: column $column already exists")
      c.copy(df = c.df.withColumn(column, lit(null).cast(dataType)))
    }

  /** ALTER TABLE name RENAME COLUMN a TO b (grammar rules 107-109,
    * /root/reference/server/sql_internal_parser.cpp:942-943). Key/time
    * metadata follows the rename. */
  def alterRenameColumn(name: String, from: String, to: String): Container =
    alter(name) { c =>
      require(c.df.columns.contains(from), s"$name: no column $from")
      require(!c.df.columns.map(_.toLowerCase).contains(to.toLowerCase),
        s"$name: column $to already exists")
      c.copy(
        df = c.df.withColumnRenamed(from, to),
        keyColumns = c.keyColumns.map(k => if (k == from) to else k),
        timeColumn = c.timeColumn.map(t => if (t == from) to else t))
    }

  /** CREATE [OR REPLACE] VIEW name AS <sql> (grammar rule 74). */
  def createView(name: String, sql: String): Unit = {
    spark.sql(sql).createOrReplaceTempView(name)
    views.synchronized { views(name) = sql }
  }

  /** Record a view definition created through another path (SQL-text DDL). */
  private[engine] def recordView(name: String, sql: String): Unit =
    views.synchronized { views(name) = sql }

  private[engine] def dropView(name: String): Unit =
    views.synchronized { views.remove(name) }

  /** CREATE INDEX name ON table (cols) (grammar rule 91,
    * /root/reference/server/sql_internal_parser.cpp:925). Advisory: Spark
    * scans carry no secondary index (Parquet column stats + predicate
    * pushdown substitute), so the index is catalog metadata — it validates,
    * round-trips, and surfaces in [[metaIndexInfo]]. */
  def createIndex(indexName: String, table: String, columns: Seq[String]): Unit = {
    val c = get(table)
    columns.foreach(cn => require(c.df.columns.contains(cn),
      s"$table has no column $cn"))
    indexes.synchronized {
      require(!indexes.contains(indexName), s"index $indexName already exists")
      indexes(indexName) = (table, columns)
    }
  }

  /** DROP INDEX name [ON table] (grammar rules 99-100). */
  def dropIndex(indexName: String, ifExists: Boolean = false): Unit =
    if (indexes.synchronized { indexes.remove(indexName) }.isEmpty && !ifExists)
      throw new NoSuchElementException(s"index $indexName does not exist")

  /** Table an index is attached to, if recorded — lets the auth gate
    * resolve `DROP INDEX ix` (no ON clause) to its protected table. */
  def indexTable(indexName: String): Option[String] =
    indexes.synchronized { indexes.get(indexName) }.map(_._1)

  /** Table a trigger fires on, if recorded (auth gating of DROP TRIGGER). */
  def triggerTable(triggerName: String): Option[String] =
    triggers.synchronized { triggers.get(triggerName).map(_.table) }

  // ---- auth DDL (CREATE/DROP USER|ROLE, SET PASSWORD, GRANT/REVOKE) -------

  private def digest(password: String, salt: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s"$salt:$password".getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  def createUser(name: String, password: Option[String],
                 isRole: Boolean = false): Unit = users.synchronized {
    require(!users.contains(name),
      s"${if (isRole) "role" else "user"} $name already exists")
    users(name) = UserDef(name, isRole, password.map(digest(_, name)))
  }

  def dropUser(name: String, isRole: Boolean = false): Unit = users.synchronized {
    val existing = users.get(name)
    require(existing.exists(_.isRole == isRole),
      s"${if (isRole) "role" else "user"} $name does not exist")
    users.remove(name)
    grants.retain(_._1 != name)
  }

  def setPassword(name: String, password: String): Unit = users.synchronized {
    val u = users.getOrElse(name, throw new NoSuchElementException(s"user $name does not exist"))
    require(!u.isRole, s"$name is a role; roles have no password")
    users(name) = u.copy(passwordDigest = Some(digest(password, name)))
  }

  /** True when `name`'s password digest matches — the hook a wire layer
    * authenticates against (never exposes the digest). */
  def authenticate(name: String, password: String): Boolean = users.synchronized {
    users.get(name).exists(u => !u.isRole &&
      u.passwordDigest.contains(digest(password, name)))
  }

  def grant(privilege: String, table: String, grantee: String): Unit =
    users.synchronized {
      val p = privilege.toUpperCase
      require(Set("ALL", "SELECT")(p), s"unsupported privilege $privilege")
      require(users.contains(grantee), s"user $grantee does not exist")
      grants += ((grantee, table, p))
    }

  def revoke(privilege: String, table: String, grantee: String): Unit =
    users.synchronized {
      val p = privilege.toUpperCase
      if (!grants.remove((grantee, table, p)))
        throw new NoSuchElementException(
          s"$grantee has no $p grant on $table")
    }

  /** Privilege check for an enforcing layer: ALL covers writes and reads,
    * SELECT reads only. */
  def checkPrivilege(grantee: String, table: String, write: Boolean): Boolean =
    users.synchronized {
      grants.contains((grantee, table, "ALL")) ||
        (!write && grants.contains((grantee, table, "SELECT")))
    }

  def createDatabase(name: String): Unit = users.synchronized {
    require(!databases.contains(name), s"database $name already exists")
    databases += name
  }

  def dropDatabase(name: String): Unit = users.synchronized {
    require(name != "public", "cannot drop the public database")
    if (!databases.remove(name))
      throw new NoSuchElementException(s"database $name does not exist")
  }

  /** Metadata table `#users` (transaction_service.h USER_INFO). The digest
    * column reports only whether a password is SET — credential hygiene. */
  def metaUsers: DataFrame = {
    import spark.implicits._
    users.synchronized { users.values.toSeq }
      .map(u => (u.name, u.isRole, u.passwordDigest.isDefined))
      .toDF("USER_NAME", "IS_ROLE", "PASSWORD_SET")
  }

  /** Metadata table `#database_privileges` (GridDB privilege introspection
    * surface; one row per grant). */
  def metaPrivileges: DataFrame = {
    import spark.implicits._
    users.synchronized { grants.toSeq }
      .map { case (grantee, table, priv) => ("public", table, grantee, priv) }
      .toDF("DATABASE_NAME", "TABLE_NAME", "USER_NAME", "PRIVILEGE")
  }

  /** Metadata table `#tables` (meta_type.h TYPE_CONTAINER; expiration +
    * affinity columns per RefColumns::COLUMNS_CONTAINER,
    * /root/reference/server/meta_store.cpp:1023-1028 — EXPIRATION_DIVISION
    * only surfaces for ROW expiry, the type an expirationInfo implies
    * there, meta_store.cpp:2754). */
  def metaTables: DataFrame = {
    import spark.implicits._
    containers.synchronized { containers.values.toSeq }.map { c =>
      (c.name,
        c.kind match { case TimeSeries => "TIMESERIES"; case Collection => "COLLECTION" },
        c.keyColumns.mkString(","), c.timeColumn.orNull,
        c.expiration.map(e => java.lang.Integer.valueOf(e.time)).orNull,
        c.expiration.map(_.unit).orNull,
        c.expiration.filter(_.expirationType == "ROW")
          .map(e => java.lang.Integer.valueOf(e.divisionCount)).orNull,
        c.expiration.map(_.expirationType).orNull,
        c.placementHints.get("data_affinity").orNull)
    }.toDF("TABLE_NAME", "TABLE_TYPE", "ROW_KEY", "TIME_COLUMN",
      "EXPIRATION_TIME", "EXPIRATION_TIME_UNIT", "EXPIRATION_DIVISION_COUNT",
      "EXPIRATION_TYPE", "DATA_AFFINITY")
  }

  /** Metadata table `#columns` (meta_type.h TYPE_COLUMN). */
  def metaColumns: DataFrame = {
    import spark.implicits._
    containers.synchronized { containers.values.toSeq }.flatMap { c =>
      c.df.schema.fields.zipWithIndex.map { case (f, i) =>
        (c.name, i, f.name, GridDbTypes.fromSpark(f.dataType), f.nullable,
          c.keyColumns.contains(f.name))
      }
    }.toDF("TABLE_NAME", "ORDINAL", "COLUMN_NAME", "TYPE_NAME", "NULLABLE", "KEY")
  }

  /** Metadata table `#primary_keys` (meta_type.h TYPE_KEY). */
  def metaPrimaryKeys: DataFrame = {
    import spark.implicits._
    containers.synchronized { containers.values.toSeq }.flatMap { c =>
      c.keyColumns.zipWithIndex.map { case (k, i) => (c.name, k, i + 1) }
    }.toDF("TABLE_NAME", "COLUMN_NAME", "KEY_SEQ")
  }

  /** Metadata table `#index_info` (meta_type.h TYPE_INDEX). */
  def metaIndexInfo: DataFrame = {
    import spark.implicits._
    indexes.synchronized { indexes.toSeq }.flatMap { case (ix, (table, cols)) =>
      cols.zipWithIndex.map { case (cn, i) => (table, ix, cn, i + 1) }
    }.toDF("TABLE_NAME", "INDEX_NAME", "COLUMN_NAME", "ORDINAL")
  }

  /** Metadata table `#views` (meta_type.h TYPE_VIEW). */
  def metaViews: DataFrame = {
    import spark.implicits._
    views.synchronized { views.toSeq }.toDF("VIEW_NAME", "VIEW_DEFINITION")
  }

  /** Metadata table `#table_partitions` (meta_type.h TYPE_PARTITION;
    * EXPIRATION_TYPE rides the partitioning row the way the reference's
    * partition meta carries expiry state — PARTITION_EXPIRED_* columns,
    * /root/reference/server/meta_store.cpp:830-831). */
  def metaTablePartitions: DataFrame = {
    import spark.implicits._
    containers.synchronized { containers.values.toSeq }.flatMap { c =>
      val exp = c.expiration.map(_.expirationType).orNull
      c.partitioning.map {
        case PartitionedTables.Hash(pc, n) =>
          (c.name, "HASH", pc, null.asInstanceOf[java.lang.Long], n, exp)
        case PartitionedTables.Interval(pc, e) =>
          (c.name, "INTERVAL", pc, java.lang.Long.valueOf(e), 1, exp)
        case PartitionedTables.IntervalHash(tc, e, hc, n) =>
          (c.name, "INTERVAL_HASH", s"$tc,$hc", java.lang.Long.valueOf(e), n, exp)
      }
    }.toDF("TABLE_NAME", "PARTITION_TYPE", "PARTITION_COLUMN",
      "INTERVAL_VALUE_MS", "PARTITION_DIVISION_COUNT", "EXPIRATION_TYPE")
  }

  /** Metadata table `#event_triggers` (meta_type.h TYPE_TRIGGER; ref column
    * list meta_store.cpp:1084-1097). One row per trigger; EVENT_TYPE and
    * COLUMN_NAME are comma-joined sets (GSTriggerInfo's flag/column sets).
    * PASSWORD is never surfaced (null), matching credential hygiene. */
  def metaEventTriggers: DataFrame = {
    import spark.implicits._
    val ordinals = scala.collection.mutable.Map[String, Int]()
    triggers.synchronized { triggers.values.toSeq }.map { t =>
      val i = ordinals.getOrElse(t.table, 0) + 1
      ordinals(t.table) = i
      ("public", t.table, i, t.name, t.eventTypes.mkString(","),
        t.columns.mkString(","), t.triggerType, t.uri,
        t.jmsDestinationType.orNull, t.jmsDestinationName.orNull,
        t.user.orNull, null.asInstanceOf[String])
    }.toDF("DATABASE_NAME", "TABLE_NAME", "ORDINAL_POSITION", "TRIGGER_NAME",
      "EVENT_TYPE", "COLUMN_NAME", "TRIGGER_TYPE", "URI",
      "JMS_DESTINATION_TYPE", "JMS_DESTINATION_NAME", "USER", "PASSWORD")
  }

  /** Metadata table `#databases` (meta_type.h TYPE_DATABASE; columns
    * meta_store.cpp:1294-1298). A single-session Spark engine has exactly
    * the default database, GridDB's `public` (id 0). */
  def metaDatabases: DataFrame = {
    import spark.implicits._
    users.synchronized { databases.toSeq }.zipWithIndex
      .map { case (n, i) => (i.toLong, n) }
      .toDF("DATABASE_ID", "DATABASE_NAME")
  }

  /** Metadata table `#sqls` — running SQL statements (meta_type.h TYPE_SQL;
    * columns meta_store.cpp:1249-1259). The engine does not track in-flight
    * statements (Spark's UI/event log owns that), so the frame is typed and
    * empty — JDBC tooling introspection gets the schema, not an error. */
  def metaSqls: DataFrame = {
    val schema = StructType(Seq(
      StructField("DATABASE_NAME", StringType),
      StructField("NODE_ADDRESS", StringType),
      StructField("NODE_PORT", IntegerType),
      StructField("START_TIME", TimestampType),
      StructField("APPLICATION_NAME", StringType),
      StructField("SQL", StringType),
      StructField("QUERY_ID", StringType),
      StructField("JOB_ID", StringType),
      StructField("USER_NAME", StringType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  def listContainers: Seq[String] = containers.synchronized { containers.keys.toSeq }
}

