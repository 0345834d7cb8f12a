package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.engine.GraftSql

/** Index traffic of the `serve` workload: one client, all through SQL text.
  * Set-up builds an IVF ANN index over a seeded corpus of 20k 64-d vectors
  * with 10 labels and an exact DEDUP index over the corpus documents. An
  * iteration runs an unfiltered `GRAFT_ANN_TOPK` (4 queries, k=10), the
  * same serve filtered on `label`, and a `GRAFT_DEDUP_GATE` over 100 docs
  * of which half are planted exact copies under fresh ids. The first of
  * every three iterations of a loop also runs an `ALTER INDEX ... APPEND
  * FROM` of 500 vectors with a `TAG`; the next unfiltered serve asks for
  * one of the appended vectors, which must come back as its own rank-1
  * neighbour. */
final class IndexServe(spark: SparkSession, work: String, corpus: String, seed: Long,
                       client: Int) {
  private val corpusSize = 20000
  private val dim = 64
  private val labels = 10
  private val k = 10
  private val queriesPerServe = 4
  private val appendRows = 500
  private val gateDocs = 100
  private val appendEvery = 3
  /** Inputs prepared at set-up, more than a run uses; they repeat after
    * that, and a replayed APPEND TAG is a no-op. */
  private val inputGroups = 48
  private val appendBatches = 16
  private var iter = 0
  private var appends = 0
  /** The appended vector the next unfiltered serve must find first. */
  private var probe: Option[Long] = None
  private var annPath = ""
  private var dedupPath = ""
  private var planted: Map[Int, Set[Long]] = Map.empty
  private var fresh: Map[Int, Set[Long]] = Map.empty

  private def appendId(batch: Int, i: Int): Long = 50000000L + batch.toLong * appendRows + i

  private def register(rows: Seq[Row], schema: StructType, path: String, view: String): Unit = {
    spark.createDataFrame(rows.asJava, schema).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView(view)
  }

  def setup(): Unit = {
    val dir = s"$work/index"
    register(Gen.vectors(seed, corpusSize, dim, labels, 0L).map(v => Row(v.id, v.v.toSeq, v.label)),
      Gen.VecSchema, s"$dir/corpus.parquet", "bench_embs")
    val docs = spark.read.parquet(s"$corpus/documents.parquet").select("doc_id", "text")
    docs.createOrReplaceTempView("bench_docs")
    annPath = s"$dir/ann"
    dedupPath = s"$dir/dedup"
    GraftSql.sql(spark, "CREATE TEMPORARY ANN INDEX bench_ann ON " +
      s"bench_embs(vec_id, embedding) OPTIONS(attrs 'label', path '$annPath')").collect()
    GraftSql.sql(spark, "CREATE TEMPORARY DEDUP INDEX bench_dedup ON " +
      s"bench_docs(doc_id, text) OPTIONS(kind 'exact', path '$dedupPath')").collect()
    // per-iteration inputs, registered once so each statement is SQL text
    val grouped = StructType(StructField("grp", IntegerType) +: Gen.VecSchema.fields)
    register((0 until appendBatches).flatMap { b =>
      Gen.vectors(seed, appendRows, dim, labels, appendId(b, 0), stream = 1000L + b)
        .map(v => Row(b, v.id, v.v.toSeq, v.label))
    }, grouped, s"$dir/app.parquet", "bench_app")
    register((0 until inputGroups).flatMap { i =>
      Gen.vectors(seed, queriesPerServe, dim, labels, 90000000L + i * 10L, stream = 5000L + i)
        .map(v => Row(i, v.id, v.v.toSeq, v.label))
    }, grouped, s"$dir/q.parquet", "bench_q")
    val indexed = docs.orderBy("doc_id").collect().map(_.getString(1)).toIndexedSeq
    val gates = (0 until inputGroups).map(i => Gen.gateBatch(seed, i, gateDocs, indexed))
    register(gates.zipWithIndex.flatMap { case (ds, i) => ds.map(d => Row(i, d.docId, d.text)) },
      StructType(Seq(StructField("grp", IntegerType), StructField("doc_id", LongType),
        StructField("text", StringType))), s"$dir/gate.parquet", "bench_gate")
    planted = gates.zipWithIndex.map { case (ds, i) => i -> ds.filter(_.planted).map(_.docId).toSet }.toMap
    fresh = gates.zipWithIndex.map { case (ds, i) => i -> ds.filterNot(_.planted).map(_.docId).toSet }.toMap
  }

  /** One SQL statement: the call (which may run eager jobs) then the
    * action on the frame it returns. */
  private def statement(rec: Recorder, kind: String, text: String,
                        extra: Map[String, Double] = Map.empty)
                       (check: Array[Row] => Unit): Boolean =
    rec.op(kind, client) { op =>
      val t = rec.tracer
      val df = t.span(op, "engine.sql_call")(GraftSql.sql(spark, text))
      val rows = t.action(op, df)(df.collect())
      check(rows)
      extra + ("rows" -> rows.length.toDouble)
    }

  private def perQuery(rows: Array[Row]): Map[Long, Seq[Row]] =
    rows.groupBy(_.getAs[Long]("q_id")).map { case (q, rs) =>
      q -> rs.toSeq.sortBy(_.getAs[Int]("rk")) }

  private def kRows(what: String, rows: Array[Row]): Map[Long, Seq[Row]] = {
    val byQ = perQuery(rows)
    Check(byQ.size == queriesPerServe && byQ.values.forall(_.size == k),
      s"$what: ${byQ.size} queries, sizes ${byQ.values.map(_.size).mkString(",")}")
    byQ
  }

  private def topK(queries: String, filter: String = ""): String =
    s"SELECT * FROM GRAFT_ANN_TOPK('bench_ann', '$queries', 'vec_id', 'embedding', $k$filter)"

  private def iteration(rec: Recorder, append: Boolean): Unit = {
    val i = iter % inputGroups
    val queries = s"SELECT vec_id, embedding FROM bench_q WHERE grp = $i"
    probe match {
      case Some(id) =>
        // three fresh queries and the appended vector under the fourth
        // query's id (a serve never returns a query's own id)
        val qid = 90000000L + i * 10L
        statement(rec, "ann_topk", topK(s"$queries AND vec_id <> $qid UNION ALL " +
            s"SELECT $qid AS vec_id, embedding FROM bench_app WHERE vec_id = $id")) { rows =>
          val top = kRows(s"top-k $i", rows)(qid).head.getAs[Long]("c_id")
          Check(top == id, s"appended vector $id did not rank 1 for itself (got $top)")
        }
        probe = None
      case None => statement(rec, "ann_topk", topK(queries))(kRows(s"top-k $i", _))
    }
    statement(rec, "ann_topk_filtered", topK(queries, s", 'label = ${i % labels}'"))(
      kRows(s"filtered top-k $i", _))
    statement(rec, "dedup_gate", "SELECT * FROM GRAFT_DEDUP_GATE('bench_dedup', " +
      s"'SELECT doc_id, text FROM bench_gate WHERE grp = $i', 'text', 'doc_id', 'exact')") { rows =>
      val kept = rows.map(_.getAs[Long]("doc_id")).toSet
      Check(kept == fresh(i), s"gate $i kept ${kept.size} docs " +
        s"(${(kept & planted(i)).size} planted copies), want the ${fresh(i).size} fresh ones")
    }
    if (append) {
      val b = appends % appendBatches
      val ok = statement(rec, "ann_append", "ALTER INDEX bench_ann APPEND FROM " +
        s"(SELECT vec_id, embedding, label FROM bench_app WHERE grp = $b) TAG 'bench_$b'",
        Map("rows_put" -> appendRows.toDouble))(_ => ())
      if (ok) probe = Some(appendId(b, (appends * 7919) % appendRows))
      appends += 1
    }
    iter += 1
  }

  def warm(rec: Recorder): Unit = { iteration(rec, append = false); iter = 0 }

  /** Iterations until the deadline, and at least two, so every timed
    * segment holds an append and the serve that checks it; each loop
    * starts a fresh append cycle. */
  def loop(deadline: Long, rec: Recorder): Unit = {
    var n = 0
    while (n < 2 || System.nanoTime() < deadline) {
      iteration(rec, append = n % appendEvery == 0)
      n += 1
    }
  }

  private def tree(p: String): (Long, Long) = {
    val root = Paths.get(p)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.size.toLong, files.map(f => Files.size(f)).sum)
      } finally s.close()
    }
  }

  def layerExtras(): Map[String, Double] = {
    val (annFiles, annBytes) = tree(annPath)
    val (dedupFiles, _) = tree(dedupPath)
    val appended = math.min(appends, appendBatches) * appendRows
    val versions = GraftSql.sql(spark, "SELECT * FROM GRAFT_INDEX_STATS('bench_ann')").count()
    Map(
      "pipeline.ann.index_files" -> annFiles.toDouble,
      "pipeline.ann.index_mb_per_1k_vectors" -> annBytes / 1e6 / ((corpusSize + appended) / 1000.0),
      "pipeline.ann.versions_retained" -> versions.toDouble,
      "pipeline.ann.appended_fraction" -> graft.pipeline.IvfIndex.appendedFraction(spark, annPath),
      "pipeline.dedup.index_files" -> dedupFiles.toDouble)
  }
}
