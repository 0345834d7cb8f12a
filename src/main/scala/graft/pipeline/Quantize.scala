package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Parallelism.spread

/** Scalar quantization (SQ8) of embedding columns — the standard
  * storage-compression companion to product quantization: each dimension is
  * affinely mapped to an 8-bit code against per-dimension corpus min/max.
  * A float32 corpus shrinks 4× (float64 8×); at 100 TB of embeddings the
  * quantized scan is what makes a brute or IVF candidate sweep IO-bound
  * instead of impossible, at a bounded precision cost (≤ half a
  * quantization step per dimension, `QuantizeSpec`).
  *
  * Shape at scale:
  *  - TRAIN is one explode + partial/final min/max aggregate — the shuffle
  *    carries `dim × partitions` rows, not the corpus.
  *  - The stats frame is dim-sized; it is collected (bounded: `dim ≤ 4096`
  *    enforced below) and inlined as array LITERALS into the encode/decode
  *    projections, so ENCODE and DECODE are map-only column transforms —
  *    no join against a stats table, nothing shuffled.
  *  - Search is asymmetric (raw query vs decoded corpus, the SQ analogue of
  *    ADC): decode happens once per corpus row on the map side; the
  *    pairwise work reuses the codegen'd cosine kernel and the k-capped
  *    rank, exactly [[Similarity.bruteForceTopK]]'s plan over decoded
  *    vectors. Composition with IVF list pruning is a column swap —
  *    `codes`/`decoded` are ordinary columns.
  *
  * Everything here is deterministic (floor-of-affine integer codes; the
  * established round-before-rank cosine discipline), so unlike the
  * PQ/IVF surfaces the full pipeline has an exact DuckDB oracle
  * (q_sim_sq_ann replays train→encode→decode→rank in SQL).
  *
  * Reference scope note: the reference engine ships no vector quantizer —
  * this is part of the LLM-pipeline surface (SURVEY §6) built beyond it,
  * alongside the LSH/IVF/PQ family in [[Similarity]].
  */
object Quantize {

  /** Hard cap on the collected stats size (cells = 2 × dim); 4096 dims is
    * an order of magnitude above contemporary embedding widths and keeps
    * the driver collect trivially bounded. */
  private[graft] val MaxDim = 4096

  /** Per-dimension (mn, mx) training pass. One explode + one map-side
    * combinable aggregate; output has exactly `dim` rows. */
  def sqStats(corpus: DataFrame, vecCol: String): DataFrame =
    corpus.select(posexplode(transform(col(vecCol), _.cast("double"))).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("mn"), max("x").as("mx"))

  /** Collected training stats, index = dimension. */
  final case class SqStats(mn: Array[Double], mx: Array[Double]) {
    def dim: Int = mn.length
  }

  /** Collect the dim-bounded stats frame (the ONLY driver-side step). */
  def sqTrain(corpus: DataFrame, vecCol: String): SqStats = {
    val rows = sqStats(corpus, vecCol).collect()
    require(rows.length <= MaxDim,
      s"SQ8 stats for ${rows.length} dims exceed the $MaxDim-dim budget")
    val mn = new Array[Double](rows.length)
    val mx = new Array[Double](rows.length)
    rows.foreach { r =>
      val d = r.getInt(0); mn(d) = r.getDouble(1); mx(d) = r.getDouble(2)
    }
    SqStats(mn, mx)
  }

  /** 8-bit code of `vec` under `stats`: per dimension
    * `floor((x - mn) * 255.0 / (mx - mn) + 0.5)` clamped to [0, 255]
    * (constant dimensions encode to 0). floor-of-plus-half, NOT round():
    * both engines define floor exactly on doubles, while round() half-case
    * behavior is the classic cross-engine trap (see the r7 ledger).
    * Out-of-range values (queries, post-train appends) clamp — saturation,
    * not wraparound: the clamp happens in DOUBLE space BEFORE the int
    * cast (r11 review — floor returns LONG and a post-cast clamp lets a
    * ~2^32-magnitude affine value wrap to an arbitrary mid-grid code).
    * A vector that is null, has a null element, or disagrees with the
    * trained dimension encodes to NULL — a partially-observed vector has
    * no honest grid point, and every scoring path already treats a null
    * side as "not a neighbor". Map-only; stats are inlined literals. */
  def sqEncode(vec: Column, stats: SqStats): Column = {
    val mnL = lit(stats.mn)
    val mxL = lit(stats.mx)
    val codes = transform(vec, (x0, i) => {
      val x = x0.cast("double")
      val mn = element_at(mnL, i + 1)
      val mx = element_at(mxL, i + 1)
      when(mx === mn, lit(0))
        .otherwise(least(lit(255.0), greatest(lit(0.0),
          floor((x - mn) * 255.0 / (mx - mn) + 0.5))).cast("int"))
    })
    when(size(vec) === lit(stats.dim) && !exists(vec, _.isNull), codes)
  }

  /** Decoded (reconstructed) vector of an SQ8 code column:
    * `mn + code * (mx - mn) / 255.0` per dimension. Map-only. */
  def sqDecode(codes: Column, stats: SqStats): Column = {
    val mnL = lit(stats.mn)
    val mxL = lit(stats.mx)
    transform(codes, (c, i) => {
      val mn = element_at(mnL, i + 1)
      val mx = element_at(mxL, i + 1)
      mn + c.cast("double") * (mx - mn) / 255.0
    })
  }

  /** Decode-fused ADC cosine of a raw query vector against an SQ8 code
    * column (functions/SqCosine): bit-identical to
    * `Similarity.cosine(q, sqDecode(codes, stats))` — same reconstruction
    * op order, same accumulation — without the interpreted decode
    * `transform` or the materialized decoded array
    * (tools/ProbeSq at commit 7cc6c14: the two-step form made the
    * quantized scan ~1.5× slower than raw floats at 2M vectors; fused it
    * wins). */
  def sqCosine(query: Column, codes: Column, stats: SqStats): Column =
    call_function("graft_sq_cosine", query, codes, lit(stats.mn), lit(stats.mx))

  /** Exact-over-quantized cosine top-k: train on the corpus, encode the
    * corpus to 8-bit codes, rank raw queries against the reconstructions
    * (asymmetric distance) via the decode-fused [[sqCosine]] kernel.
    * Output and discipline match [[Similarity.bruteForceTopK]]:
    * (q_id, c_id, cos, rk), ties by c_id, cosine rounded to `roundTo`
    * BEFORE ranking, self-pairs excluded. */
  def sqTopK(corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int,
             roundTo: Int = 4,
             corpusSize: Long = -1L, queryCount: Long = -1L): DataFrame = {
    graft.functions.GridDbScalarFunctions.register(corpus.sparkSession)
    val stats = sqTrain(corpus, vecCol)
    val c = spread(corpus).select(
      col(idCol).as("c_id"),
      sqEncode(col(vecCol), stats).as("codes"))
    val q = queries.select(col(idCol).as("q_id"),
      transform(col(vecCol), _.cast("double")).as("qv"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(sqCosine(col("qv"), col("codes"), stats), roundTo).as("cos"))
    Similarity.topKPerQuery(scored, k,
      if (corpusSize > 0 && queryCount > 0) corpusSize * queryCount else -1L)
  }
}
