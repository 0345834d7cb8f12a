package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE subword tokenizer: distributed training + codegen'd encoding
  * (Sennrich et al. 2016 §3.2 — the algorithm GPT-2/RoBERTa-style byte/char
  * BPE vocabularies are trained with).
  *
  * Training runs over the DISTINCT-WORD table, not the corpus: the corpus
  * collapses to (word, frequency) in one shuffle — bounded by vocabulary
  * size, which is millions at 100 TB while the corpus is trillions of
  * tokens — and every merge iteration is then one small aggregate over
  * that table. The word pieces are maintained INCREMENTALLY (classic BPE:
  * each learned merge is applied once to the current state, not replayed
  * from scratch), with the initial code-point split coming from the same
  * graft_bpe_encode kernel users run. Per iteration: explode adjacent
  * piece pairs weighted by word frequency, take the global argmax pair,
  * fuse it in place. The driver holds only the merge list (numMerges
  * pairs) and the one-row argmax per iteration.
  *
  * Deterministic: the argmax tie-breaks on the pair text, so the learned
  * table is a pure function of the corpus.
  */
object Bpe {

  /** Adjacent (left, right) pairs of an array column, as 2-element arrays. */
  private def adjacentPairs(pieces: Column): Column =
    when(size(pieces) >= 2,
      zip_with(
        slice(pieces, lit(1), size(pieces) - 1),
        slice(pieces, lit(2), size(pieces) - 1),
        (a, b) => array(a, b)))
      .otherwise(array().cast("array<array<string>>"))

  private def mergesLit(merges: Seq[(String, String)]): Column =
    typedLit(merges.map(p => Seq(p._1, p._2)))

  /** Incremental training's state update: resume the greedy lowest-rank
    * loop from the current pieces with the full table learned so far
    * (compiled — functions/BpeEncode BpeEncodePieces). NOT a single-pair
    * pass: fusing the new merge can produce a symbol string equal to a
    * LOWER-rank merge's component and re-enable it, so only the full
    * greedy loop matches the from-scratch kernel (whose lowest-rank-first
    * order replays the previous table's fixpoint before touching the new
    * merge — the equivalence the differential spec and
    * tools/ProbeBpeDiff at commit 7cc6c14 pin).
    * Near-fixpoint input means the loop usually fuses once and exits; an
    * interpreted fold at this spot cost ~3x the FULL kernel replay per
    * iteration at the 5M-doc probe (SCALING.md round 9). */
  private def applyMerges(pieces: Column, merges: Seq[(String, String)]): Column =
    call_function("graft_bpe_encode_pieces", pieces, mergesLit(merges))

  /** Learn `numMerges` merges from the corpus. Stops early when no pair
    * reaches `minPairCount` weighted occurrences.
    *
    * Incremental (classic BPE): the encoded pieces of the distinct-word
    * table are MAINTAINED across iterations — each merge is one
    * greedy-resume pass over the current pieces, not a from-scratch
    * replay over raw text, so per-iteration work is proportional to the
    * (near-fixpoint) state, not to the number of merges learned so far.
    * Semantically identical to re-encoding with the kernel each round by
    * the lowest-rank-first argument: from scratch, the greedy loop never
    * chooses the newest merge while any older one applies, so it first
    * replays exactly the previous table's fusion sequence — reaching the
    * maintained state — and only then continues; resuming from that state
    * with the full table is therefore the same computation
    * ([[trainReference]] + BpeSpec pin the equivalence differentially,
    * and the resume runs the FULL loop because a new fusion can re-enable
    * a lower-rank merge — BpeTable.encodePieces).
    * Each iteration's state is local-checkpointed EAGERLY: the logical
    * plan stays one node deep at any merge count (a nested cache chain
    * made plan rendering itself quadratic and OOMed at a few dozen
    * iterations), execution is always one encode pass over the previous
    * materialized state, and the previous checkpoint's storage is freed
    * as soon as the next exists. Non-reliable checkpoints are the right
    * trade for a training job: an executor loss restarts the run, it does
    * not corrupt it.
    *
    * Still one Spark job per merge — inherently sequential. A production
    * 32k-entry vocabulary means 32k short jobs; train on a corpus sample
    * (vocabularies converge fast) rather than the full 100 TB corpus. */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
            minPairCount: Long = 2L): Seq[(String, String)] = {
    require(numMerges > 0, "numMerges must be positive")
    // the checkpoint RDD backing a local-checkpointed frame — unpersisting
    // it is what actually releases the storage
    def ckptRdd(df: DataFrame) = df.queryExecution.logical.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    def release(df: DataFrame): Unit =
      ckptRdd(df).foreach(_.unpersist(blocking = false))
    // initial symbols come from the SAME kernel users encode with (empty
    // merge table = code-point split of the lowercased word) — the split
    // discipline can never drift between train and apply
    var state = docs
      .select(explode(Curation.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(call_function("graft_bpe_encode", col("w"), mergesLit(Nil)).as("pieces"), col("n"))
      .localCheckpoint(true)
    try {
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var done = false
      while (!done && merges.size < numMerges) {
        val best = state
          .select(explode(adjacentPairs(col("pieces"))).as("p"), col("n"))
          .groupBy("p").agg(sum("n").as("cnt"))
          .orderBy(col("cnt").desc, col("p"))
          .limit(1).collect()
        if (best.isEmpty || best(0).getLong(1) < minPairCount) done = true
        else {
          val p = best(0).getSeq[String](0)
          merges += ((p(0), p(1)))
          val next = state
            .select(applyMerges(col("pieces"), merges.toSeq).as("pieces"), col("n"))
            .localCheckpoint(true) // eager: materialized before the old state goes
          release(state)
          state = next
        }
      }
      merges.toSeq
    } finally release(state)
  }

  /** The pre-incremental trainer: re-encodes every word from scratch with
    * the full merge table each iteration (O(merges²) total work). Kept as
    * the differential oracle for [[train]] — BpeSpec asserts both learn
    * the identical merge sequence. */
  private[graft] def trainReference(docs: DataFrame, textCol: String, numMerges: Int,
                                    minPairCount: Long = 2L): Seq[(String, String)] = {
    require(numMerges > 0, "numMerges must be positive")
    val vocab = docs
      .select(explode(Curation.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .cache()
    try {
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var done = false
      while (!done && merges.size < numMerges) {
        val pieces = call_function("graft_bpe_encode", col("w"), mergesLit(merges.toSeq))
        val best = vocab
          .select(explode(adjacentPairs(pieces)).as("p"), col("n"))
          .groupBy("p").agg(sum("n").as("cnt"))
          .orderBy(col("cnt").desc, col("p"))
          .limit(1).collect()
        if (best.isEmpty || best(0).getLong(1) < minPairCount) done = true
        else {
          val p = best(0).getSeq[String](0)
          merges += ((p(0), p(1)))
        }
      }
      merges.toSeq
    } finally vocab.unpersist()
  }

  /** Append a `pieces` column: the text BPE-encoded with `merges`. Map-only
    * whole-stage-codegen projection — the merge table ships as a literal
    * extracted once into a kernel reference object. */
  def encode(docs: DataFrame, textCol: String,
             merges: Seq[(String, String)]): DataFrame =
    docs.withColumn("pieces",
      call_function("graft_bpe_encode", col(textCol), mergesLit(merges)))

  /** Persist a learned merge table as parquet (rank, left, right) — the
    * tokenizer artifact a training pipeline ships from the corpus job to
    * every consumer job. */
  def save(spark: org.apache.spark.sql.SparkSession,
           merges: Seq[(String, String)], path: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((l, rg), i) => (i, l, rg) }
      .toDF("rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a merge table written by [[save]], in rank order. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Seq[(String, String)] =
    spark.read.parquet(path).orderBy("rank")
      .collect().map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq

  /** Token vocabulary with stable integer ids: every token at >=`minCount`
    * occurrences, id assigned by (count DESC, token ASC) dense rank — the
    * id table an embedding layer or tokenizer ships with. One shuffle to
    * count + one tiny sort over the surviving vocabulary (already
    * count-pruned, orders of magnitude smaller than the corpus).
    *
    * The global rank window runs over the PRUNED vocab only — for a 100 TB
    * corpus that is the ~millions-row survivor table, small enough for the
    * single-task window; prune harder (higher minCount) before asking for
    * dense ids if the tail survives. */
  def vocabBuild(docs: DataFrame, textCol: String, minCount: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.select(explode(Curation.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .withColumn("token_id",
        row_number().over(Window.orderBy(col("cnt").desc, col("token"))) - 1)
  }
}
