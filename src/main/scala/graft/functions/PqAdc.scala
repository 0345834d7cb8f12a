package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** PQ asymmetric-distance inner product: `Σ_j lut[j·kCodes + codes[j]]` as
  * one codegen'd loop — the per-PAIR hot path of pqTopK/ivfPqTopK.
  *
  * The HOF formulation (`aggregate(zip_with(codes, sequence(..), ...),
  * 0d, +)`) dispatches three interpreted lambda layers per pair — the same
  * tax the SQ8 path paid before [[SqCosine]] (and BPE before
  * BpeEncodePieces). Parity contract with that form, pinned by the
  * q_sim_pq_ann / q_sim_ivfpq_ann goldens and by QuantizeSpec, which keeps
  * the fold as the reference and compares both codegen and interpreted
  * evaluation:
  *  - accumulation is left-to-right j = 0..m-1 in double precision
  *    (zip_with preserves order; aggregate folds left to right);
  *  - a null code element yields NULL (`acc + null` nulls the HOF fold
  *    identically) — degenerate rows sort LAST under the cos DESC rank.
  * One DELIBERATE divergence (r11 review): a code outside [0, kCodes)
  * yields NULL here — checked PER SUBSPACE, because a flat-index bound
  * alone would let a corrupted mid-subspace code silently read a
  * neighbor subspace's lut block — where the HOF form's flat
  * `element_at` either THROWS (ANSI-on sessions) or reads a wrong-but-
  * in-range entry. Out-of-range is unreachable from the builders
  * (pqCodebooks fails fast when a codebook comes up short of kCodes),
  * so the choice only governs corrupted-codes behavior, where
  * not-a-neighbor beats killing the query.
  */
case class PqAdc(left: Expression, right: Expression, kCodes: Int)
    extends BinaryExpression {

  require(kCodes > 0, "graft_pq_adc needs kCodes > 0")

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_adc expects (array<int> codes, array<double> lut), got ${l.sql}, ${r.sql}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_adc"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val codes = l.asInstanceOf[ArrayData]
    val lut = r.asInstanceOf[ArrayData]
    val m = codes.numElements()
    val n = lut.numElements()
    var acc = 0.0
    var j = 0
    while (j < m) {
      if (codes.isNullAt(j)) return null
      // per-SUBSPACE range check (r11 review): a corrupted mid-subspace
      // code with only a flat-index bound would silently read a NEIGHBOR
      // subspace's lut block and score plausibly wrong — the documented
      // contract is that degenerate rows null out and sort last
      val c = codes.getInt(j)
      if (c < 0 || c >= kCodes) return null
      val idx = j * kCodes + c
      if (idx >= n) return null
      acc += lut.getDouble(idx)
      j += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, lu) => {
      val m = ctx.freshName("m")
      val n = ctx.freshName("n")
      val j = ctx.freshName("j")
      val cd = ctx.freshName("cd")
      val idx = ctx.freshName("idx")
      val acc = ctx.freshName("acc")
      s"""
         |final int $m = $c.numElements();
         |final int $n = $lu.numElements();
         |double $acc = 0.0;
         |for (int $j = 0; $j < $m && !${ev.isNull}; $j++) {
         |  if ($c.isNullAt($j)) { ${ev.isNull} = true; break; }
         |  final int $cd = $c.getInt($j);
         |  if ($cd < 0 || $cd >= $kCodes) { ${ev.isNull} = true; break; }
         |  final int $idx = $j * $kCodes + $cd;
         |  if ($idx >= $n) { ${ev.isNull} = true; break; }
         |  $acc += $lu.getDouble($idx);
         |}
         |if (!${ev.isNull}) { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
