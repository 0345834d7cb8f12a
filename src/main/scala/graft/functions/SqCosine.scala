package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Cosine of a raw query vector against an SQ8-coded corpus vector with the
  * decode fused into the loop — the scalar-quantization ADC kernel.
  *
  * The two-step formulation (`graft_cosine(q, sqDecode(codes))`) pays an
  * interpreted HOF `transform` per corpus row AND materializes the decoded
  * array; at 2M vectors that made the quantized serving scan ~1.5× SLOWER
  * than raw floats despite reading 3.8× fewer bytes
  * (tools/ProbeSq at commit 7cc6c14). This expression reads the int codes
  * directly and reconstructs each element inline:
  * `mn[d] + (code * diff[d]) / 255.0` — the EXACT operation order
  * of [[graft.pipeline.Quantize.sqDecode]] (`diff` is the precomputed
  * `mx-mn`, itself a deterministic IEEE subtraction), followed by
  * [[CosineSimilarity]]'s left-to-right dot/norm accumulation, so the
  * result is bit-identical to the two-step form (pinned in QuantizeSpec)
  * and the DuckDB oracle of q_sim_sq_ann is unaffected.
  *
  * The per-dimension stats ride as codegen reference objects (the
  * graft_argmin_center discipline), so generated source size is
  * independent of dimension. Null on null inputs, length mismatch against
  * the stats, or a zero norm.
  */
case class SqCosine(left: Expression, right: Expression,
                    mn: Array[Double], diff: Array[Double])
    extends BinaryExpression {

  require(mn.length == diff.length, "sq stats arrays must align")

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(IntegerType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_sq_cosine expects (array<double>, array<int>), got ${l.sql}, ${r.sql}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sq_cosine"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val q = l.asInstanceOf[ArrayData]
    val c = r.asInstanceOf[ArrayData]
    val n = mn.length
    if (q.numElements() != n || c.numElements() != n) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = q.getDouble(i)
      val y = mn(i) + (c.getInt(i) * diff(i)) / 255.0
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, c) => {
      val mnRef = ctx.addReferenceObj("sqMn", mn, "double[]")
      val dfRef = ctx.addReferenceObj("sqDiff", diff, "double[]")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      s"""
         |final int $n = $mnRef.length;
         |if ($q.numElements() != $n || $c.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $x = $q.getDouble($i);
         |    final double $y = $mnRef[$i] + ($c.getInt($i) * $dfRef[$i]) / 255.0;
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  final double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  if ($denom == 0.0) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $dot / $denom; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
