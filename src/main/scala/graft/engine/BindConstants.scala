package graft.engine

import org.apache.spark.sql.catalyst.expressions.{BinaryArithmetic, BinaryComparison, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.types._
import graft.functions.BoundConstant

/** Physical rule: bind per-statement primitive constants as generated-code
  * parameters ([[BoundConstant]]), so statements that differ only in their
  * constants compile to the same classes and hit Spark's JVM-wide codegen
  * cache instead of paying a Janino compile each. Before this rule, a
  * `TIME_SAMPLING`, `GROUP BY RANGE ... FILL (LINEAR)` or TQL range read
  * with a shifted time window compiled 5, 4 and 2 new classes
  * (CodegenReuseSpec).
  *
  * What it rewrites: non-null byte, short, int, long, float, double, DATE,
  * TIMESTAMP and TIMESTAMP_NTZ literals that are a direct operand of a
  * `BinaryArithmetic` or `BinaryComparison`, inside a filter condition, a
  * projection list or the aggregate expressions of the hash, sort and
  * object-hash aggregates.
  *
  * What it leaves alone: scan nodes, whose filters feed source pushdown,
  * and a literal in any other position — frame bounds, `round` scale and
  * regex patterns need foldable arguments.
  *
  * It runs as a [[ColumnarRule]] pre-transition rule, i.e. just before
  * `CollapseCodegenStages`, both in `QueryExecution.preparations` and in
  * AQE's post-stage-creation rules (a query-stage prep rule would miss
  * plans AQE does not wrap, such as an exchange-free range read). That is
  * after the optimizer, so constant folding, pruning and pushdown still
  * see literals.
  */
object BindConstants extends Rule[SparkPlan] {

  private def bindable(l: Literal): Boolean = l.value != null && (l.dataType match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  })

  private def bind(e: Expression): Expression = e.transformUp {
    case op @ (_: BinaryArithmetic | _: BinaryComparison) =>
      op.mapChildren {
        case l: Literal if bindable(l) => BoundConstant(l.value, l.dataType)
        case other => other
      }
  }

  // mapExpressions copies a node only when an expression changed, and keeps
  // its tags (AQE's logical link among them)
  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p @ (_: FilterExec | _: ProjectExec) => p.mapExpressions(bind)
    case a @ (_: HashAggregateExec | _: SortAggregateExec | _: ObjectHashAggregateExec) =>
      a.mapExpressions {
        case ae: AggregateExpression => bind(ae)
        case other => other
      }
  }
}

/** Installs [[BindConstants]] through `SparkSessionExtensions.injectColumnar`. */
object BindConstantsColumnarRule extends ColumnarRule {
  override def preColumnarTransitions: Rule[SparkPlan] = BindConstants
}
