package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.types.{DataType, DateType, DoubleType, IntegerType, LongType, TimestampType}

/** Physical rule: keep the constants of `FilterExec` comparisons out of the
  * generated Java source, so every execution of one plan shape compiles to
  * the same class.
  *
  * `Literal.doGenCode` writes its value into the source, and Spark's
  * codegen cache is keyed on the source text. A migration that runs one
  * frame per key range (`WHERE c_custkey >= lo AND c_custkey < hi`) thus
  * compiled a new whole-stage class for every batch, although the batches
  * differ only in `lo` and `hi`. This rule swaps each such constant for a
  * [[HoistedLiteral]], whose generated code reads the value from the
  * class's `references` array, the array Spark fills per execution.
  *
  * It touches only a non-null `Literal` of int, long, date, timestamp or
  * double type that is a direct operand of a `BinaryComparison` inside a
  * `FilterExec` condition: the range and equality bounds of a batched
  * read. Parquet pushdown (`PushedFilters`) and the pruning filters of a
  * cached relation live in the scan nodes, which this rule leaves alone,
  * so they keep their literals and prune exactly as before. Other
  * expressions (`IN` lists, arithmetic, projections) keep theirs too.
  *
  * Wired in [[GraftExtensions]] as a `preColumnarTransitions` rule, which
  * runs before `CollapseCodegenStages` on the initial plan and on every
  * adaptive query stage. Idempotent: a `HoistedLiteral` is not a
  * `Literal`, so a second pass finds nothing to replace.
  */
object HoistFilterLiterals extends Rule[SparkPlan] {

  private def hoistable(e: Expression): Boolean = e match {
    case Literal(v, IntegerType | LongType | DateType | TimestampType |
        DoubleType) => v != null
    case _ => false
  }

  private def hoist(e: Expression): Expression = e match {
    case l: Literal if hoistable(l) => HoistedLiteral(l.value, l.dataType)
    case other => other
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.transformExpressionsUp {
      case c: BinaryComparison if hoistable(c.left) || hoistable(c.right) =>
        c.withNewChildren(Seq(hoist(c.left), hoist(c.right)))
    }
  }
}

/** A non-null constant whose generated code reads its value from the
  * generated class's `references` into a field, instead of writing it into
  * the source as `Literal` does. `eval` returns the value; `toString` and
  * `sql` are the `Literal`'s, so `explain` output, plan captures and
  * PlanAudit read the same as before [[HoistFilterLiterals]] ran. Not
  * foldable (the `Expression` default), so nothing after physical planning
  * folds it back into the source. */
case class HoistedLiteral(value: Any, dataType: DataType) extends LeafExpression {
  private def literal = Literal(value, dataType)

  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("hoistedLiteral", value,
      CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "hoistedLiteral",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.global(field, dataType))
  }
}
