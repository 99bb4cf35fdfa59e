package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A literal whose value reaches generated code through the `references`
  * array rather than the Java source. Spark's own [[Literal]] writes
  * boolean, integral, floating-point, date and timestamp values straight
  * into the source, and the generated-class cache is keyed on that source,
  * so `price > 41357` and `price > 9120` compile two classes. Here the value
  * is read once into a field when the generated object is built, and the
  * source is the same for every value of the type.
  *
  * Two parameters are equal when their literals are, and `toString` and
  * `sql` are the literal's, so EXPLAIN text is unchanged. Not foldable:
  * nothing may evaluate it back into an inlined constant while generating
  * code. */
case class ParamLiteral(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", literal.value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** The physical rule that puts [[ParamLiteral]]s into a plan: every
  * non-null literal of a type Spark inlines that is a direct operand of a
  * comparison, an arithmetic operator or an IN list, inside a `FilterExec`
  * condition or a `ProjectExec` list. It runs as a pre-transition columnar
  * rule, so on the plain path and in every adaptive stage it comes before
  * `CollapseCodegenStages` and the compiled class depends on the query's
  * shape alone. Logical plans keep their `Literal`s: constant folding, zone-map
  * pruning, join routing and a scan's own pushed filters see real values. */
object ParamLiterals extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.transformExpressions(operands)
    case p: ProjectExec => p.transformExpressions(operands)
  }

  private val operands: PartialFunction[Expression, Expression] = {
    case e @ (_: BinaryComparison | _: BinaryArithmetic | _: In) => e.mapChildren(param)
  }

  private def param(e: Expression): Expression = e match {
    case l @ Literal(v, t) if v != null && inlined(t) => ParamLiteral(l)
    case other => other
  }

  private def inlined(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** The rule as a columnar extension's pre-transition step. */
  val columnar: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = ParamLiterals
  }
}
