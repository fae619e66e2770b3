package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  BinaryArithmetic, EqualNullSafe, EqualTo, Expression, GreaterThan,
  GreaterThanOrEqual, HigherOrderFunction, In, LeafExpression, LessThan,
  LessThanOrEqual, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{
  ByteType, DataType, DateType, DoubleType, FloatType, IntegerType, LongType,
  ShortType, TimestampNTZType, TimestampType}

/**
 * A primitive literal passed to generated code as a parameter.
 *
 * Whole-stage codegen writes a [[Literal]]'s value into the Java source
 * as an inline constant, and Spark's compiled-class cache is keyed on
 * that source text: two requests that differ only in a subset bound
 * compile two classes. A `ParamLiteral` evaluates to the same value,
 * but its generated code reads it from a field set once from the
 * generated class's `references` array, so the source text — and with
 * it the cached class — depends on the plan shape alone.
 *
 * It renders as the equivalent `Literal` (`toString`, `sql`), so plan
 * text and `explain` output do not change, and it keeps the value in
 * its equality and canonical form, so exchange and subquery reuse never
 * merge two plans that differ in a bound.
 */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null && ParamLiteral.types(dataType),
    s"ParamLiteral takes a non-null primitive value, got $value: $dataType")

  override def nullable: Boolean = false
  // not foldable: a foldable operand invites code paths that evaluate
  // it at codegen time and inline the result
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = CodeGenerator.boxedType(dataType)
    val idx = ctx.references.length
    ctx.references += value
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = (($boxed) references[$idx]).${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.variable(field, dataType))
  }
}

object ParamLiteral {
  /** Types whose Literal codegen inlines the value as a Java primitive. */
  val types: Set[DataType] = Set(IntegerType, LongType, ShortType, ByteType,
    FloatType, DoubleType, DateType, TimestampType, TimestampNTZType)

  /** `e` with every primitive literal operand of a comparison, an `IN`
    * list or arithmetic swapped for a [[ParamLiteral]]. Nothing else is
    * touched: an argument Spark reads as a constant (a `round` scale, a
    * format string) is no operand of those, and higher-order functions
    * are left whole, lambda bodies included. */
  def parameterise(e: Expression): Expression = e match {
    case _: HigherOrderFunction => e
    case _: EqualTo | _: EqualNullSafe | _: LessThan | _: LessThanOrEqual |
        _: GreaterThan | _: GreaterThanOrEqual | _: BinaryArithmetic =>
      e.mapChildren(c => operand(parameterise(c)))
    case in: In =>
      in.mapChildren(c => if (c eq in.value) parameterise(c) else operand(parameterise(c)))
    case _ => e.mapChildren(parameterise)
  }

  private def operand(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && types(t) => ParamLiteral(v, t)
    case _ => e
  }
}

/**
 * Plans `Filter` and `Project` through the session's other strategies,
 * then parameterises the literals of the `FilterExec` conditions and
 * `ProjectExec` lists they return ([[ParamLiteral.parameterise]]). Scan
 * nodes keep their literals, so Parquet and NetCDF pushdown see exactly
 * what they saw before. Install with [[graft.GraftExtensions.install]].
 *
 * The strategy delegates to the planner of the session it was installed
 * on, never to the thread's active session.
 */
final case class ParamLiteralStrategy(session: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case _: Filter | _: Project =>
      session.sessionState.planner.strategies.iterator
        .filterNot(_.isInstanceOf[ParamLiteralStrategy])
        .map(_(plan)).find(_.nonEmpty).getOrElse(Nil)
        .map(_.transformUp {
          case f: FilterExec =>
            f.copy(condition = ParamLiteral.parameterise(f.condition))
          case p: ProjectExec => p.copy(projectList = p.projectList.map(
            ParamLiteral.parameterise(_).asInstanceOf[NamedExpression]))
        })
    case _ => Nil
  }
}
