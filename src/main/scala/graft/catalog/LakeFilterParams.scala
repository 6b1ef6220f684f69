package graft.catalog

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal, PlanExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, ColumnarToRowExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._

/** A non-null primitive literal whose generated code reads the value from
  * the plan's references instead of inlining it: the same query shape with
  * another value generates the same source, so it hits the codegen cache.
  * It evaluates, folds, prints and compares as its literal does; two
  * params of different values never compare (or canonicalize) equal.
  */
final case class LiteralParam(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = true
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

/** Turns the primitive literals of a filter directly over a lake scan into
  * [[LiteralParam]]s, so point and range reads that differ only in their
  * values compile their filter stage once. A post-transition columnar rule:
  * pushdown, file pruning and runtime filtering have already seen the
  * literals, and whole-stage codegen has not yet collapsed the stage.
  * Nulls, strings and decimals (already passed by reference) and subquery
  * expressions keep their literals.
  */
object LakeFilterParams extends Rule[SparkPlan] {
  private val primitive: Set[DataType] = Set(BooleanType, ByteType, ShortType,
    IntegerType, LongType, FloatType, DoubleType, DateType, TimestampType, TimestampNTZType)

  val columnarRule: ColumnarRule = new ColumnarRule {
    override def postColumnarTransitions: Rule[SparkPlan] = LakeFilterParams
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f @ FilterExec(cond, child) if overLakeScan(child) =>
      val rewritten = params(cond)
      if (rewritten eq cond) f else f.copy(condition = rewritten)
  }

  private def overLakeScan(p: SparkPlan): Boolean = p match {
    case ColumnarToRowExec(c) => overLakeScan(c)
    case b: BatchScanExec => b.scan.isInstanceOf[LakeScan]
    case _ => false
  }

  private def params(e: Expression): Expression = e match {
    case _: PlanExpression[_] => e
    case l @ Literal(v, dt) if v != null && primitive(dt) => LiteralParam(l)
    case _ => e.mapChildren(params)
  }
}
