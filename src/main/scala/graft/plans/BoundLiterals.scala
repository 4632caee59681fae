package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, EmptyBlock,
  ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.graftbridge.ManifestFileIndex
import org.apache.spark.sql.types._

import graft.sources.GraftBatchScan

/** A non-null constant whose generated code does not spell its value:
  * the class reads it once from the plan's reference array into a
  * primitive field, so two plans that differ only in the value compile
  * to the same class body and share Spark's codegen cache. Evaluates,
  * compares and prints exactly like the [[Literal]] it replaces; it is
  * not foldable, so it only ever appears in physical plans. */
case class BoundLiteral(value: Any, dataType: DataType) extends LeafExpression {
  private def literal: Literal = Literal(value, dataType)

  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  // Literal's equality: NaN equals NaN, so a plan stays equal to itself
  override def equals(other: Any): Boolean = other match {
    case b: BoundLiteral => literal == b.literal
    case _ => false
  }
  override def hashCode: Int = literal.hashCode

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("boundLiteral", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "boundLiteral",
      v => s"$v = $boxed.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

/** Binds the constants of a graft read's residual filter as
  * [[BoundLiteral]]s, so a read that differs from an earlier one only
  * in its filter constants reuses the earlier read's generated class.
  * Spark writes int, long, double, date and timestamp literals into the
  * Java source of a `Filter`; strings and decimals are already
  * reference-backed and stay as they are.
  *
  * Only a `FilterExec` above a graft scan (a `GraftBatchScan`, or a
  * file-source scan over a manifest's files) is touched, and within it
  * only a non-null literal that is a direct operand of a comparison or
  * an item of an `IN` list. The rule runs on the physical plan, after
  * planning decided the pushed filters: parquet row-group pushdown, the
  * scan's pruning filter and `explainPruning` keep the real literals.
  * Injected as a columnar rule ([[BoundLiterals.Columnar]]), the one
  * physical hook that runs on both the adaptive and the non-adaptive
  * path before whole-stage code generation. */
object BoundLiterals extends Rule[SparkPlan] {

  /** The session hook: `injectColumnar(_ => BoundLiterals.Columnar)`. */
  object Columnar extends ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = BoundLiterals
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec if readsGraft(f.child) =>
      val bound = f.condition.transformDown {
        case c: BinaryComparison => c.withNewChildren(c.children.map(bind))
        case i: In => i.copy(list = i.list.map(bind))
      }
      if (bound fastEquals f.condition) f else f.copy(condition = bound)
  }

  private def bind(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && bindable(t) => BoundLiteral(v, t)
    case other => other
  }

  private def bindable(t: DataType): Boolean = t match {
    case IntegerType | LongType | ShortType | ByteType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def readsGraft(plan: SparkPlan): Boolean = plan.exists {
    case b: BatchScanExec => b.scan.isInstanceOf[GraftBatchScan]
    case f: FileSourceScanExec => f.relation.location.isInstanceOf[ManifestFileIndex]
    case s: QueryStageExec => readsGraft(s.plan)
    case _ => false
  }
}
