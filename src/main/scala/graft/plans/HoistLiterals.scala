package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** Physical-plan rule: the constant operands of comparisons leave the
  * generated Java source. Spark inlines a primitive `Literal` into the
  * source it compiles (`k >= 4711L`), and its generated-class cache is
  * keyed by that source, so a lookup repeated with a new key compiles a
  * new class (Janino, then the JIT) each time. Here the non-null primitive
  * `Literal` operands of every `BinaryComparison` in a `FilterExec`
  * condition or a `ProjectExec` list become [[HoistedLiteral]]s, whose
  * code reads the value from the generated class's `references` array.
  * Two plans that differ only in those constants then generate one source
  * and share one compiled class (`plans/hoisted_literals.md`).
  *
  * Injected as a columnar pre-transition rule: `ApplyColumnarRulesAndInsertTransitions`
  * runs right before `CollapseCodegenStages`, in the non-AQE preparations
  * and on every AQE query stage, so both plan kinds are rewritten before
  * any code is generated. By then the optimizer, file pruning and the
  * scan's pushed filters have used the real literals. Only comparison
  * operands are touched: seeds, scales, frame bounds and every other
  * literal keep their constant-folded code. */
object HoistLiterals extends Rule[SparkPlan] {

  private val hoistable: Set[DataType] = Set(IntegerType, LongType, ShortType,
    ByteType, FloatType, DoubleType, DateType, TimestampType, TimestampNTZType)

  private val hoist: PartialFunction[Expression, Expression] = {
    case c: BinaryComparison => c.mapChildren {
      case Literal(v, dt) if v != null && hoistable(dt) => HoistedLiteral(v, dt)
      case e => e
    }
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      f.copy(condition = f.condition.transformUp(hoist))
    case p: ProjectExec =>
      p.copy(projectList = p.projectList.map(
        _.transformUp(hoist).asInstanceOf[NamedExpression]))
  }

  /** Plan normalization rule (between analysis and the optimizer; the
    * analyzed plan keeps the Filter, which graft's predicate analysis
    * over empty frames reads): a Filter directly over an empty,
    * non-streaming local relation is that relation. The optimizer ends at
    * the same plan, but its first LocalRelation batch
    * (`ConvertToLocalRelation`) evaluates the Filter over the relation's
    * rows before `PropagateEmptyRelation` drops it, and compiles the
    * condition for that (`Predicate.create`) with its literals written
    * into the source: one new class for each lookup whose stats pruning
    * left no file, which no physical rule reaches. */
  object EmptyRelationFilters extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case Filter(_, r: LocalRelation) if r.data.isEmpty && !r.isStreaming => r
    }
  }
}

/** A non-null primitive constant whose generated code reads the value
  * from the generated class's `references` array into a field set at
  * init, instead of writing it into the source. It keeps its value in
  * equality and in its canonical form, so exchange and subquery reuse
  * never merge plans with different constants; `eval`, `toString` and
  * `sql` are the `Literal`'s. */
case class HoistedLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("hoisted", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "hoisted",
      v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}
