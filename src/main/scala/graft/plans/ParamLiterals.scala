package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null literal whose generated code does not depend on its value:
  * the value rides in the class's `references` array and is read into a
  * field once, at init. It evaluates, canonicalises and prints exactly
  * like `Literal(value, dataType)`, so plans, explain text and exchange
  * reuse see the literal; only the Java source differs, and it is the
  * same for every value of one type. */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  private lazy val literal = Literal(value, dataType)
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override lazy val canonicalized: Expression = literal
  override def toString: String = literal.toString
  override def sql: String = literal.sql
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val jt = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value)
    val field = ctx.addMutableState(jt, "param",
      v => s"$v = $ref.${jt}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Physical rule: in `FilterExec` conditions and `ProjectExec` lists,
  * every non-null literal of a type Spark inlines into generated Java
  * (byte, short, int, long, float, double, date, timestamp,
  * timestamp_ntz) that is a direct operand of a comparison or an item of
  * an `IN` list becomes a [[ParamLiteral]]. A key lookup, an AS-OF range
  * read or a DML predicate that differs from an earlier one only in its
  * constants then generates the same source and reuses the compiled
  * class instead of compiling a new one (and flushing Spark's 100-entry
  * codegen cache in a loop over keys). Spark 4.1 keys that cache by
  * (context classloader, source), so a new source compiles twice, once
  * on the driver and once in the executor task; a query that runs only
  * once still pays both.
  *
  * Scans keep their pushed filters, so parquet pushdown and
  * [[graft.table.ManifestFileIndex]] pruning still see real literals.
  *
  * Injected as a [[ColumnarRule]]: its pre-transition hook runs right
  * before codegen stages are collapsed, both for a plan AQE wraps and
  * for one it does not (a filter over a scan has no exchange, so AQE
  * leaves it alone, and `injectQueryPostPlannerStrategyRule` rules run
  * only inside AQE). The rule is idempotent. */
object ParamLiterals extends Rule[SparkPlan] {
  private val inlined: Set[DataType] = Set(ByteType, ShortType, IntegerType,
    LongType, FloatType, DoubleType, DateType, TimestampType, TimestampNTZType)

  private def param(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && inlined(t) => ParamLiteral(v, t)
    case _ => e
  }

  private def rewrite(e: Expression): Expression = e.transformUp {
    case c: BinaryComparison => c.withNewChildren(c.children.map(param))
    case i: In => i.copy(list = i.list.map(param))
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = rewrite(f.condition))
    case p: ProjectExec =>
      p.copy(projectList = p.projectList.map(rewrite(_).asInstanceOf[NamedExpression]))
  }

  val columnar: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = ParamLiterals
  }
}
