package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.graftexpr
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, LongType, TimestampType}

/** A literal that is a parameter of the generated code, not part of it.
  * Spark's own `Literal` writes a long, timestamp, date or int value
  * into the generated Java (`1704067200000000L`), so a plan run again
  * with another time window or alert time is new code: it misses the
  * codegen cache (100 classes) and is compiled and JIT-warmed again.
  * This subclass puts its value in the generated class's references
  * array and reads it into a field when the class is initialized, so
  * the code is the same for every value.
  *
  * Everything else is `Literal`'s: `Literal.unapply` matches it, so
  * filter pushdown to parquet and partition pruning see a plain literal,
  * `equals` compares values, and explain text is unchanged. Optimizer
  * rules that fold an expression around it produce a plain `Literal`,
  * so it pays off only where it is compared or projected as it is.
  *
  * A `tag` names the run parameter the value came from. A prepared
  * alert tick (`engine.Runner`) finds the rule pass's window bounds and
  * `alert_time_s` in its cached analyzed plan by this tag, never by
  * value, and [[rebind]]s each to the next window's value; an untagged
  * parameter is never re-bound. */
class ParamLiteral(value: Any, dataType: DataType,
    val tag: Option[String] = None) extends Literal(value, dataType) {

  /** The same parameter holding `v`, of the same type. */
  def rebind(v: Any): ParamLiteral = new ParamLiteral(v, dataType, tag)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    if (value == null || !CodeGenerator.isPrimitiveType(javaType))
      super.doGenCode(ctx, ev) // null, or already a reference object
    else {
      val ref = ctx.addReferenceObj("param", value,
        CodeGenerator.boxedType(dataType))
      val field = ctx.addMutableState(javaType, "param", v => s"$v = $ref;")
      ExprCode.forNonNullValue(JavaCode.global(field, dataType))
    }
  }
}

object ParamLiteral {
  /** `lit(v)` as a parameter. */
  def long(v: Long, tag: Option[String] = None): Column =
    graftexpr.column(new ParamLiteral(v, LongType, tag))

  /** `lit(ts).cast("timestamp")` as a parameter. */
  def timestamp(ts: String, tag: Option[String] = None): Column =
    graftexpr.column(new ParamLiteral(timestampValue(ts), TimestampType, tag))

  /** The internal value of `lit(ts).cast("timestamp")`: the string is
    * parsed here, in the session time zone, as constant folding would. */
  def timestampValue(ts: String): Any =
    Cast(Literal(ts), TimestampType,
      Option(SQLConf.get.sessionLocalTimeZone)).eval()
}
