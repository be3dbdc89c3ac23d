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
  * so it pays off only where it is compared or projected as it is. */
class ParamLiteral(value: Any, dataType: DataType)
    extends Literal(value, dataType) {

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
  def long(v: Long): Column = graftexpr.column(new ParamLiteral(v, LongType))

  /** `lit(ts).cast("timestamp")` as a parameter: the string is parsed
    * here, in the session time zone, as constant folding would. */
  def timestamp(ts: String): Column = graftexpr.column(new ParamLiteral(
    Cast(Literal(ts), TimestampType,
      Option(SQLConf.get.sessionLocalTimeZone)).eval(), TimestampType))
}
