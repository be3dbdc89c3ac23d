package graft.functions

import java.lang.reflect.{InvocationTargetException, Method, Modifier}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Base of graft's forwarder kernels: expressions whose interpreted and
  * generated paths both make ONE call, to a static forwarder of a Scala
  * object (`graft.functions.Md5Util.md5Hex`, ...) or to a method of a
  * plan-time object (`BloomFilter.mightContainLong`). A kernel declares
  * its pretty name, [[accepts]], `dataType`, [[forwarder]], [[planArgs]]
  * and [[mayReturnNull]]; this base derives the type check,
  * null-intolerance, nullability, `nullSafeEval` (the forwarder invoked
  * reflectively) and `doGenCode` (the same forwarder called from the
  * generated Java).
  *
  * The null-result rule lives here and nowhere else: a kernel that can
  * return null for a non-null input is nullable whatever its children,
  * and its generated code sets `ev.isNull` from the call's result —
  * otherwise whole-stage codegen hands the consuming UnsafeRow writer a
  * null value flagged non-null. For a primitive result type the
  * forwarder returns the boxed type (`java.lang.Long`), unboxed to the
  * type's default when null.
  *
  * Arguments reach the forwarder as the input values, in child order,
  * then the plan-time arguments. A string input passed to a `byte[]`
  * parameter is handed over as its UTF-8 bytes. When the forwarder is
  * an instance method, the first plan-time argument is its receiver. */
sealed trait StaticKernel extends Expression {

  /** The type every input must have. */
  protected def accepts: StaticKernel.Accepts

  /** `<owner>.<method>`: a Scala object's static forwarder, or a
    * public method of the class of the first plan-time argument. The
    * name must be unique in the owner. */
  protected def forwarder: String

  /** Named values fixed at plan time, passed after the inputs. An Int
    * is inlined in the generated Java; anything else rides as a
    * reference object under its name. */
  protected def planArgs: Seq[(String, Any)] = Nil

  /** Whether a non-null input can give a null result. */
  protected def mayReturnNull: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(c => accepts.ok(c.dataType)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires " +
      s"${accepts.what}, got ${children.map(_.dataType.simpleString).mkString(" / ")}")

  override def nullIntolerant: Boolean = true

  override def nullable: Boolean =
    mayReturnNull || children.exists(_.nullable)

  @transient private lazy val method: Method = {
    val dot = forwarder.lastIndexOf('.')
    val name = forwarder.substring(dot + 1)
    Class.forName(forwarder.substring(0, dot)).getMethods
      .filter(_.getName == name) match {
      case Array(m) => m
      case ms => throw new IllegalStateException(
        s"$prettyName: forwarder $forwarder matches ${ms.length} methods")
    }
  }

  @transient private lazy val isStatic = Modifier.isStatic(method.getModifiers)

  @transient private lazy val plan: Seq[(String, Any)] = planArgs

  /** Per input: pass a string's bytes to a `byte[]` parameter. */
  @transient private lazy val asBytes: Seq[Boolean] =
    children.zip(method.getParameterTypes).map { case (c, p) =>
      c.dataType == StringType && p == classOf[Array[Byte]]
    }

  protected final def invoke(inputs: Seq[Any]): Any = {
    val in = inputs.zip(asBytes).map {
      case (v, true) => v.asInstanceOf[UTF8String].getBytes
      case (v, false) => v
    }
    val values = plan.map(_._2)
    val (receiver, args) =
      if (isStatic) (null, in ++ values) else (values.head, in ++ values.tail)
    try method.invoke(receiver, args.map(_.asInstanceOf[AnyRef]): _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  /** The plan-time arguments as Java terms; reference objects are added
    * to `ctx` here, before the inputs generate their code. */
  protected final def planTerms(ctx: CodegenContext): Seq[String] = {
    val types = method.getParameterTypes.drop(children.length)
    plan.zipWithIndex.map {
      case ((_, i: Int), _) => i.toString
      case ((name, v), k) =>
        val cls = if (isStatic) types(k)
          else if (k == 0) method.getDeclaringClass else types(k - 1)
        ctx.addReferenceObj(name, v, cls.getCanonicalName)
    }
  }

  /** The statement(s) that set `ev` from the forwarder call. */
  protected final def assign(
      ev: ExprCode, inputs: Seq[String], planned: Seq[String]): String = {
    val in = inputs.zip(asBytes).map {
      case (c, true) => s"$c.getBytes()"
      case (c, false) => c
    }
    val call =
      if (isStatic) s"${method.getDeclaringClass.getName}.${method.getName}(" +
        s"${(in ++ planned).mkString(", ")})"
      else s"${planned.head}.${method.getName}(" +
        s"${(in ++ planned.tail).mkString(", ")})"
    if (!mayReturnNull) s"${ev.value} = $call;"
    else if (CodeGenerator.isPrimitiveType(dataType)) {
      val boxed = s"${ev.value}_boxed"
      s"""
      java.lang.${CodeGenerator.boxedType(dataType)} $boxed = $call;
      ${ev.isNull} = ($boxed == null);
      ${ev.value} = ${ev.isNull} ? ${CodeGenerator.defaultValue(dataType)} : $boxed.${CodeGenerator.javaType(dataType)}Value();"""
    } else s"""
      ${ev.value} = $call;
      ${ev.isNull} = (${ev.value} == null);"""
  }
}

object StaticKernel {

  /** The type every input must pass, and how a failure names it. */
  final case class Accepts(what: String, ok: DataType => Boolean)

  val Strings = Accepts("a string argument", _ == StringType)
  val Binary = Accepts("a binary argument", _ == BinaryType)
  val Hashes = Accepts("a bigint hash column", _ == LongType)
  val Vectors = Accepts("array<double>", {
    case ArrayType(DoubleType, _) => true
    case _ => false
  })
  val LongSets = Accepts("two array<bigint> arguments", {
    case ArrayType(LongType, _) => true
    case _ => false
  })
}

/** A [[StaticKernel]] over one input. */
abstract class UnaryKernel extends UnaryExpression with StaticKernel {
  override protected def nullSafeEval(v: Any): Any = invoke(Seq(v))

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planned = planTerms(ctx)
    nullSafeCodeGen(ctx, ev, c => assign(ev, Seq(c), planned))
  }
}

/** A [[StaticKernel]] over two inputs. */
abstract class BinaryKernel extends BinaryExpression with StaticKernel {
  override protected def nullSafeEval(a: Any, b: Any): Any = invoke(Seq(a, b))

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planned = planTerms(ctx)
    nullSafeCodeGen(ctx, ev, (a, b) => assign(ev, Seq(a, b), planned))
  }
}
