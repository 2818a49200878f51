package graft.functions

import java.lang.reflect.{InvocationTargetException, Method, Modifier}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}

/** A native kernel as a Catalyst expression: each row is ONE call to a
  * static JVM function over the child values plus constant arguments.
  *
  * A kernel declares five things — its input types, result type, the
  * result-nullability rule ([[KernelCall.Nulls]]), the static function
  * ([[KernelCall.Kernel]]) and its constant arguments — and this base
  * derives the rest once for every kernel:
  *  - the analysis-time type check (one message format);
  *  - the null handling: a null input short-circuits to NULL unless the
  *    kernel is null-tolerant, a primitive-array result is wrapped in
  *    `GenericArrayData`, and a kernel that may return null maps that
  *    null to the expression's `isNull` (a boxed primitive is unboxed);
  *  - `doGenCode`: straight-line Java around one static call, so the
  *    kernel stays inside WholeStageCodegen;
  *  - interpreted `eval`: the same function, called reflectively.
  *
  * Constants: Int, Long and Boolean are inlined as Java literals; any
  * other value (lookup tables, centroid matrices, weight vectors) rides
  * in the codegen references array. They are built once per expression
  * instance (not per row) and rebuilt after deserialization.
  *
  * The plan guards in PlanDisciplineSpec count every `KernelCall` in a
  * pushed Filter by type, so a new kernel is guarded with nothing to
  * register.
  */
abstract class KernelCall extends Expression {
  import KernelCall._

  /** One declared type per child, matched structurally with nullability
    * ignored — except that an array declared with null-free elements
    * (`containsNull = false`) rejects an element-nullable input: those
    * kernels do not reproduce the HOF's null-element semantics, so the
    * input contract fails analysis instead of diverging silently. */
  def inputTypes: Seq[DataType]

  protected def nulls: Nulls = NullIntolerant

  protected def kernel: Kernel

  /** Trailing arguments after the child values, in call order. */
  protected def constants: Seq[Any] = Nil

  @transient private lazy val method: Method = kernel.method
  @transient private lazy val constArgs: Array[AnyRef] =
    constants.map(_.asInstanceOf[AnyRef]).toArray

  override def nullable: Boolean = nulls match {
    case NullIntolerant => children.exists(_.nullable)
    case NullResult => true
    case NullTolerant => false
  }

  override def foldable: Boolean = children.forall(_.foldable)

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length == inputTypes.length &&
        children.zip(inputTypes).forall { case (c, t) => accepts(t, c.dataType) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (${inputTypes.map(describe).mkString(", ")}), " +
        s"got (${children.map(_.dataType.sql).mkString(", ")})")

  override def eval(input: InternalRow): Any = {
    val n = children.length
    val args = new Array[AnyRef](n + constArgs.length)
    var i = 0
    while (i < n) {
      val v = children(i).eval(input)
      if (v == null && nulls != NullTolerant) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    System.arraycopy(constArgs, 0, args, n, constArgs.length)
    val out =
      try method.invoke(null, args: _*)
      catch { case e: InvocationTargetException => throw e.getCause }
    out match {
      case a: Array[Long] => new GenericArrayData(a)
      case a: Array[Int] => new GenericArrayData(a)
      case v => v
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val args = children.zip(gens).map { case (c, g) =>
      if (nulls == NullTolerant && c.nullable) s"${g.isNull} ? null : ${g.value}"
      else g.value.toString
    } ++ constArgs.map {
      case i: java.lang.Integer => i.toString
      case l: java.lang.Long => s"${l}L"
      case b: java.lang.Boolean => b.toString
      case o => ctx.addReferenceObj(prettyName, o)
    }
    val call = s"${kernel.javaName}(${args.mkString(", ")})"
    val ret = method.getReturnType
    def wrap(v: String): String =
      if (ret.isArray && ret.getComponentType.isPrimitive)
        s"new org.apache.spark.sql.catalyst.util.GenericArrayData($v)"
      else if (!ret.isPrimitive && CodeGenerator.isPrimitiveType(dataType))
        s"$v.${CodeGenerator.javaType(dataType)}Value()"
      else v
    val assign =
      if (nulls != NullResult) s"${ev.value} = ${wrap(call)};"
      else {
        val r = ctx.freshName("kernelOut")
        s"""${CodeGenerator.typeName(ret)} $r = $call;
           |if ($r == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = ${wrap(r)}; }
           |""".stripMargin
      }
    val decl = s"${CodeGenerator.javaType(dataType)} ${ev.value} = " +
      s"${CodeGenerator.defaultValue(dataType)};"
    // the null-guard layouts of Spark's own Unary/Binary/TernaryExpression
    // nullSafeCodeGen, so a ported kernel generates the code it did as
    // a hand-written expression
    if (!nullable)
      ev.copy(code = code"""
        |${gens.map(_.code).reduce(_ + _)}
        |$decl
        |$assign""".stripMargin, isNull = FalseLiteral)
    else if (children.length == 1)
      ev.copy(code = code"""
        |${gens.head.code}
        |boolean ${ev.isNull} = ${gens.head.isNull};
        |$decl
        |${ctx.nullSafeExec(children.head.nullable, gens.head.isNull.toString)(assign)}""".stripMargin)
    else {
      // evaluate each child only when every earlier one is non-null
      val guarded = children.zip(gens).foldRight(s"${ev.isNull} = false;\n$assign") {
        case ((c, g), inner) => g.code.toString + ctx.nullSafeExec(c.nullable, g.isNull.toString)(inner)
      }
      ev.copy(code = code"""
        |boolean ${ev.isNull} = true;
        |$decl
        |$guarded""".stripMargin)
    }
  }
}

object KernelCall {

  /** How nulls flow through a kernel. */
  sealed trait Nulls
  /** NULL iff an input is NULL; the function never returns null. */
  case object NullIntolerant extends Nulls
  /** NULL on a NULL input, and wherever the function returns null (no
    * shingles, fewer than n tokens, NaN → decimal, a null element). */
  case object NullResult extends Nulls
  /** The function receives NULL inputs as null and never returns null,
    * so the result is never NULL. Inputs must be object-typed. */
  case object NullTolerant extends Nulls

  /** `name` on the Scala object `owner` (HashKernels, VecKernels, ...),
    * called through the static forwarder the compiler emits for it. */
  final case class Kernel(owner: AnyRef, name: String) {
    private def className: String = owner.getClass.getName.stripSuffix("$")
    def javaName: String = s"$className.$name"
    def method: Method =
      Class.forName(className, true, owner.getClass.getClassLoader).getMethods
        .filter(m => m.getName == name && Modifier.isStatic(m.getModifiers)) match {
        case Array(m) => m
        case ms => throw new IllegalStateException(
          s"$javaName must name exactly one static method, found ${ms.length}")
      }
  }

  /** Input-type shorthands shared by the kernels. */
  val Tokens: DataType = ArrayType(StringType)
  val NullFreeTokens: DataType = ArrayType(StringType, containsNull = false)
  val Vector: DataType = ArrayType(DoubleType)

  private def accepts(want: DataType, got: DataType): Boolean =
    DataType.equalsStructurally(got, want, ignoreNullability = true) &&
      ((want, got) match {
        case (ArrayType(_, false), ArrayType(_, nullElements)) => !nullElements
        case _ => true
      })

  private def describe(t: DataType): String = t match {
    case ArrayType(_, false) => s"${t.sql} with null-free elements"
    case _ => t.sql
  }
}
