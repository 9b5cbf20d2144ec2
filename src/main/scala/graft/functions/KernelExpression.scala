package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** One input family of a kernel: the types it admits, their name in the
  * type-check message, and the Java fragment that hands a value of it to
  * the kernel in generated code.
  */
final case class KernelInput(name: String, admits: DataType => Boolean,
                             javaArg: String => String) {
  /** The same family under another name in the message (`string robots_txt`). */
  def as(label: String): KernelInput = copy(name = label)
}

object KernelInput {
  val Binary: KernelInput = passed("binary", _ == BinaryType)
  /** A string the kernel takes as `UTF8String`. */
  val Utf8: KernelInput = passed("string", _ == StringType)
  /** A string the kernel takes as `java.lang.String`. */
  val JavaString: KernelInput = KernelInput("string", _ == StringType, c => s"$c.toString()")
  val Double: KernelInput = passed("double", _ == DoubleType)
  /** Any integral width, widened to `long` for the kernel. */
  val Integral: KernelInput = KernelInput("an integral value",
    Set[DataType](ByteType, ShortType, IntegerType, LongType), c => s"(long) $c")
  val Tokens: KernelInput = arrayOf("array<string>", StringType)
  val FloatVector: KernelInput = arrayOf("array<float>", FloatType)
  val IntArray: KernelInput = arrayOf("array<int>", IntegerType)
  /** A dense vector of either element width (the kernel reads the width). */
  val Vector: KernelInput = passed("array<float> or array<double> arguments", {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  })

  /** A family whose values reach the kernel as generated code holds them. */
  private def passed(name: String, admits: DataType => Boolean): KernelInput =
    KernelInput(name, admits, c => c)

  private def arrayOf(name: String, element: DataType): KernelInput =
    passed(name, {
      case ArrayType(e, _) => e == element
      case _ => false
    })
}

/** The contract every kernel expression shares. A kernel is one static
  * method on a companion object in this package, and eval and generated
  * code both call it: eval through `nullSafeEval`, generated code through
  * the call [[kernelCode]] writes from [[kernel]] and [[kernelArgs]], so a
  * row is the same under `NO_CODEGEN` and `CODEGEN_ONLY`, and the call
  * stays inside whole-stage codegen.
  *
  *  - Each child must be of its [[KernelInput]] family, or analysis fails
  *    with `<name> expects <family>, got <type>` (two inputs: both parts in
  *    parentheses).
  *  - A null input gives a null result without calling the kernel.
  *  - A kernel that may return null (`quarantines`: a malformed blob, a
  *    decompression bomb) quarantines that row to null, so the expression
  *    is nullable; otherwise it is nullable only through its inputs.
  *    A primitive result of such a kernel comes back boxed.
  *
  * Serializable, so the declaration fields of [[UnaryKernel]] and
  * [[BinaryKernel]] travel with a plan to the executors.
  */
trait KernelExpression extends Expression with Serializable {
  protected def inputs: Seq[KernelInput]
  /** The kernel as `Object.method`, relative to `graft.functions`. */
  protected def kernel: String
  protected def quarantines: Boolean
  /** Constants the generated call passes after the inputs: ints, longs and
    * booleans as literals, anything else as a reference object. Mixing an
    * int with a long needs `Seq[Any](...)`: a plain `Seq` widens the int. */
  protected def kernelArgs: Seq[Any] = Nil

  override def nullable: Boolean = quarantines || children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.zip(inputs).forall { case (c, in) => in.admits(c.dataType) })
      TypeCheckResult.TypeCheckSuccess
    else {
      def list(xs: Seq[String]) = if (xs.length == 1) xs.head else xs.mkString("(", ", ", ")")
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects ${list(inputs.map(_.name))}, " +
        s"got ${list(children.map(_.dataType.simpleString))}")
    }

  /** The Java statements that set `ev` from the inputs' values. */
  protected def kernelCode(ctx: CodegenContext, ev: ExprCode, values: String*): String = {
    val consts = kernelArgs.map {
      case i: Int => i.toString
      case l: Long => s"${l}L"
      case b: Boolean => b.toString
      case o: AnyRef => ctx.addReferenceObj("kernelArg", o, o.getClass.getCanonicalName)
    }
    val args = values.zip(inputs).map { case (v, in) => in.javaArg(v) } ++ consts
    val call = s"graft.functions.$kernel(${args.mkString(", ")})"
    if (!quarantines) s"${ev.value} = $call;"
    else if (CodeGenerator.isPrimitiveType(dataType)) {
      val boxed = ctx.freshName("boxed")
      s"""
      ${CodeGenerator.boxedType(dataType)} $boxed = $call;
      ${ev.isNull} = $boxed == null;
      ${ev.value} = ${ev.isNull} ? ${CodeGenerator.defaultValue(dataType)} :
        $boxed.${CodeGenerator.javaType(dataType)}Value();
      """
    } else s"""
      ${ev.value} = $call;
      ${ev.isNull} = ${ev.value} == null;
    """
  }
}

/** A one-input [[KernelExpression]]: its name, input family, result type,
  * kernel and whether the kernel may return null; the subclass adds
  * `nullSafeEval` and `withNewChildInternal`.
  */
abstract class UnaryKernel(override val prettyName: String, input: KernelInput,
                           override val dataType: DataType, protected val kernel: String,
                           protected val quarantines: Boolean)
    extends UnaryExpression with KernelExpression {
  override protected def inputs: Seq[KernelInput] = Seq(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => kernelCode(ctx, ev, c))
}

/** A two-input [[KernelExpression]]; see [[UnaryKernel]]. */
abstract class BinaryKernel(override val prettyName: String, leftInput: KernelInput,
                            rightInput: KernelInput, override val dataType: DataType,
                            protected val kernel: String, protected val quarantines: Boolean)
    extends BinaryExpression with KernelExpression {
  override protected def inputs: Seq[KernelInput] = Seq(leftInput, rightInput)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => kernelCode(ctx, ev, l, r))
}
