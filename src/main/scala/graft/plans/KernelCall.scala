package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

/** The one generated-code template of the native scalar expressions.
  * Each expression's row algorithm lives in one Scala kernel;
  * `nullSafeEval` calls it on a per-thread instance (a `ThreadLocal`,
  * since the expression instance may be shared by concurrent tasks), and
  * `doGenCode` emits [[apply]]'s call inside `nullSafeCodeGen`, so the
  * children stay generated code and their values reach the kernel as
  * Java variables.
  *
  * The template declares the kernel as codegen mutable state (one
  * instance per generated operator, i.e. per task), calls one kernel
  * method into `ev.value`, and sets `ev.isNull` as `nulls` says.
  *
  * No emitted line may begin with '|': Spark's operator templates splice
  * expression code into `s"""…""".stripMargin` strings
  * (`ProjectExec.doConsume` et al.) and stripMargin runs after
  * interpolation, so a spliced line whose first non-blank character is
  * '|' loses it. The Java then fails to compile and Spark falls back to
  * interpreted evaluation with only an ERROR log (`CodegenGuardSpec`).
  * The template writes single-line statements and checks its output.
  */
private[plans] object KernelCall {

  /** How a kernel call signals a null result. */
  sealed trait Nulls
  /** The kernel returns a value for every non-null input. */
  case object NeverNull extends Nulls
  /** A null reference is a null result. */
  case object IfNullRef extends Nulls
  /** This primitive value is a null result (e.g. -1 for a distance). */
  final case class IfEquals(sentinel: String) extends Nulls
  /** The kernel's `wasNull` flag, set by every call, marks a null result
    * (for primitive results with no spare value).
    */
  case object IfFlagged extends Nulls

  /** Generated code for `value = kernel.call` (`call` is the method name
    * and its arguments, e.g. `s"distance($a, $b)"`). `init` is the Java
    * expression that builds the kernel, `new <kernel>()` by default.
    */
  def apply(ctx: CodegenContext, ev: ExprCode, kernel: Class[_], call: String,
            nulls: Nulls, init: String = ""): String = {
    val make = if (init.nonEmpty) init else s"new ${kernel.getName}()"
    val k = ctx.addMutableState(kernel.getName, "graftKernel", v => s"$v = $make;")
    val isNull = nulls match {
      case NeverNull => ""
      case IfNullRef => s"${ev.isNull} = ${ev.value} == null;"
      case IfEquals(sentinel) => s"${ev.isNull} = ${ev.value} == $sentinel;"
      case IfFlagged => s"${ev.isNull} = $k.wasNull();"
    }
    val code = s"${ev.value} = $k.$call;\n$isNull"
    require(!code.linesIterator.exists(_.trim.startsWith("|")),
      s"generated kernel call has a line beginning with '|': $code")
    code
  }
}
