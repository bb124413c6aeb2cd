package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._

/** Whole-stage codegen for a unary expression whose kernel is its Scala
  * `nullSafeEval`: the generated code calls that kernel on the child's
  * generated value through a reference to the expression, unboxes the
  * result to the Java type, and sets the null flag where the kernel answers
  * null. The kernel stays written once, in Scala; `eval` runs the same one.
  *
  * Unlike `CodegenFallback`, this keeps the operator that holds the
  * expression inside its whole-stage-codegen stage.
  */
private[functions] trait KernelCodegen extends UnaryExpression {

  /** The kernel on a non-null input: what the generated code calls. */
  final def kernel(v: Any): Any = nullSafeEval(v)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("kernel", this)
    val boxed = CodeGenerator.boxedType(dataType)
    nullSafeCodeGen(ctx, ev, v => {
      val r = ctx.freshName("r")
      s"""Object $r = $self.kernel($v);
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ($boxed) $r;
         |}""".stripMargin
    })
  }
}

private[functions] object KernelCodegen {

  /** A kernel that is never null: a null input gives `nullInput`. */
  trait NonNull extends KernelCodegen {

    /** The result for a null input. */
    def nullInput: Any

    override def nullable: Boolean = false

    override def eval(input: InternalRow): Any = {
      val v = child.eval(input)
      if (v == null) nullInput else nullSafeEval(v)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("kernel", this)
      val boxed = CodeGenerator.boxedType(dataType)
      val c = child.genCode(ctx)
      ev.copy(isNull = FalseLiteral, code = code"""
        |${c.code}
        |${CodeGenerator.javaType(dataType)} ${ev.value} =
        |  ($boxed) (${c.isNull} ? $self.nullInput() : $self.kernel(${c.value}));""".stripMargin)
    }
  }
}
