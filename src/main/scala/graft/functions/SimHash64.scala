package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** SimHash signature from an array of 64-bit token hashes: bit i of the
  * output is set iff more token hashes have bit i set than unset.
  * Single O(64·n) pass per row — the expression-DSL
  * formulation would be 64 separate folds over the array and defeats
  * whole-stage codegen.
  *
  * Used for near-dup detection: similar documents (mostly-shared token
  * multisets) land within a few Hamming bits of each other.
  */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"simhash64 needs array<bigint>, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    simhash(input.asInstanceOf[ArrayData])

  /** Per-row kernel, shared by interpreted eval and generated code. */
  def simhash(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) != 0L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val ref = ctx.addReferenceObj("simhash", this, classOf[SimHash64Expr].getName)
      s"${ev.value} = $ref.simhash($arr);"
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

object SimHash64Expr {
  def apply(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      SimHash64Expr(org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))
}
