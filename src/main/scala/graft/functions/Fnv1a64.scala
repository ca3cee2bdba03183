package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** FNV-1a 64-bit hash of a string's UTF-8 bytes as a native Catalyst
  * expression with whole-stage codegen — the hot-path document
  * fingerprint (rolling-hash dedup key). A UDF here would box every row
  * and break the codegen span; this stays fused with the scan.
  *
  * Semantics match [[TextFunctions.fnv1a64]] for pure-ASCII input
  * (which folds code points); this one folds raw UTF-8 bytes, the
  * canonical FNV-1a definition.
  */
case class Fnv1a64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"fnv1a64 needs a string column, got ${child.dataType}")
  }

  override def nullSafeEval(input: Any): Any =
    hashOf(input.asInstanceOf[UTF8String])

  /** Per-row kernel, shared by interpreted eval and generated code. */
  def hashOf(s: UTF8String): Long = Fnv1a64Expr.hash(s.getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("fnv1a64", this, classOf[Fnv1a64Expr].getName)
      s"${ev.value} = $ref.hashOf($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): Fnv1a64Expr =
    copy(child = newChild)
}

object Fnv1a64Expr {
  final val Offset = -3750763034362895579L // 0xcbf29ce484222325
  final val Prime = 1099511628211L

  def hash(bytes: Array[Byte]): Long = {
    var h = Offset
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xffL)) * Prime
      i += 1
    }
    h
  }

  /** Column API: `fnv1a64(col)`. */
  def apply(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      Fnv1a64Expr(org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))
}
