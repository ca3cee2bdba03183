package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.unsafe.bitset.BitSetMethods

/** Base of the kernels that carry a constant matrix (LSH planes, IVF
  * centroids, PQ codebooks, ADC tables, JL planes) as a constructor
  * argument instead of thousands of literal nodes.
  *
  * Each kernel states its arithmetic once, as Scala methods on the
  * expression. Interpreted `eval` calls them directly; generated code
  * calls the same methods through a reference to this expression
  * (`addReferenceObj`), so the two paths cannot disagree and Spark's
  * codegen fallback runs the code the oracle gate checks. Plans render
  * the matrix's shape, not its values: `hyperplanesigexpr(emb#3,
  * dim=64, n=56)`. Equality (and so `semanticEquals`) still compares
  * the matrices.
  */
abstract class MatrixKernel extends UnaryExpression {

  /** Shape fields shown in plan strings, e.g. `Seq("dim" -> 64, "n" -> 56)`. */
  protected def shape: Seq[(String, Any)]

  /** Element type of the input array column. */
  protected def elementType: DataType = DoubleType

  override protected def stringArgs: Iterator[Any] =
    Iterator(child) ++ shape.iterator.map { case (k, v) => s"$k=$v" }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(t, _) if t == elementType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<${elementType.simpleString}>, got $t")
  }

  private def self(ctx: CodegenContext): String =
    ctx.addReferenceObj(nodeName, this, getClass.getName)

  /** Generated code for a kernel defined on every input, the null
    * vector included: `value = self.method(vectorOrNull)`. */
  protected def genTotal(ctx: CodegenContext, ev: ExprCode,
      method: String): ExprCode = {
    import Block._
    val ref = self(ctx)
    val c = child.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code = c.code +
      code"""
         |${CodeGenerator.javaType(dataType)} ${ev.value} =
         |  $ref.$method(${c.isNull} ? null : ${c.value});
       """.stripMargin)
  }

  /** Generated code for a kernel that maps only a null vector to
    * null: `value = self.method(vector)`. */
  protected def genNullSafe(ctx: CodegenContext, ev: ExprCode,
      method: String): ExprCode = {
    val ref = self(ctx)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.$method($x);")
  }

  /** Generated code for a nullable kernel: null for a null vector or
    * when the primitive `self.check(vector)` is false, else
    * `self.method(vector)`. */
  protected def genChecked(ctx: CodegenContext, ev: ExprCode,
      check: String, method: String): ExprCode = {
    val ref = self(ctx)
    nullSafeCodeGen(ctx, ev, x =>
      s"""
         |${ev.isNull} = !$ref.$check($x);
         |if (!${ev.isNull}) ${ev.value} = $ref.$method($x);
       """.stripMargin)
  }
}

object MatrixKernel {

  /** True iff `x` is non-null, holds `[from, from + len)` and has no
    * null element there. */
  def hasSlice(x: ArrayData, from: Int, len: Int): Boolean = {
    if (x == null || from + len > x.numElements()) return false
    x match {
      // a whole UnsafeArrayData: test its null bitmap a word at a time
      // (the writers zero the bits past numElements)
      case u: UnsafeArrayData if from == 0 && len == u.numElements() =>
        !BitSetMethods.anySet(u.getBaseObject, u.getBaseOffset + 8, (len + 63) / 64)
      case _ =>
        var i = from
        while (i < from + len) { if (x.isNullAt(i)) return false; i += 1 }
        true
    }
  }

  /** True iff `x` is a non-null vector of exactly `dim` non-null elements. */
  def isDense(x: ArrayData, dim: Int): Boolean =
    x != null && x.numElements() == dim && hasSlice(x, 0, dim)

  /** Σ_i x(xOff + i) · m(mOff + i), summed left to right (the
    * [[DotProductExpr]] order every oracle reproduces). */
  def dotRow(x: ArrayData, xOff: Int, m: Array[Double], mOff: Int,
      len: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < len) { s += x.getDouble(xOff + i) * m(mOff + i); i += 1 }
    s
  }

  /** argmax over rows r of `x[xOff, xOff + len) · m(r) + offs(r)` for
    * the `rows` matrix rows starting at `from`, as an id in
    * `[0, rows)`. Scores compare by
    * [[PqKernels.nanSafeCompareDoubles]] and ties go to the larger id,
    * the greatest-over-structs order. */
  def argmax(x: ArrayData, xOff: Int, m: Array[Double], offs: Array[Double],
      from: Int, rows: Int, len: Int): Int = {
    var best = 0
    var bestS = 0.0
    var r = 0
    while (r < rows) {
      val s = dotRow(x, xOff, m, (from + r) * len, len) + offs(from + r)
      if (r == 0 || PqKernels.nanSafeCompareDoubles(s, bestS) >= 0) {
        best = r; bestS = s
      }
      r += 1
    }
    best
  }
}
