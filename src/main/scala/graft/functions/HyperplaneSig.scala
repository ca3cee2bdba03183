package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Random-hyperplane LSH signature in one fused pass: bit j of the
  * result is set iff dot(vec, plane_j) >= 0.
  *
  * The expression-DSL formulation (`nPlanes` separate
  * `when(dot(vec, array(lit…)) >= 0, 1L<<j)` chains) plants
  * nPlanes × dim Literal nodes in the plan — at 56 planes × 64 dims
  * that is ~3.6k expression nodes PER OCCURRENCE, and the banded
  * self-join carries two occurrences: Catalyst walks them on every
  * analyze/optimize, and AQE's per-update plan render was measured at
  * 150–475 KB of string building per update (round-20 baseline log).
  * Here the matrix rides as a constructor constant ([[MatrixKernel]]),
  * so the plan holds ONE compact node and the generated source is
  * stable across stamps/rounds (janino cache hits).
  *
  * Arithmetic is bit-identical to the DSL chain it replaces:
  * per-plane left-to-right double summation (the [[DotProductExpr]]
  * order), `>= 0` on the primitive double, bit j contributes 1L<<j,
  * bits summed in plane order. The DSL chain's null semantics are
  * reproduced exactly: a null vector, a length mismatch, or any null
  * element made every per-plane dot null, and `when(null).otherwise(0)`
  * summed to 0 — so this expression is non-nullable and returns 0L in
  * all of those cases.
  */
case class HyperplaneSigExpr(child: Expression, planes: Seq[Double],
    dim: Int) extends MatrixKernel {
  require(dim > 0 && planes.nonEmpty && planes.length % dim == 0 &&
    planes.length / dim <= 63)

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  private lazy val flat = planes.toArray
  private lazy val nPlanes = planes.length / dim

  override protected def shape: Seq[(String, Any)] =
    Seq("dim" -> dim, "n" -> nPlanes)

  override def eval(input: InternalRow): Any =
    signature(child.eval(input).asInstanceOf[ArrayData])

  /** Per-row kernel, shared by interpreted eval and generated code;
    * 0 for a null, wrong-length or null-element vector. */
  def signature(x: ArrayData): Long = {
    if (!MatrixKernel.isDense(x, dim)) return 0L
    val p = flat
    val n = nPlanes
    var sig = 0L
    var j = 0
    while (j < n) {
      if (MatrixKernel.dotRow(x, 0, p, j * dim, dim) >= 0.0) sig += 1L << j
      j += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genTotal(ctx, ev, "signature")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSigExpr =
    copy(child = newChild)
}

object HyperplaneSigExpr {
  def apply(c: Column, planes: Seq[Array[Double]]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    val dim = planes.head.length
    require(planes.forall(_.length == dim))
    column(HyperplaneSigExpr(expression(c.cast("array<double>")),
      planes.flatMap(_.toSeq), dim))
  }
}
