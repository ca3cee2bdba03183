package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused IVF/PQ kernels. The expression-DSL formulations they replace
  * (`greatest`/`sort_array` over per-centroid structs of
  * `DotProductExpr(slice(v,…), array(lit…))`, and per-subspace
  * `element_at(array(lit…), code)` ADC chains) plant
  * nlist×dim / m×ksub×dsub Literal nodes in the plan: the x13/x15
  * encode+probe plans rendered at up to **6.3 MB** per AQE update, and
  * the generated methods blew janino's limits — whole-stage codegen
  * was DISABLED for exactly the stages PQ exists to make cheap, so
  * every row ran interpreted (round-20 baseline log:
  * "Whole-stage codegen disabled for plan … UnitCompiler.store").
  *
  * Each kernel carries its constant matrix as a constructor argument
  * and states its arithmetic once ([[MatrixKernel]]): one compact plan
  * node, stable generated source, and a tight primitive loop per row.
  *
  * Semantics are replicated bit-for-bit from the struct formulations,
  * including the edge ordering rules the oracles mirror:
  *  - scores compare like Spark struct fields:
  *    `Utils.nanSafeCompareDoubles` (NaN greatest, -0.0 == 0.0), a
  *    null score (null input vector, subspace slice length mismatch,
  *    null element) sorts below every non-null score;
  *  - ties (including the all-null case) resolve toward the LARGER
  *    cell/code id — the `greatest`-over-structs order.
  */
object PqKernels {
  /** Spark SQL's double ordering (the one struct comparisons codegen):
    * NaN equals NaN and sorts above everything; -0.0 == 0.0. Local
    * copy because Spark's util.Utils is private[spark]. */
  def nanSafeCompareDoubles(x: Double, y: Double): Int = {
    val xIsNan = java.lang.Double.isNaN(x)
    val yIsNan = java.lang.Double.isNaN(y)
    if ((xIsNan && yIsNan) || (x == y)) 0
    else if (xIsNan) 1
    else if (yIsNan) -1
    else if (x > y) 1 else -1
  }

  /** cmp > 0 iff (s1, id1) beats (s2, id2) in the greatest-over-structs
    * order; null score encoded as (hasS = false). */
  @inline private[functions] def beats(has1: Boolean, s1: Double, id1: Int,
      has2: Boolean, s2: Double, id2: Int): Boolean = {
    if (has1 != has2) has1 // non-null score beats null score
    else if (!has1) id1 > id2 // both null: larger id wins
    else {
      val c = nanSafeCompareDoubles(s1, s2)
      c > 0 || (c == 0 && id1 > id2)
    }
  }
}

/** Nearest-IVF-cell assignment: argmax_i (v·c_i − |c_i|²/2), ties to
  * the larger cell. `cents` is the nlist×dim matrix flattened row-major
  * with the −|c|²/2 offsets precomputed by the companion. Non-nullable:
  * the struct chain it replaces resolved every edge to a concrete cell
  * (all-null scores → largest cell id). */
case class IvfCellExpr(child: Expression, cents: Seq[Double],
    offs: Seq[Double], dim: Int) extends MatrixKernel {
  require(dim > 0 && cents.nonEmpty && cents.length % dim == 0 &&
    offs.length == cents.length / dim)

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  private lazy val cArr = cents.toArray
  private lazy val oArr = offs.toArray

  override protected def shape: Seq[(String, Any)] =
    Seq("dim" -> dim, "n" -> offs.length)

  override def eval(input: InternalRow): Any =
    cell(child.eval(input).asInstanceOf[ArrayData])

  /** Per-row kernel, shared by interpreted eval and generated code. */
  def cell(x: ArrayData): Int = {
    val n = oArr.length
    if (!MatrixKernel.isDense(x, dim)) n - 1
    else MatrixKernel.argmax(x, 0, cArr, oArr, 0, n, dim)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genTotal(ctx, ev, "cell")

  override protected def withNewChildInternal(newChild: Expression): IvfCellExpr =
    copy(child = newChild)
}

object IvfCellExpr {
  def apply(vec: Column, centroids: Array[Array[Double]]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    val dim = centroids.head.length
    require(centroids.forall(_.length == dim))
    column(IvfCellExpr(expression(vec.cast("array<double>")),
      centroids.flatMap(_.toSeq).toSeq,
      centroids.map(c => -c.map(x => x * x).sum / 2).toSeq, dim))
  }
}

/** The query's `nprobe` best IVF cells, score-descending (ties toward
  * the larger cell) — the fused form of
  * `slice(transform(sort_array(array(cellStructs…), desc), _.cell), 1, nprobe)`.
  * All-null scores (null/malformed vector) order cells id-descending,
  * exactly as the struct sort did. The per-row work is
  * O(nlist log nlist) on a handful of query rows. */
case class IvfTopCellsExpr(child: Expression, cents: Seq[Double],
    offs: Seq[Double], dim: Int, nprobe: Int) extends MatrixKernel {
  require(dim > 0 && cents.nonEmpty && cents.length % dim == 0 &&
    offs.length == cents.length / dim && nprobe > 0)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false

  private lazy val cArr = cents.toArray
  private lazy val oArr = offs.toArray

  override protected def shape: Seq[(String, Any)] =
    Seq("dim" -> dim, "n" -> offs.length, "nprobe" -> nprobe)

  override def eval(input: InternalRow): Any =
    topCells(child.eval(input).asInstanceOf[ArrayData])

  /** Per-row kernel, shared by interpreted eval and generated code. */
  def topCells(x: ArrayData): ArrayData = {
    val n = oArr.length
    val has = MatrixKernel.isDense(x, dim)
    val scores = new Array[Double](n)
    if (has) {
      var ci = 0
      while (ci < n) {
        scores(ci) = MatrixKernel.dotRow(x, 0, cArr, ci * dim, dim) + oArr(ci)
        ci += 1
      }
    }
    val ranked = Array.tabulate(n)(identity).sortWith { (a, b) =>
      PqKernels.beats(has, scores(a), a, has, scores(b), b)
    }
    UnsafeArrayData.fromPrimitiveArray(ranked.take(math.min(nprobe, n)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genTotal(ctx, ev, "topCells")

  override protected def withNewChildInternal(newChild: Expression): IvfTopCellsExpr =
    copy(child = newChild)
}

object IvfTopCellsExpr {
  def apply(vec: Column, centroids: Array[Array[Double]], nprobe: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    val dim = centroids.head.length
    require(centroids.forall(_.length == dim))
    column(IvfTopCellsExpr(expression(vec.cast("array<double>")),
      centroids.flatMap(_.toSeq).toSeq,
      centroids.map(c => -c.map(x => x * x).sum / 2).toSeq, dim, nprobe))
  }
}

/** PQ encode: the m nearest-codeword ids, one per contiguous subspace
  * slice — the fused form of
  * `array(greatest(codeStructs(slice(v,…), book)).code, …)`. Per
  * subspace, a null score set (slice out of range, short slice, null
  * element, null vector) resolves to the LARGEST code, exactly as the
  * struct chain did. `books` is m×ksub×dsub flattened; `offs` the
  * precomputed −|c|²/2 per (m, ksub). */
case class PqEncodeExpr(child: Expression, books: Seq[Double],
    offs: Seq[Double], m: Int, ksub: Int, dsub: Int)
    extends MatrixKernel {
  require(m > 0 && ksub > 0 && dsub > 0 &&
    books.length == m * ksub * dsub && offs.length == m * ksub)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false

  private lazy val bArr = books.toArray
  private lazy val oArr = offs.toArray

  override protected def shape: Seq[(String, Any)] =
    Seq("m" -> m, "ksub" -> ksub, "dsub" -> dsub)

  override def eval(input: InternalRow): Any =
    encode(child.eval(input).asInstanceOf[ArrayData])

  /** Per-row kernel, shared by interpreted eval and generated code. */
  def encode(x: ArrayData): ArrayData = {
    val out = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      val base = mi * dsub
      out(mi) =
        if (!MatrixKernel.hasSlice(x, base, dsub)) ksub - 1
        else MatrixKernel.argmax(x, base, bArr, oArr, mi * ksub, ksub, dsub)
      mi += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genTotal(ctx, ev, "encode")

  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

object PqEncodeExpr {
  def apply(vec: Column, books: Array[Array[Array[Double]]]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    val m = books.length
    val ksub = books.head.length
    val dsub = books.head.head.length
    require(books.forall(b => b.length == ksub && b.forall(_.length == dsub)))
    column(PqEncodeExpr(expression(vec.cast("array<double>")),
      books.flatMap(_.flatMap(_.toSeq)).toSeq,
      books.flatMap(_.map(c => -c.map(x => x * x).sum / 2)).toSeq,
      m, ksub, dsub))
  }
}

/** ADC: Σ_mi dt(mi)(codes(mi)), left-associated subspace 0 first —
  * the fused form of the `element_at(array(lit…), code+1)` sum. Null
  * in (null codes array, null element, short array, out-of-range
  * code) → null out, matching the chain's null propagation. */
case class PqAdcExpr(child: Expression, dt: Seq[Double], m: Int,
    ksub: Int) extends MatrixKernel {
  require(m > 0 && ksub > 0 && dt.length == m * ksub)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override protected def elementType: DataType = IntegerType

  private lazy val dArr = dt.toArray

  override protected def shape: Seq[(String, Any)] = Seq("m" -> m, "ksub" -> ksub)

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    if (hasCodes(x)) distance(x) else null
  }

  /** True iff the distance is non-null: at least m codes, the first m
    * non-null and in `[0, ksub)`. */
  def hasCodes(x: ArrayData): Boolean = {
    if (x.numElements() < m) return false
    var mi = 0
    while (mi < m) {
      if (x.isNullAt(mi)) return false
      val code = x.getInt(mi)
      if (code < 0 || code >= ksub) return false
      mi += 1
    }
    true
  }

  /** Per-row kernel, shared by interpreted eval and generated code;
    * callers check [[hasCodes]] first. */
  def distance(x: ArrayData): Double = {
    val d = dArr
    var s = 0.0
    var mi = 0
    while (mi < m) { s += d(mi * ksub + x.getInt(mi)); mi += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genChecked(ctx, ev, "hasCodes", "distance")

  override protected def withNewChildInternal(newChild: Expression): PqAdcExpr =
    copy(child = newChild)
}

object PqAdcExpr {
  def apply(codes: Column, dt: Array[Array[Double]]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    val m = dt.length
    val ksub = dt.head.length
    require(dt.forall(_.length == ksub))
    column(PqAdcExpr(expression(codes), dt.flatMap(_.toSeq).toSeq, m, ksub))
  }
}

/** Johnson–Lindenstrauss projection: out(j) = scale · Σ_i v(i)·P(j,i),
  * left-to-right per plane in [[DotProductExpr]] order — the fused
  * form of `array(DotProductExpr(v, array(lit…)) * scale, …)`, which
  * planted k×dim Literal nodes in the scan plan and evaluated k
  * separate expressions per row. A null vector, a length mismatch or
  * a null element yields a null array: the per-plane dots of the
  * replaced form were null in those cases, and this contract is pinned
  * by the interpreted-vs-generated kernel suite. */
case class RandomProjectExpr(child: Expression, planes: Seq[Double],
    dim: Int, scale: Double) extends MatrixKernel {
  require(dim > 0 && planes.nonEmpty && planes.length % dim == 0)

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  private lazy val pArr = planes.toArray

  override protected def shape: Seq[(String, Any)] =
    Seq("dim" -> dim, "n" -> planes.length / dim, "scale" -> scale)

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    if (projectable(x)) project(x) else null
  }

  /** True iff the projection is non-null: exactly dim non-null elements. */
  def projectable(x: ArrayData): Boolean = MatrixKernel.isDense(x, dim)

  /** Per-row kernel, shared by interpreted eval and generated code;
    * callers check [[projectable]] first. */
  def project(x: ArrayData): ArrayData = {
    val p = pArr
    val out = new Array[Double](p.length / dim)
    var j = 0
    while (j < out.length) {
      out(j) = MatrixKernel.dotRow(x, 0, p, j * dim, dim) * scale
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genChecked(ctx, ev, "projectable", "project")

  override protected def withNewChildInternal(newChild: Expression): RandomProjectExpr =
    copy(child = newChild)
}

object RandomProjectExpr {
  def apply(vec: Column, planes: Seq[Array[Double]], scale: Double): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    val dim = planes.head.length
    require(planes.forall(_.length == dim))
    column(RandomProjectExpr(expression(vec.cast("array<double>")),
      planes.flatMap(_.toSeq).toSeq, dim, scale))
  }
}
