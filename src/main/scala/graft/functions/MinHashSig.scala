package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** MinHash signature in one pass: for raw shingle hashes h (reduced
  * to pmod(h, p) first) and permutation coefficients (a_j, b_j),
  * sig_j = min_i (a_j·pmod(h_i) + b_j) mod p.
  *
  * The expression-DSL formulation (`numHashes` separate
  * `array_min(transform(...))` folds) materializes `numHashes`
  * intermediate arrays per document; this computes the whole signature
  * in a single j×i loop with one output allocation. Same arithmetic,
  * same coefficients → identical signatures. p is 2^31-1 so a·h+b
  * stays < 2^62 (ANSI-safe).
  */
case class MinHashSigExpr(child: Expression, coefsA: Seq[Long],
    coefsB: Seq[Long], p: Long) extends MatrixKernel {
  require(coefsA.length == coefsB.length && coefsA.nonEmpty)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def elementType: DataType = LongType

  private lazy val aArr = coefsA.toArray
  private lazy val bArr = coefsB.toArray

  override protected def shape: Seq[(String, Any)] =
    Seq("n" -> coefsA.length, "p" -> p)

  override def nullSafeEval(input: Any): Any =
    signature(input.asInstanceOf[ArrayData])

  /** Per-row kernel, shared by interpreted eval and generated code. */
  def signature(hs: ArrayData): ArrayData = {
    val a = aArr
    val b = bArr
    val n = hs.numElements()
    val out = new Array[Long](a.length)
    var j = 0
    while (j < a.length) {
      var best = p // sentinel: empty input → p (no shingle evidence)
      var i = 0
      while (i < n) {
        if (!hs.isNullAt(i)) {
          val hm = ((hs.getLong(i) % p) + p) % p // pmod of the raw hash
          val v = (a(j) * hm + b(j)) % p
          if (v < best) best = v
        }
        i += 1
      }
      out(j) = best
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genNullSafe(ctx, ev, "signature")

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

object MinHashSigExpr {
  def apply(c: Column, a: Seq[Long], b: Seq[Long], p: Long): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    column(MinHashSigExpr(expression(c), a, b, p))
  }
}
