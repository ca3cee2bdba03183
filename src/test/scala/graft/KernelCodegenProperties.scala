package graft

import graft.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

/** Interpreted vs generated evaluation of every codegen'd expression in
  * `graft.functions`: `expr.eval(row)` (the path Spark falls back to
  * when codegen fails) against a `GenerateUnsafeProjection` of the same
  * expression, compared bit for bit (doubles by raw long bits, so NaN
  * payloads and −0.0 count). Inputs include null arrays, null elements,
  * NaN, −0.0, wrong-length vectors and out-of-range PQ codes. Each row
  * is also evaluated as an UnsafeRow, the form a shuffle or join hands
  * the kernels, and must give the same result there. */
object KernelCodegenProperties extends Properties("graft.kernels.codegen") {

  private val vecType = ArrayType(DoubleType, containsNull = true)
  private val longsType = ArrayType(LongType, containsNull = true)
  private val intsType = ArrayType(IntegerType, containsNull = true)

  private def in(i: Int, t: DataType) = BoundReference(i, t, nullable = true)

  /** A comparable form of a kernel result: doubles as raw bits, arrays
    * and structs element-wise, strings as bytes. */
  private def canon(v: Any, t: DataType): Any = (v, t) match {
    case (null, _) => null
    case (d: Double, DoubleType) => java.lang.Double.doubleToRawLongBits(d)
    case (a: ArrayData, ArrayType(et, _)) =>
      (0 until a.numElements()).map(i =>
        if (a.isNullAt(i)) null else canon(a.get(i, et), et))
    case (r: InternalRow, st: StructType) =>
      st.fields.indices.map(i =>
        if (r.isNullAt(i)) null else canon(r.get(i, st(i).dataType), st(i).dataType))
    case (s: UTF8String, StringType) => s.getBytes.toSeq
    case (x, _) => x
  }

  /** The interpreted and the generated result of `expr` on `values`,
    * on a generic row and on its UnsafeRow form: all four bitwise equal. */
  private def agree(expr: Expression, values: Any*): Prop = {
    val generic = new GenericInternalRow(values.toArray)
    val inputs = expr.collect { case b: BoundReference => b }.distinct.sortBy(_.ordinal)
    val unsafe = UnsafeProjection.create(inputs)(generic)
    val gen = GenerateUnsafeProjection.generate(Seq(expr))
    val t = expr.dataType
    val results = Seq(generic, unsafe).flatMap { row =>
      val out = gen(row)
      val form = row.getClass.getSimpleName
      Seq(s"$form interpreted" -> canon(expr.eval(row), t),
        s"$form generated" -> (if (out.isNullAt(0)) null else canon(out.get(0, t), t)))
    }
    (results.map(_._2).distinct.size == 1) :| results.mkString("; ")
  }

  /** Array kernels build one primitive array wrapped by
    * `UnsafeArrayData.fromPrimitiveArray` on both paths. */
  private def unsafeOut(expr: Expression, values: Any*): Prop = {
    val v = expr.eval(new GenericInternalRow(values.toArray))
    (v == null || v.isInstanceOf[UnsafeArrayData]) :| s"interpreted result $v"
  }

  // ---- generators ----------------------------------------------------

  private val double: Gen[Double] = Gen.frequency(
    12 -> Gen.choose(-4.0, 4.0),
    1 -> Gen.const(Double.NaN),
    1 -> Gen.const(-0.0),
    1 -> Gen.const(0.0))

  /** A nullable array: null, or `len` elements each null now and then. */
  private def arrayOf[T](len: Gen[Int], elem: Gen[T]): Gen[ArrayData] =
    Gen.frequency(
      1 -> Gen.const(null),
      9 -> len.flatMap(n => Gen.listOfN(n, Gen.frequency(
        12 -> elem.map(x => x: Any), 1 -> Gen.const(null))))
        .map(xs => new GenericArrayData(xs.toArray)))

  /** Mostly `dim` elements, sometimes a wrong length. */
  private def vec(dim: Int): Gen[ArrayData] =
    arrayOf(Gen.frequency(6 -> Gen.const(dim), 1 -> Gen.choose(0, dim + 2)), double)

  private val longs: Gen[ArrayData] =
    arrayOf(Gen.choose(0, 12), Gen.frequency(
      4 -> Gen.choose(Long.MinValue, Long.MaxValue), 1 -> Gen.choose(-3L, 3L)))

  private val text: Gen[UTF8String] = Gen.frequency(
    1 -> Gen.const(null),
    9 -> KernelProperties.textGen.map(UTF8String.fromString))

  private def matrix(rows: Int, cols: Int): Gen[Seq[Double]] =
    Gen.listOfN(rows * cols, double)

  /** (dim, rows) of a small constant matrix. */
  private val shape = for { d <- Gen.choose(1, 6); n <- Gen.choose(1, 6) } yield (d, n)

  // ---- the nine kernels with a Scala arithmetic method ----------------

  property("DotProduct") = forAll(Gen.choose(1, 6)) { d =>
    forAll(vec(d), vec(d)) { (a, b) =>
      agree(DotProductExpr(in(0, vecType), in(1, vecType)), a, b)
    }
  }

  property("Fnv1a64") = forAll(text) { s =>
    agree(Fnv1a64Expr(in(0, StringType)), s)
  }

  property("SimHash64") = forAll(longs) { a =>
    agree(SimHash64Expr(in(0, longsType)), a)
  }

  property("MinHashSig") = forAll(Gen.choose(1, 8)) { k =>
    val p = Int.MaxValue.toLong
    forAll(Gen.listOfN(k, Gen.choose(1L, p - 1)), Gen.listOfN(k, Gen.choose(0L, p - 1)),
        longs) { (a, b, hs) =>
      val e = MinHashSigExpr(in(0, longsType), a, b, p)
      agree(e, hs) && unsafeOut(e, hs)
    }
  }

  property("HyperplaneSig") = forAll(shape) { case (d, n) =>
    forAll(matrix(n, d), vec(d)) { (planes, v) =>
      agree(HyperplaneSigExpr(in(0, vecType), planes, d), v)
    }
  }

  property("IvfCell") = forAll(shape) { case (d, n) =>
    forAll(matrix(n, d), matrix(n, 1), vec(d)) { (cents, offs, v) =>
      agree(IvfCellExpr(in(0, vecType), cents, offs, d), v)
    }
  }

  property("IvfTopCells") = forAll(shape, Gen.choose(1, 8)) { case ((d, n), nprobe) =>
    forAll(matrix(n, d), matrix(n, 1), vec(d)) { (cents, offs, v) =>
      val e = IvfTopCellsExpr(in(0, vecType), cents, offs, d, nprobe)
      agree(e, v) && unsafeOut(e, v)
    }
  }

  property("PqEncode") = forAll(Gen.choose(1, 4), Gen.choose(1, 5), Gen.choose(1, 4)) {
    (m, ksub, dsub) =>
      forAll(matrix(m * ksub, dsub), matrix(m * ksub, 1), vec(m * dsub)) { (books, offs, v) =>
        val e = PqEncodeExpr(in(0, vecType), books, offs, m, ksub, dsub)
        agree(e, v) && unsafeOut(e, v)
      }
  }

  property("PqAdc") = forAll(Gen.choose(1, 4), Gen.choose(1, 5)) { (m, ksub) =>
    val codes = arrayOf(Gen.frequency(6 -> Gen.const(m), 1 -> Gen.choose(0, m + 2)),
      Gen.frequency(8 -> Gen.choose(0, ksub - 1), 1 -> Gen.choose(-2, ksub + 1)))
    forAll(matrix(m, ksub), codes) { (dt, c) =>
      agree(PqAdcExpr(in(0, intsType), dt, m, ksub), c)
    }
  }

  property("RandomProject") = forAll(shape, double) { case ((d, n), scale) =>
    forAll(matrix(n, d), vec(d)) { (planes, v) =>
      val e = RandomProjectExpr(in(0, vecType), planes, d, scale)
      agree(e, v) && unsafeOut(e, v)
    }
  }

  // RandomProjectExpr's input contract: a null, null-element or
  // wrong-length embedding yields a null array on both paths
  private val jl = RandomProjectExpr(in(0, vecType), Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0),
    dim = 3, scale = 0.5)
  private def isNullOnBothPaths(v: ArrayData): Prop = {
    val row = new GenericInternalRow(Array[Any](v))
    agree(jl, v) && (jl.eval(row) == null) :| "interpreted not null" &&
      GenerateUnsafeProjection.generate(Seq(jl))(row).isNullAt(0) :| "generated not null"
  }

  property("RandomProject contract: null embedding -> null array") =
    isNullOnBothPaths(null)

  property("RandomProject contract: null element -> null array") =
    isNullOnBothPaths(new GenericArrayData(Array[Any](1.0, null, 3.0)))

  property("RandomProject contract: wrong length -> null array") =
    isNullOnBothPaths(new GenericArrayData(Array[Any](1.0, 2.0))) &&
      isNullOnBothPaths(new GenericArrayData(Array[Any](1.0, 2.0, 3.0, 4.0)))

  property("RandomProject contract: dense embedding -> k projections") = {
    val v = new GenericArrayData(Array[Any](1.0, -0.0, 2.0))
    val out = jl.eval(new GenericInternalRow(Array[Any](v))).asInstanceOf[ArrayData]
    agree(jl, v) && (out.toDoubleArray().toSeq == Seq(3.5, 8.0)) :| s"got $out"
  }

  // ---- the seven kernels whose generated code already called Scala ----

  property("NormalizeText") = forAll(text) { s =>
    agree(NormalizeTextExpr(in(0, StringType)), s)
  }

  property("ShingleHashes (xxhash and fnv)") = forAll(text, Gen.choose(1, 4)) { (s, k) =>
    agree(ShingleHashesExpr(in(0, StringType), k), s) &&
      agree(ShingleHashesExpr(in(0, StringType), k, fnv = true), s)
  }

  property("StopwordHits") = forAll(text) { s =>
    agree(StopwordHitsExpr(in(0, StringType), Seq(Seq("the", "a"), Seq("of", "x"))), s)
  }

  property("TextStats") = forAll(text) { s =>
    agree(TextStatsExpr(in(0, StringType), Seq("the", "of", "a")), s)
  }

  property("TokenFnv64") = forAll(text) { s =>
    agree(TokenFnv64Expr(in(0, StringType)), s)
  }

  property("Winnow") = forAll(text, Gen.choose(2, 5), Gen.choose(1, 6)) { (s, k, w) =>
    agree(WinnowExpr(in(0, StringType), k, w), s)
  }
}
