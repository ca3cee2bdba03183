package graft

import graft.functions.{HyperplaneSigExpr, IvfCellExpr, PqEncodeExpr}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

/** The matrix kernels render their shape in plans, never their
  * constant matrices: AQE re-renders the plan string on every update,
  * and a 56×64 plane set would ride along each time. */
class KernelPlanSpec extends AnyFunSuite {

  private val emb = AttributeReference("emb", ArrayType(DoubleType))()
  // distinctive values, so a leaked matrix shows up in the string
  private def mat(n: Int, seed: Int) =
    Seq.tabulate(n)(i => 0.123456789 + i * 1e-9 + seed)

  private def compact(e: org.apache.spark.sql.catalyst.expressions.Expression,
      shape: String*): Unit =
    Seq(e.toString, e.treeString).foreach { s =>
      shape.foreach(f => assert(s.contains(f), s"$f missing from $s"))
      assert(!s.contains("0.12345"), s"matrix values in $s")
      assert(s.length < 300, s"${s.length} chars: $s")
    }

  test("56x64 hyperplane signature renders (child, dim=64, n=56)") {
    val e = HyperplaneSigExpr(emb, mat(56 * 64, 0), 64)
    compact(e, "dim=64", "n=56")
    assert(e.toString.contains(s"(${emb.toString}, dim=64, n=56)"), e.toString)
  }

  test("IVF cell and PQ encode render their dimensions only") {
    compact(IvfCellExpr(emb, mat(32 * 64, 0), mat(32, 0), 64), "dim=64", "n=32")
    compact(PqEncodeExpr(emb, mat(8 * 256 * 8, 0), mat(8 * 256, 0), 8, 256, 8),
      "m=8", "ksub=256", "dsub=8")
  }

  test("kernels with different matrices are not semantically equal") {
    val a = HyperplaneSigExpr(emb, mat(56 * 64, 0), 64)
    assert(a.semanticEquals(HyperplaneSigExpr(emb, mat(56 * 64, 0), 64)))
    assert(!a.semanticEquals(HyperplaneSigExpr(emb, mat(56 * 64, 1), 64)))
    assert(a.toString == HyperplaneSigExpr(emb, mat(56 * 64, 1), 64).toString)
    val c = IvfCellExpr(emb, mat(4 * 8, 0), mat(4, 0), 8)
    assert(!c.semanticEquals(IvfCellExpr(emb, mat(4 * 8, 1), mat(4, 0), 8)))
    assert(!c.semanticEquals(IvfCellExpr(emb, mat(4 * 8, 0), mat(4, 1), 8)))
  }
}
