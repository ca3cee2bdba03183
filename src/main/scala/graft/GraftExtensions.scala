package graft

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL surface for the engine's native expressions: register via
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `withExtensions(new GraftExtensions)`) and every custom expression
  * is a plain SQL function —
  *
  * {{{
  *   SELECT graft_fnv64(text), graft_simhash64(graft_shingle_hashes(text, 3))
  *   FROM docs WHERE graft_zint_decode64(price_z) > 100
  * }}}
  *
  * This is the idiomatic Spark extension point (the same mechanism a
  * catalog or optimizer rule would use); expressions registered here
  * participate in codegen exactly like built-ins.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // `usage` is what DESCRIBE FUNCTION shows (`_FUNC_` renders as the
    // function name); `cls` is the expression class it reports
    def fn(name: String, cls: Class[_], usage: String)(
        build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, null, name, usage, "", "", "", "",
          "", "", ""),
        build))
    def int(e: Expression): Int = e.eval().asInstanceOf[Int]

    fn("graft_fnv64", classOf[Fnv1a64Expr],
      "_FUNC_(str) - FNV-1a 64 of a string's UTF-8 bytes")(
      a => Fnv1a64Expr(a.head))
    fn("graft_simhash64", classOf[SimHash64Expr],
      "_FUNC_(hashes) - simhash of an array<bigint> of token hashes")(
      a => SimHash64Expr(a.head))
    fn("graft_dot", classOf[DotProductExpr],
      "_FUNC_(a, b) - dot product of two array<double>")(
      a => DotProductExpr(a(0), a(1)))
    fn("graft_shingle_hashes", classOf[ShingleHashesExpr],
      "_FUNC_(text, k) - distinct word-k-shingle xxhash64 values")(
      a => ShingleHashesExpr(a(0), int(a(1))))
    fn("graft_normalize_text", classOf[NormalizeTextExpr],
      "_FUNC_(text) - trim+lower+collapse-whitespace")(
      a => NormalizeTextExpr(a.head))
    fn("graft_winnow", classOf[WinnowExpr],
      "_FUNC_(text, k, window) - winnowing fingerprints")(
      a => WinnowExpr(a(0), int(a(1)), int(a(2))))
    fn("graft_token_fnv64", classOf[TokenFnv64Expr],
      "_FUNC_(text) - per-token FNV-1a 64 hashes (portable)")(
      a => TokenFnv64Expr(a.head))
    fn("graft_shingle_fnv", classOf[ShingleHashesExpr],
      "_FUNC_(text, k) - distinct word-k-shingle FNV-1a hashes (portable)")(
      a => ShingleHashesExpr(a(0), int(a(1)), fnv = true))
  }
}
