package graft

import graft.functions.{Fnv1a64Expr, NormalizeTextExpr, ShingleHashesExpr, TextStatsExpr, TokenFnv64Expr, WinnowExpr}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck properties for the byte-level text kernels that back the
  * cross-engine oracles — each fused kernel is compared against an
  * independent plain-Scala reference over random strings (whitespace
  * runs, punctuation, unicode, empties included). These are the
  * invariants the DuckDB oracle SQL relies on. */
object KernelProperties extends Properties("graft.kernels") {

  private val wsChars = Seq(' ', '\t', '\n', '', '\f', '\r')
  private val tokenChar = Gen.frequency(
    8 -> Gen.alphaNumChar,
    2 -> Gen.oneOf("!,.;:?()[]{}@#$%^&*-_=+".toSeq),
    1 -> Gen.oneOf("日本語中文éüñ".toSeq))
  private val token = Gen.nonEmptyListOf(tokenChar).map(_.mkString)
  private val ws = Gen.nonEmptyListOf(Gen.oneOf(wsChars)).map(_.mkString)
  private[graft] val textGen: Gen[String] = for {
    n <- Gen.choose(0, 12)
    toks <- Gen.listOfN(n, token)
    seps <- Gen.listOfN(n + 1, Gen.oneOf(ws, Gen.const("")))
  } yield seps.zipAll(toks.map(Some(_)), "", None)
    .flatMap { case (s, t) => s +: t.toSeq }.mkString

  private def isWs(c: Char) = wsChars.contains(c)
  private def tokensOf(s: String): Seq[String] =
    s.split(Array(' ', '\t', '\n', '', '\f', '\r')).filter(_.nonEmpty).toSeq

  private def fnvOf(s: String): Long =
    Fnv1a64Expr.hash(s.getBytes("UTF-8"))

  private def utf8(s: String) = UTF8String.fromString(s)

  property("TokenFnv64 == fnv of each lowercased token") =
    forAll(textGen) { s =>
      val got = TokenFnv64Expr(Literal(utf8(s))).compute(utf8(s))
        .toLongArray().toSeq
      val want = tokensOf(utf8(s).toLowerCase.toString).map(fnvOf)
      got == want
    }

  property("ShingleHashes.fnv == distinct fnv of space-joined k-grams") =
    forAll(textGen, Gen.choose(1, 4)) { (s, k) =>
      val got = ShingleHashesExpr(Literal(utf8(s)), k, fnv = true)
        .compute(utf8(s)).toLongArray().toSeq
      val toks = tokensOf(s)
      val grams =
        if (toks.length < k) Seq(toks.mkString(" "))
        else toks.sliding(k).map(_.mkString(" ")).toSeq
      got == grams.map(fnvOf).distinct
    }

  property("NormalizeText == trim spaces, lower, collapse ws runs") =
    forAll(textGen) { s =>
      val got = NormalizeTextExpr(Literal(utf8(s))).compute(utf8(s)).toString
      val trimmed = utf8(s).trim.toLowerCase.toString
      val want = new StringBuilder
      var i = 0
      while (i < trimmed.length) {
        if (isWs(trimmed(i))) {
          want += ' '
          while (i < trimmed.length && isWs(trimmed(i))) i += 1
        } else { want += trimmed(i); i += 1 }
      }
      got == want.toString
    }

  property("Winnow minima == brute-force window minima set") =
    forAll(textGen, Gen.choose(2, 6), Gen.choose(1, 8)) { (s, k, w) =>
      val got = WinnowExpr(Literal(utf8(s)), k, w)
        .compute(utf8(s)).toLongArray().toSet
      val bytes = s.getBytes("UTF-8")
      val want =
        if (bytes.length < k) Set(Fnv1a64Expr.hash(bytes))
        else {
          val hs = (0 to bytes.length - k)
            .map(i => Fnv1a64Expr.hash(bytes.slice(i, i + k)))
          if (hs.length <= w) Set(hs.min)
          else hs.sliding(w).map(_.min).toSet
        }
      got == want
    }

  property("TextStats counts match independent recomputation") =
    forAll(textGen) { s =>
      val row = TextStatsExpr(Literal(utf8(s)), Seq("the", "of", "a"))
        .compute(utf8(s))
      val toks = tokensOf(s)
      val lowered = utf8(s).toLowerCase.toString
      val lToks = tokensOf(lowered)
      val punct = s.count(c => c < 128 &&
        "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~".contains(c))
      row.getInt(0) == toks.length &&
        row.getLong(1) == toks.map(t => t.codePointCount(0, t.length).toLong).sum &&
        row.getInt(2) == s.codePointCount(0, s.length) &&
        row.getInt(3) == punct &&
        row.getInt(4) == lToks.length &&
        row.getInt(5) == lToks.count(Seq("the", "of", "a").contains)
    }
}
