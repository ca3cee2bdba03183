package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The SQL function surface registered through SparkSessionExtensions. */
class ExtensionsSpec extends AnyFunSuite {

  /** Extensions only apply at session construction, so build a fresh
    * SparkSession over the shared SparkContext (clear + restore the
    * default so parallel suites keep theirs). */
  private lazy val spark: SparkSession = SparkTestSession.synchronized {
    val base = SparkTestSession.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder().withExtensions(new GraftExtensions)
      .getOrCreate()
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    s
  }

  test("custom expressions callable from plain SQL") {
    val fnv = spark.sql("SELECT graft_fnv64('a') AS h").collect()(0).getLong(0)
    assert(fnv == 0xaf63dc4c8601ec8cL)
    val norm = spark.sql("SELECT graft_normalize_text('  A  B ') AS n")
      .collect()(0).getString(0)
    assert(norm == "a b")
    val dot = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(dot == 11.0)
    val sh = spark.sql(
      "SELECT size(graft_shingle_hashes('one two three four', 3)) AS n")
      .collect()(0).getInt(0)
    assert(sh == 2)
    val sim = spark.sql(
      "SELECT graft_simhash64(graft_shingle_hashes('one two three four', 3)) AS v")
      .collect()(0).getLong(0)
    assert(sim != 0L)
    val wn = spark.sql(
      "SELECT size(graft_winnow('the quick brown fox jumps over it', 5, 4)) AS n")
      .collect()(0).getInt(0)
    assert(wn >= 1)
    val tf = spark.sql("SELECT graft_token_fnv64('A a') AS h")
      .collect()(0).getSeq[Long](0)
    assert(tf.length == 2 && tf(0) == tf(1)) // lowercased before hashing
    val sf = spark.sql(
      "SELECT size(graft_shingle_fnv('one two three four', 3)) AS n")
      .collect()(0).getInt(0)
    assert(sf == 2)
  }

  test("DESCRIBE FUNCTION EXTENDED shows the expression class and usage") {
    val rows = spark.sql("DESCRIBE FUNCTION EXTENDED graft_dot")
      .collect().map(_.getString(0)).toSeq
    assert(rows.contains("Class: graft.functions.DotProductExpr"), rows)
    assert(rows.contains("Usage: graft_dot(a, b) - dot product of two array<double>"),
      rows)
  }

  test("plain sessions do not see the injected functions") {
    val err = intercept[Exception] {
      SparkTestSession.spark.sql("SELECT graft_fnv64('a')").collect()
    }
    assert(err.getMessage.contains("graft_fnv64"))
  }
}
