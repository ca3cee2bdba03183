package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg: comma-separated subset for fast local checks;
    // the driver always passes 2 args → full run
    val subset = if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Harness.session(defaultCpus = 4)
    // The FNV-based oracles (tx4, d3, d2, d6, mm2) fold code points via
    // ascii(s[i]) in DuckDB while the Spark kernels fold UTF-8 BYTES;
    // the two agree only for pure-ASCII text. Assert that precondition
    // loudly here instead of letting a non-ASCII document silently
    // desync every hash oracle.
    locally {
      import org.apache.spark.sql.functions.{col, length, octet_length}
      val nonAscii = Tables(spark, sfDir, "documents")
        .filter(octet_length(col("text")) =!= length(col("text"))).count()
      // LOUD warning, not a hard failure: a hard stop here would zero
      // every query's correctness row when only the FNV-hash oracles
      // (tx4, d3, d2, d6, mm2 — byte-fold vs ascii()-fold) can be
      // invalidated by non-ASCII text; those fail individually instead.
      if (nonAscii > 0)
        System.err.println(s"[verify] WARNING: $nonAscii documents contain " +
          "non-ASCII text — FNV hash oracles are NOT valid on this data")
    }
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => subset.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
