package graft
import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of the harness mains (Bench, Verify,
  * Explain, JobProf, SfScale): local mode on `SPARK_GRAFT_CPUS` cores
  * (each main passes its own default), as many shuffle partitions,
  * UTC, no UI, the table-reading settings of [[Tables.configure]] and
  * WARN logging. */
object Harness {

  def session(defaultCpus: Int): SparkSession = {
    val n = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // AQE rebuilds the full plan string on every adaptive update (for
      // the UI plan description) even with the UI off; literal-heavy
      // plans make that real driver CPU. Cap it — 100k leaves the
      // in-query plan-assert strings (o4, u1, j4: a few KB) untouched
      // while bounding the MB-scale renders.
      .config("spark.sql.maxPlanStringLength", "100000")
      // The generated-class cache is a 100-entry LRU by default; this
      // inventory's plan diversity (169 queries, lifecycle drills with
      // per-stage shapes, iterative loops, streaming micro-batches)
      // thrashes it, so repeated shapes recompile instead of hitting
      // janino's cache. Scale-neutral: bounded by class count, not by
      // data or core count.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.configure(spark)
    spark
  }
}
