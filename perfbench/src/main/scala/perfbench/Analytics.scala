package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `analytics`: kernel- and operator-heavy declared queries, each run
  * into the `noop` sink. `functions` kernels, codegen and shuffles do
  * the work; none of these queries touches the store commit path.
  *
  * After the timed passes, an untimed check pass runs every query once
  * more in the same session and writes its result as parquet under
  * `check/<query>`; run.py compares those results with the DuckDB
  * oracle, so an answer that goes wrong only when a query runs again
  * (cached plans, broadcasts, codegen or kernel state) fails the run. */
final class Analytics(spark: SparkSession, conf: Main.Conf) extends Workload(spark, conf) {
  val queries: Seq[String] = Seq(
    "d2_minhash_lsh", "d3_simhash", "d5b_cosine_dup_blocked", "d6_winnow_pairs",
    "d9_semantic_dedup", "x2_ann_lsh", "x3_ann_ivf", "x11_random_projection",
    "x12_pq_adc", "x13_ivfpq", "tx2_text_quality", "a1_rollup_ohlc",
    "j2_asof_join", "j4_range_join", "w4_trend", "w5_corr", "hh1_heavy_hitters")
  lazy val fns = queries.map(q => q -> graft.SparkEntry.queries(q))

  /** The warm and check passes run the queries on `threads` client
    * threads: compiling every plan cold is mostly single-threaded driver
    * work, and the queries share no session state. */
  val threads = 3

  /** Runs every query once, `threads` at a time; returns the ones that
    * failed. */
  private def runAll(run: (String, (SparkSession, String) => DataFrame) => Unit): Seq[String] = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    (0 until threads).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < fns.size) {
          val (q, fn) = fns(i)
          try run(q, fn) catch {
            case e: Throwable =>
              System.err.println(s"[perfbench] $q failed: $e")
              failed.add(q)
          }
          i = next.getAndIncrement()
        }
      })
      t.start(); t
    }.foreach(_.join())
    failed.toArray.map(_.toString).toSeq
  }

  private var warmFailed = Seq.empty[String]

  def setup(): Unit =
    warmFailed = runAll((_, fn) => fn(spark, conf.data).write.format("noop").mode("overwrite").save())

  def timed(deadlineNs: Long): Unit =
    do {
      val t0 = System.nanoTime()
      fns.foreach { case (q, fn) =>
        timeOp(q) {
          val df = Trace.span("api.build")(fn(spark, conf.data))
          Trace.span("exec.run")(df.write.format("noop").mode("overwrite").save())
        }
      }
      passes.add((System.nanoTime() - t0) / 1e9)
    } while (System.nanoTime() < deadlineNs)

  def primary(op: Op): Boolean = true

  def finish(): Unit = {
    val all = ops.toArray.map(_.asInstanceOf[Op]).toSeq.filter(_.ok)
    queries.foreach { q =>
      val xs = all.filter(_.kind == q).map(_.ms / 1e3)
      if (xs.nonEmpty) detail(s"ops.${q}_s") = Stats.median(xs)
    }
    val checkFailed = runAll((q, fn) =>
      fn(spark, conf.data).write.mode("overwrite").parquet(s"${conf.run}/check/$q"))
    check ++= Map("kind" -> "analytics", "queries" -> queries,
      "failed" -> (warmFailed ++ checkFailed).distinct,
      "oracle_sql" -> graft.SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) })
  }

  /** Rows per second of each kernel registered in GraftExtensions, on
    * inputs cached in memory so the kernel is most of the work. */
  override def layerDetail(traced: Seq[Op], spans: Seq[Span],
      jobs: Seq[Trace.Job]): Map[String, Any] = {
    graft.Tables(spark, conf.data, "documents").select("text").cache()
      .createOrReplaceTempView("perfbench_docs")
    graft.Tables(spark, conf.data, "embeddings")
      .select(col("embedding").cast("array<double>").as("v")).cache()
      .createOrReplaceTempView("perfbench_vecs")
    val kernels = Seq(
      "graft_simhash64" -> "graft_simhash64(graft_token_fnv64(text)) FROM perfbench_docs",
      "graft_dot" -> "graft_dot(v, v) FROM perfbench_vecs",
      "graft_shingle_hashes" -> "graft_shingle_hashes(text, 3) FROM perfbench_docs",
      "graft_winnow" -> "graft_winnow(text, 5, 4) FROM perfbench_docs",
      "graft_token_fnv64" -> "graft_token_fnv64(text) FROM perfbench_docs",
      "graft_normalize_text" -> "graft_normalize_text(text) FROM perfbench_docs")
    val docs = spark.table("perfbench_docs").count()
    val vecs = spark.table("perfbench_vecs").count()
    kernels.map { case (name, sql) =>
      val n = if (sql.contains("vecs")) vecs else docs
      val best = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.sql(s"SELECT $sql").write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      s"functions.${name}_rows_per_s" -> n / best
    }.toMap ++ jobsPerKind(spans, jobs).map { case (q, j) => s"ops.${q}_jobs" -> j }
  }
}
