package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-9 order-of-magnitude bench datapoint (VERDICT r8 item 6): the
  * growth laws (d5b blocking, d7/d9 CC rounds, DelScale, IncScale) are
  * measured on replicated state, but the full query vector itself had
  * only ever run on the real sf0.1 corpus (~600k lineitem rows). This
  * harness materializes an sf1-equivalent input set — G key-offset
  * copies of every FACT table (dims stay 1×, preserving the
  * broadcast-dim shape a real 10× scale-up keeps) — and the ordinary
  * [[Bench]] then runs against it via SPARK_GRAFT_SF_DIR.
  *
  * Replication choices that keep the workload honest at 10×:
  *  - per-replica key offsets keep the join graph intact (each replica
  *    joins within itself — the behavior of 10× more real entities);
  *  - document replicas suffix every token with the replica id: the
  *    within-replica shingle/minhash statistics (and so dup structure)
  *    are EXACTLY the original corpus's while replicas stay disjoint —
  *    10× corpus volume, not an artificial every-doc-×10 mega-cluster.
  *    (IncScale's insert-a-gap-token trick is wrong here: it turns
  *    trigram-level shingle sharing into bigram-level sharing, which
  *    inflated d2/d4 candidate pairs ~30× on the first sf1 run.);
  *  - event times/days are unchanged: day partitions grow 10× in rows,
  *    matching a venue with 10× the flow, not 10× the history (DelScale
  *    already measures the more-days axis).
  */
object SfScale {
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val g = if (args.length > 2) args(2).toInt else 10
    val spark = Harness.session(defaultCpus = 8)
    val off = 100000000L

    def reps(df: DataFrame, f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until g).map(i => f(df, i)).reduce(_ unionByName _)

    def shiftCols(df: DataFrame, i: Int, keys: String*): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(i * off)))

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[sfscale] $name written")
    }

    // dims stay 1× — a 10× business does not acquire 10× regions
    Seq("region", "nation").foreach(n => write(n, Tables(spark, srcDir, n)))
    write("customer", reps(Tables(spark, srcDir, "customer"),
      (d, i) => shiftCols(d, i, "c_custkey")))
    write("supplier", reps(Tables(spark, srcDir, "supplier"),
      (d, i) => shiftCols(d, i, "s_suppkey")))
    write("part", reps(Tables(spark, srcDir, "part"),
      (d, i) => shiftCols(d, i, "p_partkey")))
    write("orders", reps(Tables(spark, srcDir, "orders"),
      (d, i) => shiftCols(d, i, "o_orderkey", "o_custkey")))
    write("lineitem", reps(Tables(spark, srcDir, "lineitem"),
      (d, i) => shiftCols(d, i, "l_orderkey", "l_partkey", "l_suppkey")))
    write("events", reps(Tables(spark, srcDir, "events"),
      (d, i) => shiftCols(d, i, "user_id")))
    write("documents", reps(Tables(spark, srcDir, "documents"), (d, i) =>
      shiftCols(d, i, "doc_id").withColumn("text",
        if (i == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", s"$$1x$i"))))
    write("embeddings", reps(Tables(spark, srcDir, "embeddings"),
      (d, i) => shiftCols(d, i, "vec_id")))
    spark.stop()
  }
}
