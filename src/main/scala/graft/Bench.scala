package graft

/** Per-round benchmark: runs every declared query at the given SF and
  * prints one JSON line. Queries materialize through the `noop` sink —
  * a full computation of every output column (a bare `count()` lets
  * Catalyst prune unreferenced projections and under-measures
  * expression-heavy queries). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(defaultCpus = 4)
    // warm-up outside the timings: session init, parquet footers, first
    // codegen — otherwise the alphabetically-first query absorbs it all
    Tables(spark, sfDir, "region").write.format("noop").mode("overwrite").save()
    Tables(spark, sfDir, "lineitem").limit(1000)
      .write.format("noop").mode("overwrite").save()
    // a failed query records the sentinel -1, NOT its time-to-failure —
    // otherwise a regression that breaks a query reads as a speedup
    // SPARK_GRAFT_ONLY=q1,q2 restricts the pass to named queries — an
    // A/B or regression-triage dial (host throttle windows last minutes
    // and hit alphabetical blocks; interleaved single-query passes are
    // the only honest cross-build comparison)
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def timeQueries(): Seq[(String, Double)] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }
    // throttle-hardening, opt-in via SPARK_GRAFT_RUNS=N: host CPU-steal
    // windows last minutes and hit different queries in different runs
    // (round 9: one-shot totals 4.5× apart on identical code). The
    // compute is deterministic, so per-query MIN over N full passes is
    // the least-throttled sample; the median records the session's
    // noise level. Pass 1 is the honest one-shot (cold catalog); later
    // passes start from cleared caches but a warm catalog.
    // tolerant parse: a malformed value (stray space, "three") must
    // degrade to one run, not abort the whole bench before any query
    val runs = math.max(1, scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_RUNS", "1").trim.toInt).getOrElse(1))
    val passes = (1 to runs).map { i =>
      if (i > 1) { spark.sharedState.cacheManager.clearCache(); System.gc() }
      timeQueries()
    }
    def agg(pick: Seq[Double] => Double): Seq[(String, Double)] =
      passes.head.map(_._1).map { name =>
        val ok = passes.map(_.toMap.apply(name)).filter(_ >= 0)
        name -> (if (ok.isEmpty) -1.0 else pick(ok))
      }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s((s.length - 1) / 2)
    }
    val results = agg(_.min)
    def jmap(rs: Seq[(String, Double)]): String = rs
      .map { case (k, v) =>
        "\"" + k + "\":" + "%.3f".formatLocal(java.util.Locale.ROOT, v) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(results)},"failed":$failed,"sf":"$sfDir"}"""
    println(line)
    // the stdout tail the driver captures can truncate mid-JSON on a
    // large inventory — persist the full sorted vector as a file too,
    // with the median vector and run count so a reader can tell a
    // committed min-of-N from a single noisy sample
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_QUERIES.json"),
      line.stripSuffix("}") +
        s""","runs":$runs,"median":${jmap(agg(median))}}""" + "\n")
    // …and a SECOND, steady-state pass: the one-shot vector keeps
    // producing false regressions from first-run planning/catalog
    // state (t5/t6 in round 7, o2/st1 in round 3 — each re-adjudicated
    // by hand); a committed steady vector lets the per-round diff
    // separate plan changes from planning noise mechanically.
    // Skippable for quick local loops via SPARK_GRAFT_STEADY=0.
    if (sys.env.getOrElse("SPARK_GRAFT_STEADY", "1") != "0") {
      // the first pass leaks cached blocks by design (per-query engines
      // persist hot tails that die with their owners) — drop them, or
      // pass 2 measures GC pressure instead of steady-state plans
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      // only queries whose one-shot cost is large enough to ever be
      // flagged re-run: a sub-half-second query cannot regress by more
      // than noise, and skipping the tail keeps the driver's bench
      // wall bounded (it enters this vector the round it grows)
      val oneShot = results.toMap
      val steadyNames = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => oneShot.getOrElse(name, 0.0) >= 0.5 }
      def timeSteady(): Seq[(String, Double)] = steadyNames
        .map { case (name, fn) =>
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
            catch { case _: Throwable => false }
          name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
        }
      // min-of-N here too — the steady vector arbitrates throttle, so
      // it must not itself be a single throttle sample
      val spasses = (1 to runs).map { i =>
        if (i > 1) { spark.sharedState.cacheManager.clearCache(); System.gc() }
        timeSteady()
      }
      val steady = steadyNames.map(_._1).map { name =>
        val ok = spasses.map(_.toMap.apply(name)).filter(_ >= 0)
        name -> (if (ok.isEmpty) -1.0 else ok.min)
      }
      val stotal = steady.map(_._2).filter(_ >= 0).sum
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_STEADY.json"),
        s"""{"metric":"steady_total","value":$stotal,"unit":"sec","queries":${jmap(steady)},"runs":$runs,"sf":"$sfDir"}""" + "\n")
    }
    spark.stop()
    // the driver tails ~2 KB of sbt stdout for the JSON line; at 131
    // queries the full per-query vector is ~4.6 KB and can never fit
    // that tail no matter where it sits (BENCH_r9/r10/r11 all
    // "parsed: null"). The LAST line is therefore a COMPACT summary —
    // total/failed/sf/runs only, a few hundred bytes — emitted after
    // spark.stop() so no executor shutdown logging lands behind it,
    // mirrored on stderr as a second channel. The full sorted
    // per-query vector lives in BENCH_QUERIES.json (written above).
    // When the full line FITS the tail (an SPARK_GRAFT_ONLY A/B run, a
    // small inventory), emit it — the driver contract wants the inline
    // queries map and can have it whenever physics allows. The full
    // inventory (~6 KB at 169 queries) can never fit; those runs keep
    // the compact summary and the BENCH_QUERIES.json channel.
    val compact =
      if (line.length <= 1800) line.stripSuffix("}") +
        s""","runs":$runs,"queries_file":"BENCH_QUERIES.json"}"""
      else
        s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"sf":"$sfDir","runs":$runs,"queries_file":"BENCH_QUERIES.json"}"""
    System.out.flush()
    println(compact)
    System.err.println(compact)
    System.out.flush()
  }
}
