package graft
import org.apache.spark.scheduler._

/** Job-level profiler for a single declared query: counts every Spark
  * job the query fires (lifecycle drills run dozens of micro-commits,
  * each a separate job) and attributes wall time to them, so "is the
  * time in Spark jobs, job-count overhead, or driver-side sidecar fs
  * ops?" is answered by measurement, not guessing (optimization guide
  * §1: measure first).
  *
  * usage: runMain graft.JobProf <sfDir> <query>[,query...] [--run N]
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val runs = if (args.contains("--run")) args(args.indexOf("--run") + 1).toInt else 1
    val spark = Harness.session(defaultCpus = 32)
    // warm-up mirrors Bench: session init, parquet footers, first codegen
    Tables(spark, sfDir, "region").write.format("noop").mode("overwrite").save()

    @volatile var jobs = List.empty[(Int, Long, Long, String)] // id, t0, t1, desc
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(e.jobId, (e.time,
          Option(e.properties).map(_.getProperty("spark.job.description"))
            .flatMap(Option(_)).getOrElse("")))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(starts.remove(e.jobId)).foreach { case (t0, d) =>
          jobs synchronized { jobs = (e.jobId, t0, e.time, d) :: jobs }
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // ── poor-man's sampling profiler for the DRIVER thread running
    // the query: classifies where the between-jobs "gap" time goes
    // (Catalyst analysis/optimization, codegen, parquet footers,
    // sidecar fs ops, JSON, …). Enabled with SPARK_GRAFT_SAMPLE=1.
    val sampleOn = sys.env.getOrElse("SPARK_GRAFT_SAMPLE", "0") == "1"
    @volatile var sampleTarget: Thread = null
    val sampleCounts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    def classify(st: Array[StackTraceElement]): String = {
      val s = st.map(e => e.getClassName + "." + e.getMethodName)
      def has(p: String) = s.exists(_.contains(p))
      val head = s.take(3).mkString(";")
      if (head.contains("park") || head.contains("Object.wait") ||
        head.contains(".take") || head.contains(".poll") ||
        head.contains("Thread.sleep")) "blocked-waiting"
      else if (has("runJob") || has("awaitResult") || has("executeCollect") &&
        has("DAGScheduler")) "await-job"
      else if (has("janino") || has("CodeGenerator") || has("compile")) "codegen"
      else if (has("RuleExecutor") || has("Optimizer") || has("Analyzer")) "catalyst-opt"
      else if (has("QueryPlanningTracker") || has("QueryExecution")) "planning-other"
      else if (has("ParquetFileFormat") || has("ParquetFooterReader") ||
        has("InMemoryFileIndex") || has("DataSource")) "scan-setup"
      else if (has("RawLocalFileSystem") || has("ChecksumFileSystem") ||
        has("java.io.Unix") || has("java.nio.file")) "fs-ops"
      else if (has("jackson")) "json"
      else if (has("DAGScheduler") || has("submitJob") || has("runJob") ||
        has("awaitResult") || has("ThreadUtils")) "await-job"
      else if (has("graft.")) "graft-other"
      else if (st.head.getClassName.startsWith("java.lang.Object") ||
        has("park")) "waiting"
      else s.take(3).mkString(";")
    }
    val sampler = new Thread(() => {
      while (true) {
        val t = sampleTarget
        if (t != null) {
          val st = t.getStackTrace
          if (st.nonEmpty)
            sampleCounts.merge(classify(st), 1, (a, b) => a + b)
        }
        Thread.sleep(10)
      }
    })
    if (sampleOn) { sampler.setDaemon(true); sampler.start() }

    names.foreach { name =>
      (1 to runs).foreach { r =>
        jobs = Nil
        sampleCounts.clear()
        sampleTarget = Thread.currentThread()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        sampleTarget = null
        if (sampleOn) {
          import scala.jdk.CollectionConverters._
          val tot = sampleCounts.values.asScala.map(_.toInt).sum.max(1)
          println(s"  -- driver-thread samples ($tot):")
          sampleCounts.asScala.toSeq.sortBy(-_._2).take(12).foreach {
            case (k, v) => println(f"     ${v * 100.0 / tot}%5.1f%% $k")
          }
        }
        // listener bus is async; give it a moment to drain
        Thread.sleep(500)
        val js = jobs.sortBy(_._2)
        val jobWall = js.map(j => j._3 - j._2).sum / 1e3
        // busy wall = union of job intervals (jobs can overlap)
        val busy = {
          var t = 0L; var end = 0L
          js.foreach { case (_, s, e, _) =>
            if (s > end) { t += e - s; end = e }
            else if (e > end) { t += e - end; end = e }
          }
          t / 1e3
        }
        println(f"===== $name run $r: wall $wall%.2f s, jobs ${js.size}, " +
          f"job-time sum $jobWall%.2f s, job-covered wall $busy%.2f s, " +
          f"gaps (driver-side) ${wall - busy}%.2f s")
        val byDur = js.sortBy(j => -(j._3 - j._2)).take(15)
        byDur.foreach { case (id, s, e, d) =>
          println(f"  job $id%4d  ${(e - s) / 1e3}%7.3f s  ${d.take(90)}")
        }
        // histogram of job durations
        val buckets = Seq(0.05, 0.1, 0.2, 0.5, 1.0, 5.0, 1e9)
        val hist = js.groupBy { j =>
          val dsec = (j._3 - j._2) / 1e3
          buckets.indexWhere(dsec <= _)
        }.toSeq.sortBy(_._1)
        hist.foreach { case (b, g) =>
          val lbl = if (b == 0) "<=50ms" else s"<=${buckets(b)}s"
          println(f"  $lbl%8s: ${g.size}%4d jobs, ${g.map(j => j._3 - j._2).sum / 1e3}%7.2f s")
        }
      }
    }
    spark.stop()
  }
}
