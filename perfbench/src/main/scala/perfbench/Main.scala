package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload against the engine's
  * public entry points (`graft.api.Engine` commands and
  * `graft.SparkEntry.queries`) and writes `result.json` into the run
  * directory; `perfbench/run.py` checks the outputs and prints the
  * result line.
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <runDir> <sf>
  */
object Main {
  final case class Conf(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, run: String, sf: Double)

  def main(a: Array[String]): Unit = {
    val conf = Conf(a(0), a(1).toLong, a(2).toDouble, a(3) == "1", a(4), a(5), a(6).toDouble)
    val spark = session(conf)
    try {
      val w: Workload = conf.workload match {
        case "serve" => new Serve(spark, conf)
        case "analytics" => new Analytics(spark, conf)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      val out = w.execute()
      Files.writeString(Paths.get(s"${conf.run}/result.json"), Json(out))
      if (conf.trace) Trace.write(s"${conf.run}/spans.jsonl")
    } finally spark.stop()
  }

  /** The session graft.Bench uses: local[nproc], shuffle partitions =
    * nproc, UTC, UI off, plan-string cap, widened codegen cache. Spark's
    * scratch space and warehouse stay inside the run directory. */
  def session(conf: Conf): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", "100000")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.warehouse.dir", s"${conf.run}/warehouse")
      .config("spark.local.dir", s"${conf.run}/spark-local")
    if (conf.trace) b
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      .config("spark.sql.extensions", "graft.GraftExtensions")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.configure(spark)
    if (conf.trace) {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
      require(fs.isInstanceOf[CountingLocalFileSystem],
        s"file:// resolves to ${fs.getClass.getName}, not the counting file system")
      Trace.install(spark)
    }
    spark
  }
}

/** Order statistics over one run's samples. */
object Stats {
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val r = q * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def gmean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case m: Map[_, _] => m.toSeq.map { case (k, x) => q(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Seq[_] => s.map(apply).mkString("[", ",", "]")
    case s: String => q(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case null => "null"
    case other => q(other.toString)
  }
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** One timed operation: what it was, how long it took, whether it
  * failed. */
final case class Op(kind: String, startNs: Long, endNs: Long, ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Shared frame of every workload.
  *
  *  1. `setup` — session start (already paid), inputs and store build,
  *     one untimed warm pass.
  *  2. the timed region — `passes` repeated until `seconds` have
  *     elapsed. A traced run measures two half-length regions, traced
  *     then untraced; the layer metrics come from the traced one and
  *     the tracing overhead from their pass times.
  *  3. `finish` — untimed output checks and workload metrics.
  */
abstract class Workload(val spark: SparkSession, val conf: Main.Conf) {
  val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
  val passes = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  val check = scala.collection.mutable.LinkedHashMap[String, Any]()
  val detail = scala.collection.mutable.LinkedHashMap[String, Any]()

  /** Builds the store and runs the warm pass once. */
  def setup(): Unit

  /** Runs timed work until `deadlineNs`; records ops and pass times. */
  def timed(deadlineNs: Long): Unit

  /** Output checks (into `check`) and workload metrics (into `detail`). */
  def finish(): Unit

  /** The operation kinds whose latencies make `op_gmean_ms`. */
  def primary(op: Op): Boolean

  /** `op_gmean_ms` from the successful primary operations. */
  def opGmean(main: Seq[Op]): Double = Stats.gmean(main.map(_.ms))

  /** How many passes the traced operations amount to; the per-layer
    * counts and times are per pass. */
  def passCount(traced: Seq[Op], passList: Seq[Double]): Double = passList.size

  protected def timeOp[T](kind: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val r = try Some(Trace.op(spark, kind)(body)) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $kind failed: $e")
        None
    }
    ops.add(Op(kind, t0, System.nanoTime(), r.isDefined))
    r
  }

  def execute(): Map[String, Any] = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    // one setup per run: it includes the JVM's cold start (class loading,
    // JIT, plan compilation), which a second setup in the same JVM would
    // not pay again; the spread over runs comes from the runs themselves
    val s0 = System.nanoTime()
    setup()
    val setupS = sessionS + (System.nanoTime() - s0) / 1e9
    ops.clear()
    detail("session_s") = sessionS

    val runNs = (conf.seconds * 1e9).toLong
    def region(): Seq[Double] = {
      passes.clear()
      timed(System.nanoTime() + runNs / 2)
      passes.toArray.map(_.asInstanceOf[Double]).toSeq
    }
    val layers =
      if (!conf.trace) { timed(System.nanoTime() + runNs); Map.empty[String, Any] }
      else {
        // traced, then untraced: the later region is the warmer one, so
        // the overhead ratio errs high rather than low
        val firstOp = ops.size
        val c0 = Trace.counters()
        val t0 = System.nanoTime()
        Trace.on = true
        val traced = region()
        Trace.on = false
        val t1 = System.nanoTime()
        val c1 = Trace.counters()
        val lastOp = ops.size
        val untraced = region()
        passes.clear(); traced.foreach(passes.add)
        layerMetrics(c0, c1, t0, t1, firstOp, lastOp) ++ Map("trace.overhead_ratio" ->
          Stats.median(traced) / Stats.median(untraced))
      }
    val all = ops.toArray.map(_.asInstanceOf[Op]).toSeq
    val main = all.filter(o => o.ok && primary(o))
    val passList = passes.toArray.map(_.asInstanceOf[Double]).toSeq
    finish()
    val failedOps = all.count(!_.ok)
    Map(
      "attempted" -> all.size,
      "failed_ops" -> failedOps,
      "end_to_end" -> Map(
        "setup_s" -> setupS,
        "pass_s" -> (if (passList.isEmpty) Double.NaN else Stats.median(passList)),
        "op_gmean_ms" -> opGmean(main)),
      "per_layer" -> layers,
      "detail" -> (detail.toMap ++ Map(
        "op_p50_ms" -> Stats.pct(main.map(_.ms), 0.5), "op_p90_ms" -> Stats.pct(main.map(_.ms), 0.9),
        "passes" -> passList.size, "ops" -> all.size,
        "fail_ratio" -> failedOps.toDouble / math.max(all.size, 1))),
      "check" -> check.toMap)
  }

  /** Per-layer metrics over the traced half of the timed region; counts
    * and times summed over it are divided by its number of passes. */
  private def layerMetrics(c0: Map[String, Long], c1: Map[String, Long], t0: Long,
      t1: Long, firstOp: Int, lastOp: Int): Map[String, Any] = {
    val d = c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0L)) }
    val tracedOps = ops.toArray.map(_.asInstanceOf[Op]).toSeq.slice(firstOp, lastOp)
    val nOps = math.max(tracedOps.size, 1).toDouble
    val passList = passes.toArray.map(_.asInstanceOf[Double]).toSeq
    val nPass = math.max(passCount(tracedOps, passList), 1.0)
    val spans = Trace.spans.toArray.map(_.asInstanceOf[Span]).toSeq
      .filter(s => s.startNs >= t0 && s.endNs <= t1)
    val jobs = Trace.jobs.values.toArray.map(_.asInstanceOf[Trace.Job]).toSeq
      .filter(j => j.startNs >= t0 && j.endNs <= t1)
    val jobWall = Trace.unionLength(jobs.map(j => (j.startNs, j.endNs))) / 1e9
    val roots = spans.filter(_.parent == -1)
    val jobsByOp = jobs.groupBy(_.op)
    // time from an operation's start to its first Spark job: the
    // driver-side work (parsing, plan assembly) the command does first
    val preJob = roots.map(r => jobsByOp.getOrElse(r.op, Nil).map(_.startNs)
      .filter(_ >= r.startNs).minOption.getOrElse(r.endNs) - r.startNs).map(_ / 1e6)
    val phases = Trace.phases.toArray.map(_.asInstanceOf[(Long, Long, Long)]).toSeq
    val heapPeak = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .toArray.map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val batches = Trace.batches.toArray.map(_.asInstanceOf[Map[String, Long]]).toSeq
    val wall = (t1 - t0) / 1e9
    Map(
      "plan.analysis_ms" -> Stats.mean(phases.map(_._1.toDouble)),
      "plan.optimization_ms" -> Stats.mean(phases.map(_._2.toDouble)),
      "plan.planning_ms" -> Stats.mean(phases.map(_._3.toDouble)),
      "plan.codegen_ms" -> d("codegen_ns") / 1e6 / nPass,
      "plan.codegen_classes" -> d("codegen_classes") / nPass,
      "plan.codegen_fallbacks" -> d("codegen_fallbacks") / nPass,
      "exec.jobs" -> jobs.size / nPass,
      "exec.job_wall_s" -> jobWall / nPass,
      "exec.driver_gap_s" -> (wall - jobWall) / nPass,
      "exec.task_s" -> Trace.taskNs.get() / 1e9 / nPass,
      "exec.input_bytes" -> Trace.inputBytes.get() / nPass,
      "exec.shuffle_bytes" -> Trace.shuffleBytes.get() / nPass,
      "exec.unpartitioned_windows" -> d("unpartitioned_windows") / nPass,
      "api.jobs_per_op" -> jobs.count(_.op > 0) / nOps,
      "api.pre_job_ms" -> (if (preJob.isEmpty) 0.0 else Stats.median(preJob)),
      "store.bytes_written_per_op" -> d("bytes_written") / nOps,
      "jvm.gc_ms" -> d("gc_ms").toDouble / nPass,
      "jvm.heap_peak_mb" -> heapPeak,
      "stream.batches" -> batches.size.toDouble,
      "stream.rows" -> batches.map(_.getOrElse("rows", 0L)).sum.toDouble,
    ) ++ Trace.fsKinds.map(k => s"store.fs_${k}_per_op" -> d(s"fs.$k") / nOps) ++
      Trace.selfTimes(spans, jobs).map { case (k, v) => s"self.${k}_ms" -> Stats.median(v.map(_ / 1e6)) } ++
      layerDetail(tracedOps, spans, jobs)
  }

  /** Workload-specific layer metrics, reported in the detail line. */
  def layerDetail(traced: Seq[Op], spans: Seq[Span], jobs: Seq[Trace.Job]): Map[String, Any] =
    Map.empty

  /** Spark jobs per operation of each kind, from the job-group tags. */
  protected def jobsPerKind(spans: Seq[Span], jobs: Seq[Trace.Job]): Map[String, Double] = {
    val byOp = jobs.groupBy(_.op).map { case (k, v) => k -> v.size }
    spans.filter(_.parent == -1).groupBy(_.name).map { case (k, rs) =>
      k -> rs.map(r => byOp.getOrElse(r.op, 0)).sum.toDouble / rs.size
    }
  }

  protected def diskUsage(dir: String): (Long, Long) = {
    val files = Files.walk(Paths.get(dir)).filter(Files.isRegularFile(_)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
    (files.map(Files.size).sum, files.length.toLong)
  }
}
