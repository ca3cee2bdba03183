package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: `op` groups the spans of one operation, `parent`
  * is the span that was open when this one began (-1 at the top). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long)

/** The traced run's recorder. Everything is measured from outside the
  * engine: spans around the benchmark's calls into each module, Spark
  * jobs attributed to the open operation through the job group, and
  * counters fed by listeners, a counting local file system and a log
  * appender. Spans stay in memory until [[write]]. When tracing is off
  * every hook is a cheap no-op, so the untraced run pays nothing. */
object Trace {
  @volatile var on = false
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val open = new ThreadLocal[List[(Int, Int)]] { // (span id, op id)
    override def initialValue(): List[(Int, Int)] = Nil
  }

  /** Starts a new operation: its spans share one id, and the Spark jobs
    * it runs carry that id as their job group. */
  def op[T](spark: SparkSession, name: String)(body: => T): T =
    if (!on) body
    else {
      val opId = ids.incrementAndGet()
      spark.sparkContext.setJobGroup(s"perfbench-$opId", name)
      try spanOf(opId, opId, name, body)
      finally spark.sparkContext.clearJobGroup()
    }

  /** A span inside the current operation. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else open.get() match {
      case (_, opId) :: _ => spanOf(ids.incrementAndGet(), opId, name, body)
      case Nil => body
    }

  private def spanOf[T](id: Int, opId: Int, name: String, body: => T): T = {
    val stack = open.get()
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    open.set((id, opId) :: stack)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, opId, name, t0, System.nanoTime()))
      open.set(stack)
    }
  }

  def write(path: String): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }

  /** Self time of every span: its duration minus the part of it that
    * its child spans and its operation's Spark jobs cover. By name. */
  def selfTimes(all: Seq[Span], jobs: Seq[Job]): Map[String, Seq[Long]] = {
    val kids = all.groupBy(_.parent)
    val jobsOf = jobs.groupBy(_.op)
    all.map { s =>
      val covered = unionLength(
        (kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)) ++
          jobsOf.getOrElse(s.op, Nil).map(j => (j.startNs, j.endNs)))
          .map { case (a, b) => (a max s.startNs, b min s.endNs) })
      s.name -> (s.endNs - s.startNs - covered)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  /** Total length covered by a set of intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = curE max e
    }
    total + (curE - curS)
  }

  // ── counters ─────────────────────────────────────────────────────
  val fsKinds = Seq("create", "rename", "delete", "mkdirs", "list", "status", "open")
  val fsOps: Map[String, AtomicLong] = fsKinds.map(_ -> new AtomicLong).toMap
  val bytesWritten = new AtomicLong
  val codegenFallbacks = new AtomicLong
  val unpartitionedWindows = new AtomicLong

  def fs(kind: String): Unit = if (on) fsOps(kind).incrementAndGet()

  /** Snapshot of every counter the traced run reads as deltas. */
  def counters(): Map[String, Long] =
    fsOps.map { case (k, v) => s"fs.$k" -> v.get() } ++ Map(
      "bytes_written" -> bytesWritten.get(),
      "codegen_fallbacks" -> codegenFallbacks.get(),
      "unpartitioned_windows" -> unpartitionedWindows.get(),
      "codegen_classes" -> org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount,
      "codegen_ns" -> (org.apache.spark.sql.catalyst.expressions.codegen
        .CodeGenerator.compileTime +
        org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime),
      "gc_ms" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum)

  // ── Spark job, task and stage accounting ─────────────────────────
  final case class Job(op: Int, startNs: Long, var endNs: Long)
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val taskNs = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleBytes = new AtomicLong

  object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val op = if (group.startsWith("perfbench-")) group.stripPrefix("perfbench-").toInt else 0
      jobs.put(e.jobId, Job(op, System.nanoTime(), Long.MaxValue))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endNs = System.nanoTime())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      Option(e.taskMetrics).foreach { m =>
        taskNs.addAndGet(m.executorRunTime * 1000000L)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  /** Catalyst phase times of every executed query (QueryPlanningTracker). */
  val phases = new ConcurrentLinkedQueue[(Long, Long, Long)]() // analysis, optimization, planning ms

  object Plans extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) {
        val p = qe.tracker.phases
        def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
        phases.add((ms("analysis"), ms("optimization"), ms("planning")))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Micro-batch progress of every streaming query in the run. */
  val batches = new ConcurrentLinkedQueue[Map[String, Long]]()

  object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      batches.add(d + ("rows" -> e.progress.numInputRows))
    }
  }

  /** Counts the two warnings the ROADMAP tracks: whole-stage codegen
    * falling back to interpreted code, and window operators without a
    * partition spec (which pull a whole input onto one task). */
  private object LogCounter extends AbstractAppender(
      "perfbench-counter", null, null, true,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = if (on) {
      val m = e.getMessage.getFormattedMessage
      if (m.contains("No Partition Defined for Window")) unpartitionedWindows.incrementAndGet()
      else if (m.contains("Whole-stage codegen disabled") || m.contains("failed to compile"))
        codegenFallbacks.incrementAndGet()
    }
  }

  /** Registers every listener on `spark`. Tracing stays off until [[on]]
    * is set, so registration alone does not change what is measured. */
  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(Jobs)
    spark.listenerManager.register(Plans)
    spark.streams.addListener(Streams)
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    LogCounter.start()
    ctx.getConfiguration.getRootLogger.addAppender(LogCounter, null, null)
    ctx.updateLoggers()
  }
}

/** The local file system, counting each call by kind. Registered for
  * `file://` through `spark.hadoop.fs.file.impl` in traced runs only;
  * every call defers to [[LocalFileSystem]], so store semantics are
  * unchanged. */
class CountingLocalFileSystem extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    Trace.fs("create")
    counted(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    Trace.fs("create")
    counted(super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress))
  }
  override def rename(src: Path, dst: Path): Boolean = {
    Trace.fs("rename"); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    Trace.fs("delete"); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    Trace.fs("mkdirs"); super.mkdirs(f, permission)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    Trace.fs("list"); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    Trace.fs("list"); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    Trace.fs("status"); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    Trace.fs("open"); super.open(f, bufferSize)
  }

  private def counted(out: FSDataOutputStream): FSDataOutputStream =
    new FSDataOutputStream(new java.io.OutputStream {
      override def write(b: Int): Unit = { out.write(b); if (Trace.on) Trace.bytesWritten.incrementAndGet() }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len); if (Trace.on) Trace.bytesWritten.addAndGet(len)
      }
      override def flush(): Unit = out.flush()
      override def close(): Unit = out.close()
    }, null)
}
