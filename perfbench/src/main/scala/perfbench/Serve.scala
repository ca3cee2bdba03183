package perfbench

import graft.api.Engine
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** `serve`: read traffic beside a light writer, over a store holding
  * every subject of the events table for all 30 days.
  *
  * Setup streams days 1–30 into the store through `Engine.startIngest`
  * from a feed gen.py writes (each micro-batch is a set + save, so they
  * land cold), except the last day of the `hotSubjects` most-read
  * subjects, which goes in by `set` and stays in the hot tail. The engine flushes its tail by
  * itself after 64 staged batches, so the hot tail holds a bounded
  * number of subjects, not all of them.
  *
  * Timed: `readers` threads each run a closed loop over a seeded mix —
  * half point ranged `get`s of one Zipf-chosen subject over 1–7 days
  * rendered as JSON, a quarter `gets` (last row) over 2–8 subjects, a
  * quarter multi-subject ranged `get`s with `count` over a prefix
  * pattern. One writer thread runs an open loop: a one-row `set` every
  * `writerPeriodMs` and a `save` after every `savesEvery` sets, into
  * subjects the readers never address, so every read has one right
  * answer while the writer still contends for the same store.
  *
  * A pass is `readsPerPass` reads in the order they complete; `pass_s`
  * and `op_gmean_ms` are medians over the passes of the region, so a
  * host stall that slows one pass does not move the run's figure. */
final class Serve(spark: SparkSession, conf: Main.Conf) extends Workload(spark, conf) {
  import Serve._
  val readers = 3
  val hotSubjects = 20 // gen.HOT_SUBJECTS
  val writerPeriodMs = 500L
  val savesEvery = 8
  val readsPerPass = 6
  // before the timed region: reads per reader, and writer sets plus one
  // save beside them; fewer left the first passes of the region slower
  // than the rest while the JIT was still compiling the read path
  val warmReads = 16
  val warmSets = 8
  // each reader runs the kinds in blocks of point, last, point, scan in
  // a seeded order: the shares stay fixed, so the pooled read latency
  // does not move with the seed's draw of kinds
  val mix = Seq(0, 1, 0, 2)

  val lastDayMs: Long = epochMs + 29 * dayMs

  val reads = new java.util.concurrent.ConcurrentLinkedQueue[Read]()
  val readDone = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  val lateMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

  // users in Zipf rank order, most read first (written by gen.py, which
  // also leaves the top `hotSubjects` users' last day out of the feed)
  lazy val byRank: IndexedSeq[Int] = scala.io.Source.fromFile(s"${conf.data}/ranks.txt")
    .getLines().map(_.trim.toInt).toIndexedSeq
  lazy val users: Int = byRank.size
  lazy val zipfCdf: Array[Double] = {
    val w = (1 to users).map(r => 1.0 / math.pow(r, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  var engine: Engine = _
  var root: String = _
  var writes = 0
  var writtenSum = 0.0

  /** The writer's rows, serialised once in setup: row i is due at
    * i * writerPeriodMs into the timed region and goes in as a JSON
    * object, a JSON array or a packed binary row, in seeded shares. */
  lazy val writerRows: IndexedSeq[Write] = {
    val rng = new scala.util.Random(conf.seed + 7)
    val n = warmSets + (2 * conf.seconds * 1000 / writerPeriodMs).toInt + 8
    val rows = (0 until n).map { i =>
      val pick = rng.nextDouble()
      (i, if (pick < 0.4) "json" else if (pick < 0.7) "array" else "bset",
        math.round(rng.nextDouble() * 10000) / 100.0)
    }
    import spark.implicits._
    val packed = rows.map(r => (r._1, new java.sql.Timestamp(lastDayMs + r._1 * 1000L), r._3))
      .toDF("i", "t", "value").withColumn("etype", lit("view"))
      .select(col("i"), graft.sources.BinaryRows.pack(struct(col("t"), col("etype"), col("value")),
        graft.schema.SdbSchema.parse(dsl)))
      .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap
    rows.map { case (i, fmt, v) =>
      val t = java.time.Instant.ofEpochMilli(lastDayMs + i * 1000L)
      Write(fmt, v, if (fmt == "array") s"""[["$t","view","$v"]]"""
        else s"""{"t":"$t","etype":"view","value":$v}""", packed(i))
    }
  }

  def zipf(rng: scala.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    byRank(math.min(if (i >= 0) i else -i - 1, users - 1))
  }

  def setup(): Unit = {
    val t0 = System.nanoTime()
    def phase(name: String): Unit = detail(s"setup.${name}_s") = (System.nanoTime() - t0) / 1e9
    root = s"${conf.run}/serve_root"
    engine = new Engine(spark, root)
    engine.create(dsl)
    engine.startIngest("ev", s"${conf.data}/serve_feed", s"${conf.run}/serve_ckpt")
      .awaitTermination()
    phase("ingest")
    val hot = byRank.take(hotSubjects).map(u => s"u$u")
    events(spark, conf.data)
      .filter(col("subject").isin(hot: _*) && unix_millis(col("t")) >= lastDayMs)
      .groupBy("subject")
      .agg(concat(lit("["), concat_ws(",", collect_list(
        to_json(struct(col("t"), col("etype"), col("value"))))), lit("]")))
      .collect().foreach(r => engine.set(s"${r.getString(0)}.ev", r.getString(1)))
    phase("hot")
    writerRows
    phase("writer_rows")
    // warm the read and write paths together before anything is timed
    val warming = (0 until readers).map { i =>
      val t = new Thread(() => {
        val rng = new scala.util.Random(conf.seed - 1 - i)
        (0 until warmReads).foreach(k => read(mix((i + k) % mix.length), rng, record = false))
      })
      t.start(); t
    }
    (0 until warmSets).foreach(_ => write())
    engine.save("ev")
    warming.foreach(_.join())
    phase("warm")
  }

  /** One read of the given kind with seeded parameters; its rows are
    * kept for the output check. */
  private def read(kind: Int, rng: scala.util.Random, record: Boolean): Unit = {
    val days = 1 + rng.nextInt(7)
    val first = rng.nextInt(30 - days + 1)
    val start = epochMs + first * dayMs
    val stop = start + days * dayMs - 1
    val r =
      if (kind == 0) {
        val key = s"u${zipf(rng)}"
        timeOp("point_get") {
          val df = Trace.span("api.get")(engine.get(s"$key.ev",
            s"""{"range":{"start":$start,"stop":$stop},"format":"j"}"""))
          Trace.span("exec.collect")(df.collect())
        }.map(rows => Read("point", key, start, stop, 0, rows))
      } else if (kind == 1) {
        val keys = Iterator.continually(s"u${zipf(rng)}").distinct.take(2 + rng.nextInt(7)).toSeq
        timeOp("last_get") {
          val df = Trace.span("api.get")(engine.gets(keys.mkString(",") + ".ev"))
          Trace.span("exec.collect")(df.collect())
        }.map(rows => Read("last", keys.mkString(","), 0, 0, 0, rows))
      } else {
        val prefix = s"u${1 + rng.nextInt(9)}${rng.nextInt(10)}"
        val n = 1 + rng.nextInt(5)
        timeOp("scan_get") {
          val df = Trace.span("api.get")(engine.get(s"$prefix*.ev",
            s"""{"range":{"start":$start,"stop":$stop},"count":$n}"""))
          Trace.span("exec.collect")(df.collect())
        }.map(rows => Read("scan", prefix, start, stop, n, rows))
      }
    if (record) r.foreach { x => reads.add(x); readDone.add(System.nanoTime()) }
  }

  def timed(deadlineNs: Long): Unit = {
    readDone.clear()
    val t0 = System.nanoTime()
    val pool = (0 until readers).map { i =>
      val t = new Thread(() => {
        val rng = new scala.util.Random(conf.seed * 31 + i + reads.size)
        while (System.nanoTime() < deadlineNs)
          rng.shuffle(mix).foreach(kind => if (System.nanoTime() < deadlineNs) read(kind, rng, record = true))
      })
      t.start(); t
    }
    // open loop: each set is due on a fixed schedule; a stall shows as
    // lateness of the following sets, and set latency counts from due
    var due = System.nanoTime()
    while (due < deadlineNs && writes < writerRows.size) {
      val wait = (due - System.nanoTime()) / 1000000L
      if (wait > 0) Thread.sleep(wait)
      lateMs.add((System.nanoTime() - due) / 1e6)
      val ok = timeOpFrom(s"set.${writerRows(writes).format}", due)(write())
      if (ok && writes % savesEvery == 0) timeOpFrom("save", System.nanoTime())(engine.save("ev"))
      due += writerPeriodMs * 1000000L
    }
    pool.foreach(_.join())
    // a pass ends with every `readsPerPass`-th read to complete
    val ends = t0 +: readDone.toArray.map(_.asInstanceOf[Long]).sorted.toSeq
      .grouped(readsPerPass).filter(_.size == readsPerPass).map(_.last).toSeq
    ends.zip(ends.tail).foreach { case (a, b) => passes.add((b - a) / 1e9) }
  }

  /** The writer's next row, into one of the subjects w0-w7. */
  private def write(): Unit = {
    val w = writerRows(writes)
    val key = s"w${writes % 8}.ev"
    if (w.format == "bset") engine.bset(key, Seq(w.packed)) else engine.set(key, w.json)
    writes += 1
    writtenSum += w.value
  }

  /** An operation timed from when it was due, not from when it began. */
  private def timeOpFrom(kind: String, dueNs: Long)(body: => Any): Boolean = {
    val ok = try { Trace.op(spark, kind)(Trace.span("api." + kind.takeWhile(_ != '.'))(body)); true } catch {
      case e: Throwable => System.err.println(s"[perfbench] $kind failed: $e"); false
    }
    ops.add(Op(kind, dueNs, System.nanoTime(), ok))
    ok
  }

  def primary(op: Op): Boolean = op.kind.endsWith("_get")

  /** Median over passes of each pass's geometric-mean read latency; a
    * run too short for one pass pools its reads. */
  override def opGmean(main: Seq[Op]): Double = {
    val full = main.sortBy(_.endNs).grouped(readsPerPass).filter(_.size == readsPerPass).toSeq
    if (full.isEmpty) Stats.gmean(main.map(_.ms)) else Stats.median(full.map(p => Stats.gmean(p.map(_.ms))))
  }

  override def passCount(traced: Seq[Op], passList: Seq[Double]): Double =
    traced.count(primary).toDouble / readsPerPass

  def finish(): Unit = {
    val all = ops.toArray.map(_.asInstanceOf[Op]).toSeq.filter(_.ok)
    def lat(kind: String, name: String): Unit = {
      val xs = all.filter(_.kind == kind).map(_.ms)
      if (xs.nonEmpty) {
        detail(s"${name}_p50_ms") = Stats.pct(xs, 0.5)
        detail(s"${name}_p90_ms") = Stats.pct(xs, 0.9)
        detail(s"${name}_n") = xs.size
      }
    }
    lat("point_get", "point_get"); lat("last_get", "last_get"); lat("scan_get", "scan_get")
    lat("save", "save")
    val sets = all.filter(_.kind.startsWith("set.")).map(_.ms)
    detail ++= Map("set_p50_ms" -> Stats.pct(sets, 0.5), "set_p90_ms" -> Stats.pct(sets, 0.9))
    Seq("json", "array", "bset").foreach { f =>
      val xs = all.filter(_.kind == s"set.$f").map(_.ms)
      if (xs.nonEmpty) detail(s"sources.${f}_set_ms") = Stats.median(xs)
    }
    val late = lateMs.toArray.map(_.asInstanceOf[Double]).toSeq
    val reading = all.filter(primary)
    val span = (reading.map(_.endNs).max - reading.map(_.startNs).min) / 1e9
    detail ++= Map(
      "reads_per_s" -> reading.size / span,
      "writer_late_p50_ms" -> Stats.pct(late, 0.5),
      "writer_late_max_ms" -> late.max)
    val writer = engine.get("w*.ev").agg(count(lit(1)), sum("value")).head()
    val stored = engine.get("*.ev").count()
    val (bytes, files) = diskUsage(root)
    detail ++= Map("disk_bytes_per_row" -> bytes.toDouble / stored,
      "store.disk_bytes" -> bytes, "store.disk_files" -> files)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    check ++= Map(
      "kind" -> "serve",
      "writer" -> Seq(writes.toLong, writtenSum, writer.getLong(0),
        Option(writer.get(1)).map(_.asInstanceOf[Double]).getOrElse(0.0)),
      "reads" -> reads.toArray.map(_.asInstanceOf[Read]).toSeq.map { r =>
        val rows: Seq[Seq[Any]] = r.kind match {
          case "point" => r.rows.toSeq.map { row =>
            val j = mapper.readTree(row.getAs[String]("payload"))
            Seq(j.get("t").asText(), j.get("etype").asText(), j.get("value").asDouble())
          }
          case _ => r.rows.toSeq.map(row => Seq(row.getAs[String]("subject"),
            row.getAs[java.sql.Timestamp]("t").toInstant.toString,
            row.getAs[String]("etype"), row.getAs[Double]("value")))
        }
        Map("kind" -> r.kind, "key" -> r.key, "start" -> r.start, "stop" -> r.stop,
          "count" -> r.count, "rows" -> rows)
      })
  }

  override def layerDetail(traced: Seq[Op], spans: Seq[Span],
      jobs: Seq[Trace.Job]): Map[String, Any] = {
    val per = jobsPerKind(spans, jobs)
    val builds = spans.filter(s => s.name == "api.get").map(s => (s.endNs - s.startNs) / 1e6)
    // the fmt layer on its own: render the whole store in each format
    val base = engine.get("*.ev").cache()
    val n = base.count()
    val fmt = Seq('j', 'a', 'c').map { code =>
      val t0 = System.nanoTime()
      graft.fmt.Render.format(base, code, graft.schema.SdbSchema.parse(dsl))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    base.unpersist()
    val streamMs = Trace.batches.toArray.map(_.asInstanceOf[Map[String, Long]]).toSeq
    def sumOf(k: String) = streamMs.map(_.getOrElse(k, 0L)).sum.toDouble
    Map(
      "api.jobs_per_get" -> Stats.mean(per.filter(_._1.endsWith("_get")).values.toSeq),
      "api.jobs_per_set" -> Stats.mean(per.filter(_._1.startsWith("set.")).values.toSeq),
      "api.jobs_per_save" -> per.getOrElse("save", 0.0),
      "api.get_build_ms" -> (if (builds.isEmpty) 0.0 else Stats.median(builds)),
      "fmt.render_rows_per_s" -> 3 * n / fmt.sum,
      "stream.add_batch_ms" -> sumOf("addBatch"),
      "stream.query_planning_ms" -> sumOf("queryPlanning"),
      "stream.get_batch_ms" -> sumOf("getBatch"),
      "stream.wal_commit_ms" -> sumOf("walCommit"))
  }
}

object Serve {
  /** The sisdb table the workload serves: the reference's tick-like
    * `{time, type, value}` row per subject, one subject per user of the
    * events table (`u<user_id>`). */
  val dsl = "{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8]}}}"
  val epochMs = 1704067200000L // 2024-01-01T00:00:00Z, first day of the events table
  val dayMs = 86400000L

  def events(spark: SparkSession, data: String): DataFrame =
    graft.Tables(spark, data, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        concat(lit("u"), col("user_id")).as("subject"),
        col("ts").as("t"), col("event_type").as("etype"), col("value"))

  final case class Read(kind: String, key: String, start: Long, stop: Long,
      count: Int, rows: Array[Row])
  final case class Write(format: String, value: Double, json: String, packed: Array[Byte])
}
