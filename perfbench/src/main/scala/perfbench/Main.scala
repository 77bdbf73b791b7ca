package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.{EventSink, IngestTransform}

/** One benchmark run of one workload: set up, measure for the given
  * seconds, check every output against the benchmark's own bookkeeping,
  * print one result line. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, corpus: String, preSetupS: Double, artifact: Path)

  val Cores = 4
  /** ingest_backlog: events in the backlog, the drains a run measures at
    * least, and the unmeasured drains before them. */
  val BacklogEvents = 40000
  val BacklogFiles = 4
  val MinDrains = 3
  val WarmDrains = 3
  /** live_dashboard: history in the tables, and the open-loop load: one
    * file per stream every period, 200 events/s, well below what a drain
    * sustains. */
  val HistoryEvents = 4000
  val PeriodMs = 200L
  val EventsPerTick = 40
  /** Seconds the live phase runs before its window opens. */
  val LiveWarmS = 4
  /** How long the dashboard may take to show every row once the live
    * generator stops. */
  val TailLimitS = 60

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")), m("corpus"), m("pre-setup-s").toDouble, Paths.get(m("artifact")))
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Benchmark clock: ms since the run's zero, plus the epoch ms at zero. */
  final class Clock {
    private val zeroNs = System.nanoTime()
    val epochMsAtZero: Long = System.currentTimeMillis()
    def ms(): Double = (System.nanoTime() - zeroNs) / 1e6
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def main(argv: Array[String]): Unit = {
    val jvmS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val a = parse(argv)
    require(Set("ingest_backlog", "live_dashboard", "registry_slice")(a.workload),
      s"unknown workload '${a.workload}'")
    Files.createDirectories(a.work)
    println("PERFBENCH " + new Run(a, jvmS).execute().render)
  }
}

/** Operations attempted and failed, with what went wrong. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty[String]
  def record(what: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) { failed += 1; errors ++= problems.map(e => s"$what: $e") }
  }
}

final class Run(a: Main.Args, jvmS: Double) {
  import Main._

  private val clock = new Clock
  private val heap = new HeapWatch
  private val tracer = new Tracer(a.trace)
  private val ops = new Ops
  private val e2e = mutable.LinkedHashMap.empty[String, Double]
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Sample count behind each reported statistic, for the artifact. */
  private val samples = mutable.LinkedHashMap.empty[String, Double]
  private val dayS = 86400L
  private val nowSec = clock.epochMsAtZero / 1000
  private var setupS = a.preSetupS + jvmS
  private var spark: SparkSession = _
  private var listeners: Option[(SparkTrace, StreamTrace)] = None

  private def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${clock.ms() / 1000}%.1f s: $msg")

  /** Labels of the Spark jobs a workload's measured phase issued, the
    * epoch-ms window it ran in, and its latency in ms: the time from
    * handing input to the program until an answer reflecting it is
    * available (a drained backlog, an event on the dashboard, a query
    * result), as p50, p90 and the samples behind them. */
  private final case class Measured(labels: Set[String], fromMs: Long, toMs: Long,
      p50Ms: Double, p90Ms: Double, samples: Int)

  private def measured(labels: Set[String], fromMs: Long, toMs: Long, latencyMs: Seq[Double]) =
    Measured(labels, fromMs, toMs, Stats.percentile(latencyMs, 0.5), Stats.percentile(latencyMs, 0.9),
      latencyMs.size)

  def execute(): Json = {
    val (s, sessionS) = timed(session(Cores, a.work))
    spark = s
    setupS += sessionS
    listeners = if (a.trace) Some(SparkTraceInstall(spark)) else None
    spark.sparkContext.setJobGroup("setup", "setup")
    val measured = a.workload match {
      case "ingest_backlog" => ingestBacklog()
      case "live_dashboard" => liveDashboard()
      case "registry_slice" => registrySlice()
    }
    spark.sparkContext.setJobGroup("host", "host sentinels")
    val (cpuS, ioS) = Sentinels.run(spark, a.work.resolve("sentinel"))
    layer("host.sentinel_cpu_s") = cpuS
    layer("host.sentinel_io_s") = ioS
    e2e("latency_p50_ms") = measured.p50Ms
    e2e("latency_p90_ms") = measured.p90Ms
    samples("latency") = measured.samples
    if (!Stats.supports(measured.samples, 0.9))
      note(s"${measured.samples} latency samples leave fewer than ten beyond latency_p90_ms")
    e2e("setup_s") = setupS
    heap.collect()
    e2e("heap_peak_mb") = heap.peakMb()
    note(f"set-up $setupS%.1f s, sentinels cpu $cpuS%.2f s io $ioS%.2f s")

    listeners.foreach { case (st, _) =>
      ListenerBus.drain(spark.sparkContext)
      traceSpark(st, measured)
      if (a.workload == "registry_slice") traceJobsPerQuery(st)
    }
    spark.stop()
    if (a.trace && a.workload == "ingest_backlog")
      layer("ingest_rows_per_s_1core") = singleCoreDrain()
    writeArtifact()

    val slice = if (a.workload == "registry_slice") Registry.slice else Nil
    Json.Obj(
      "attempted" -> Json.Num(ops.attempted.toDouble),
      "failed" -> Json.Num(ops.failed.toDouble),
      "errors" -> Json.Arr(ops.errors.toSeq.map(Json.Str)),
      "results_dir" -> Json.Str(resultsDir),
      "oracles" -> Json.Obj(slice.map(q =>
        q -> graft.SparkEntry.oracleSql.get(q).map(Json.Str).getOrElse(Json.Null)): _*),
      "metrics" -> Json.Obj((if (a.trace) layer else e2e).toSeq.map { case (k, v) => k -> Json.Num(v) }: _*))
  }

  // ---------------------------------------------------------------- ingest_backlog

  private val backlogDir = a.work.resolve("backlog")
  private var backlog: Ledger = _

  private def ingestBacklog(): Measured = {
    // set-up: generate the backlog three times and count the median, then
    // drains of it to warm the path: drain speed climbs over the first
    // drains of a fresh JVM (every measured drain is checked, so these
    // are not)
    val gens = (1 to 3).map { _ =>
      deleteTree(backlogDir)
      timed(Spine.writeBacklog(backlogDir, a.seed, BacklogEvents, BacklogFiles,
        nowSec - 400 * dayS, months = 6))
    }
    backlog = gens.last._1
    val (_, warmS) = timed((1 to WarmDrains).foreach { i =>
      // the set-up heap sample comes before the last warm-up drain, as the
      // first drain after a forced full collection is a slow one
      if (i == WarmDrains) heap.collect()
      val warm = a.work.resolve(s"warm-$i")
      val tables = SpineTables.under(warm.resolve("tables"))
      Spine.drain(spark, backlogDir, tables, warm.resolve("ckpt"))
      deleteTree(warm)
    })
    setupS += Stats.median(gens.map(_._2)) + warmS

    val from = System.currentTimeMillis()
    // drains back to back, each into tables of its own; they are checked
    // after the window, so that checks take no drains from it
    val walls = mutable.ArrayBuffer.empty[Double]
    val ids = mutable.ArrayBuffer.empty[String]
    def drainDir(i: Int) = a.work.resolve(s"drain-$i")
    def drainTables(i: Int) = SpineTables.under(drainDir(i).resolve("tables"))
    val t0 = clock.ms()
    while (walls.size < MinDrains || clock.ms() - t0 < a.seconds * 1000) {
      val i = walls.size
      val (wall, qs) = tracer.span("ingest.drain")(
        Spine.drain(spark, backlogDir, drainTables(i), drainDir(i).resolve("ckpt")))
      ids ++= qs
      walls += wall
    }
    val to = System.currentTimeMillis()
    spark.sparkContext.setJobGroup("check", "check")
    val drains = walls.zipWithIndex.map { case (wall, i) => // (wall s, files, bytes)
      ops.record(s"drain $i", Spine.check(spark, drainTables(i), backlog))
      val (files, bytes) = sinkTotals(drainTables(i))
      deleteTree(drainDir(i))
      (wall, files, bytes)
    }
    note(s"${drains.size} drains, ${drains.map(d => (backlog.validRows / d._1).round).mkString(" ")} rows/s")
    layer("sources.events_generated") = backlog.lines
    layer("ingest.rows_per_s") = Stats.median(drains.map(backlog.validRows / _._1).toSeq)
    layer("ingest.bytes_per_row") = Stats.median(drains.map(_._3.toDouble / backlog.validRows).toSeq)

    listeners.foreach { case (_, qt) =>
      ListenerBus.drain(spark.sparkContext)
      val ts = qt.all.filter(t => ids.contains(t.queryId))
      traceStreaming(ts, drains.size * backlog.lines - ts.map(_.inputRows).sum)
      traceIngest(drains.last)
    }
    measured(ids.map(i => s"stream:$i").toSet, from, to, drains.map(_._1 * 1000).toSeq)
  }

  /** The transform and the sink, each alone over the same backlog, and
    * the row and file counts of the drains. */
  private def traceIngest(lastDrain: (Double, Long, Long)): Unit = {
    spark.sparkContext.setJobGroup("trace-ingest", "ingest layer probes")
    val raw = Seq("sales", "warehouse").map(s => s -> spark.read.text(backlogDir.resolve(s).toString))
    def typed(s: String, df: DataFrame) =
      if (s == "sales") IngestTransform.salesFromJson(df) else IngestTransform.warehouseFromJson(df)
    layer("ingest.transform_s") = tracer.span("ingest.transform") {
      timed(raw.foreach { case (s, df) => typed(s, df).write.format("noop").mode("overwrite").save() })._2
    }
    val cached = raw.map { case (s, df) => val t = typed(s, df).cache(); t.count(); s -> t }
    val probe = a.work.resolve("sink-probe")
    layer("ingest.sink_s") = tracer.span("ingest.sink") {
      timed(cached.foreach { case (s, t) => EventSink.append(t, probe.resolve(s).toString) })._2
    }
    cached.foreach(_._2.unpersist())
    deleteTree(probe)
    layer("ingest.rows_in") = backlog.lines
    layer("ingest.rows_out") = backlog.validRows
    layer("ingest.rows_dropped") = backlog.dropped
    layer("ingest.files_written") = lastDrain._2
    layer("ingest.bytes_written") = lastDrain._3
  }

  /** The same drain on a single core: the baseline a parallel drain is
    * read against. Runs after the measured session has stopped. */
  private def singleCoreDrain(): Double = {
    val one = session(1, a.work)
    try {
      val dir = a.work.resolve("drain-1core")
      val tables = SpineTables.under(dir.resolve("tables"))
      val (wall, _) = tracer.span("ingest.drain_1core")(
        Spine.drain(one, backlogDir, tables, dir.resolve("ckpt")))
      ops.record("single-core drain", Spine.check(one, tables, backlog))
      deleteTree(dir)
      backlog.validRows / wall
    } finally one.stop()
  }

  // ---------------------------------------------------------------- live_dashboard

  private def liveDashboard(): Measured = {
    val sc = spark.sparkContext
    // set-up: months of history drained in through the same pipelines,
    // which also warms the ingest path
    val tables = SpineTables.under(a.work.resolve("live/tables"))
    val (history, seedS) = timed {
      val dir = a.work.resolve("history")
      val ledger = Spine.writeBacklog(dir.resolve("src"), a.seed + 1, HistoryEvents, 2,
        nowSec - 200 * dayS, months = 6)
      Spine.drain(spark, dir.resolve("src"), tables, dir.resolve("ckpt"))
      ops.record("history", Spine.check(spark, tables, ledger))
      deleteTree(dir)
      ledger
    }
    setupS += seedS
    heap.collect()

    sc.setJobGroup("live-client", "live dashboard client")
    val storedBefore = sinkTotals(tables)
    val live = a.work.resolve("live")
    val (pipes, queries) = Spine.attachLive(spark, live.resolve("src"), tables, live.resolve("ckpt"))
    val ids = queries.map(_.id.toString)
    val gen = new LiveGenerator(live.resolve("src"), live.resolve("staging"), a.seed + 2,
      PeriodMs, EventsPerTick, () => clock.ms(), clock.epochMsAtZero)
    val genThread = new Thread(gen, "perfbench-generator")
    genThread.setDaemon(true)
    genThread.start()
    // each refresh with the valid rows published by its end
    val refreshes = mutable.ArrayBuffer.empty[(Refresh, Long)]
    def refresh(): Option[Refresh] =
      try {
        val r = Dashboard.refresh(spark, tables, current_timestamp(), () => clock.ms(), tracer, a.trace)
        refreshes += ((r, gen.published._2))
        ops.record("refresh", Nil)
        Some(r)
      } catch { case NonFatal(e) => ops.record("refresh", Seq(e.toString)); None }
    // warm-up, counted as set-up: the new streaming queries' first
    // triggers and the client's first refreshes of the growing tables are
    // slower than the steady state the window measures
    val w0 = clock.ms()
    while (clock.ms() - w0 < LiveWarmS * 1000 || refreshes.isEmpty) refresh()
    val warmed = refreshes.size
    setupS += (clock.ms() - w0) / 1000
    val from = System.currentTimeMillis()
    val t0 = clock.ms()
    // the window is at least two refreshes long, so the processed rate
    // has a slope to take
    while (clock.ms() - t0 < a.seconds * 1000 || refreshes.size - warmed < 2) refresh()
    val inWindow = refreshes.toSeq.drop(warmed)
    val to = System.currentTimeMillis()
    gen.stop()
    genThread.join()
    val linesAtEnd = gen.published._1
    val triggerRowsAtEnd = listeners.map { case (_, qt) =>
      ListenerBus.drain(sc)
      qt.all.filter(t => ids.contains(t.queryId)).map(_.inputRows).sum
    }.getOrElse(0L)
    gen.failure.foreach(t => ops.record("generator", Seq(t.toString)))
    // a file published more than a period late means the generator fell
    // behind its schedule: the host, not the program, set that load
    gen.ticks.foreach(t => ops.record("generator file",
      if (t.publishedMs - t.dueMs <= PeriodMs) Nil
      else Seq(f"published ${t.publishedMs - t.dueMs}%.0f ms after it was due")))

    // once the pipelines have taken in every published file, refresh
    // until the dashboard shows every generated row, so every event gets
    // a freshness sample, late ones included
    queries.foreach(_.processAllAvailable())
    val allRows = gen.published._2 + history.validRows
    val deadline = clock.ms() + TailLimitS * 1000
    var shown = inWindow.lastOption.map { case (r, _) => r.salesCount + r.movesCount }.getOrElse(0L)
    while (shown < allRows && clock.ms() < deadline)
      refresh().foreach(r => shown = r.salesCount + r.movesCount)
    ops.record("live rows shown", if (shown == allRows) Nil
      else Seq(s"dashboard showed $shown of $allRows rows ${TailLimitS}s after the generator stopped"))

    pipes.foreach(_.detach())
    val storedAfter = sinkTotals(tables)
    // the refresh that showed every row must show the generator's own
    // aggregates; its `now` is within a minute of the last event, and the
    // history is older than the queries' 1- and 7-day windows, so any
    // `now` from the last event on gives the same dashboard
    val endSec = (clock.epochMsAtZero + gen.ticks.last.dueMs.toLong) / 1000 + 1
    val want = Dashboard.expected(endSec, gen.sales.toSeq, gen.moves.toSeq,
      history.sales.rows + gen.ledger.sales.rows, history.moves.rows + gen.ledger.moves.rows)
    val fin = refreshes.last._1.result
    ops.record("final dashboard", if (fin == want) Nil else Seq(s"dashboard $fin != generator's $want"))
    val all = new Ledger
    Seq(history, gen.ledger).foreach { l => all.sales.addAll(l.sales); all.moves.addAll(l.moves) }
    ops.record("live tables", Spine.check(spark, tables, all))
    note(s"$warmed warm-up refreshes, ${inWindow.size} in the window, " +
      s"${refreshes.size - warmed - inWindow.size} after, " +
      s"${gen.ticks.size} files per stream")

    // freshness of the events created in the window and after it
    val (salesStamps, movesStamps) = gen.stampsSnapshot
    def fresh1(stamps: IndexedSeq[Double], visible: Refresh => Long) = Freshness.since(t0,
      stamps, refreshes.toSeq.map { case (r, _) => Freshness.Seen(r.endMs, visible(r)) })
    val fresh = fresh1(salesStamps, _.salesCount - history.sales.rows) ++
      fresh1(movesStamps, _.movesCount - history.moves.rows)
    val refreshMs = inWindow.map { case (r, _) => r.endMs - r.startMs }
    layer("queries.refresh_ms_p50") = Stats.percentile(refreshMs, 0.5)
    layer("queries.refresh_ms_p90") = Stats.percentile(refreshMs, 0.9)
    samples("refresh") = refreshMs.size
    // how fast rows became visible against how fast they were published,
    // over the window's refreshes: 1 when ingest keeps up, below 1 while a
    // backlog grows
    layer("streaming.processed_frac") = Stats.slope(
      inWindow.map(_._2.toDouble), inWindow.map { case (r, _) => (r.salesCount + r.movesCount).toDouble })
    layer("ingest.rows_in") = gen.ledger.lines
    layer("ingest.rows_out") = gen.ledger.validRows
    layer("ingest.rows_dropped") = gen.ledger.dropped
    layer("ingest.files_written") = storedAfter._1 - storedBefore._1
    layer("ingest.bytes_written") = storedAfter._2 - storedBefore._2
    layer("ingest.bytes_per_row") = (storedAfter._2 - storedBefore._2).toDouble / gen.ledger.validRows

    listeners.foreach { case (_, qt) =>
      traceStreaming(qt.all.filter(t => ids.contains(t.queryId)), linesAtEnd - triggerRowsAtEnd)
      val late = gen.ticks.map(t => math.max(0.0, t.publishedMs - t.dueMs))
      layer("sources.generator_late_ms") = late.max
      layer("sources.events_generated") = linesAtEnd
      val rs = inWindow.map(_._1)
      def p50(f: Refresh => Double) = Stats.median(rs.map(f))
      layer("queries.open_tables_ms_p50") = p50(_.openMs)
      layer("queries.plan_ms_p50") = p50(_.planMs)
      Dashboard.queryNames.foreach(q => layer(s"queries.${q}_ms_p50") = p50(_.queryMs(q)))
      layer("queries.scan_files") = p50(_.scanFiles.toDouble)
      layer("queries.scan_rows") = p50(_.scanRows.toDouble)
    }
    measured(ids.map(i => s"stream:$i").toSet + "live-client", from, to, fresh)
  }

  /** Parquet files and bytes stored in both tables. */
  private def sinkTotals(tables: SpineTables): (Long, Long) = {
    val (f1, b1) = Spine.sinkFiles(tables.sales)
    val (f2, b2) = Spine.sinkFiles(tables.moves)
    (f1 + f2, b1 + b2)
  }

  // ---------------------------------------------------------------- registry_slice

  private val resultsDir = a.work.resolve("results").toString
  private var registry: Registry.Result = _

  private def registrySlice(): Measured = {
    registry = Registry.run(spark, a.corpus, Registry.slice, resultsDir, a.seed, a.seconds, tracer)
    setupS += registry.warmS
    note(f"${registry.passes} passes, warm-up ${registry.warmS}%.1f s")
    val perQuery = registry.seconds.map { case (q, ts) => q -> Stats.median(ts) }
    (0 until registry.passes * Registry.slice.size).foreach(_ => ops.record("registry query", Nil))
    layer("registry.wall_s") = perQuery.values.sum
    layer("registry.geomean_ms") = Stats.geomean(perQuery.values.map(_ * 1000).toSeq)
    graft.SparkEntry.packs.foreach { p =>
      val pack = Registry.packName(p)
      layer(s"registry.${pack}_s") = perQuery.collect { case (q, s) if Registry.packOf(q) == pack => s }.sum
    }
    // per query over the passes, then the geometric mean over the slice,
    // so that every pack weighs the same and the statistic never falls on
    // the gap between two queries' times
    def latency(p: Double) =
      Stats.geomean(registry.seconds.values.map(ts => Stats.percentile(ts, p) * 1000).toSeq)
    Measured(Registry.slice.map(q => s"registry:$q").toSet, registry.fromMs, registry.toMs,
      latency(0.5), latency(0.9), registry.seconds.values.map(_.size).sum)
  }

  private def traceJobsPerQuery(st: SparkTrace): Unit =
    layer("registry.jobs_per_query_p50") =
      Stats.median(Registry.slice.map(q => st.jobsOf(s"registry:$q").toDouble / registry.passes))

  // ---------------------------------------------------------------- shared tracing

  private def traceStreaming(ts: Seq[StreamTrace#Trigger], backlogEnd: Long): Unit = {
    def p50(f: StreamTrace#Trigger => Double) = Stats.median(ts.map(f))
    layer("streaming.triggers") = ts.size
    layer("streaming.trigger_ms_p50") = p50(_.durationMs.getOrElse("triggerExecution", 0L).toDouble)
    layer("streaming.rows_per_trigger_p50") = p50(_.inputRows.toDouble)
    layer("streaming.backlog_rows_end") = backlogEnd
    Seq("latestOffset" -> "latest_offset", "getBatch" -> "get_batch", "queryPlanning" -> "query_planning",
      "addBatch" -> "add_batch", "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets")
      .foreach { case (k, n) => layer(s"streaming.${n}_ms_p50") = p50(_.durationMs.getOrElse(k, 0L).toDouble) }
  }

  /** Spark counters of the measured phase: the jobs issued under its
    * labels, and the time in its window when no stage ran. */
  private def traceSpark(st: SparkTrace, m: Measured): Unit = {
    val c = st.total(m.labels.contains)
    layer("spark.jobs") = c.jobs
    layer("spark.stages") = c.stages
    layer("spark.tasks") = c.tasks
    layer("spark.exec_cpu_s") = c.cpuNs / 1e9
    layer("spark.exec_run_s") = c.runMs / 1e3
    layer("spark.gc_s") = c.gcMs / 1e3
    layer("spark.driver_gap_s") = st.idleSeconds(m.fromMs, m.toMs)
    layer("spark.shuffle_write_bytes") = c.shuffleWrite
    layer("spark.spill_bytes") = c.spill
  }

  /** Spans, per-label job counters and every metric of the run, written
    * beside the result line. */
  private def writeArtifact(): Unit = {
    val labels = listeners.map(_._1.labels).getOrElse(Map.empty).toSeq.sortBy(_._1).map { case (l, c) =>
      l -> Json.Obj("jobs" -> Json.Num(c.jobs), "stages" -> Json.Num(c.stages),
        "tasks" -> Json.Num(c.tasks), "exec_cpu_s" -> Json.Num(c.cpuNs / 1e9),
        "exec_run_s" -> Json.Num(c.runMs / 1e3), "gc_s" -> Json.Num(c.gcMs / 1e3),
        "shuffle_write_bytes" -> Json.Num(c.shuffleWrite), "spill_bytes" -> Json.Num(c.spill))
    }
    def obj(m: Iterable[(String, Double)]) = Json.Obj(m.toSeq.map { case (k, v) => k -> Json.Num(v) }: _*)
    val doc = Json.Obj(
      "workload" -> Json.Str(a.workload), "seed" -> Json.Num(a.seed), "trace" -> Json.Bool(a.trace),
      "end_to_end" -> obj(e2e), "per_layer" -> obj(layer), "samples" -> obj(samples),
      "span_self_s" -> obj(tracer.selfSeconds.toSeq.sortBy(_._1)),
      "jobs_by_label" -> Json.Obj(labels: _*),
      "spans" -> tracer.toJson,
      "errors" -> Json.Arr(ops.errors.toSeq.map(Json.Str)))
    Files.createDirectories(a.artifact.getParent)
    Files.write(a.artifact, doc.render.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** Fixed probes of the host, independent of the code under test: a
  * compute-shaped one (range, modular keys, hash aggregate) and an
  * I/O-shaped one (cold parquet scan, shuffle, aggregate). Their times
  * show host drift within and between runs. */
object Sentinels {
  def run(spark: SparkSession, dir: Path): (Double, Double) = {
    val (_, cpu) = Main.timed {
      spark.range(0L, 3000000L, 1L, 4)
        .withColumn("k", col("id") % 4096)
        .groupBy("k").agg(sum(col("id")).as("s"))
        .write.format("noop").mode("overwrite").save()
    }
    spark.range(0L, 300000L, 1L, 4)
      .select(col("id"), (col("id") % 1000).as("k"), xxhash64(col("id")).as("h"))
      .write.mode("overwrite").parquet(dir.toString)
    val (_, io) = Main.timed {
      spark.read.parquet(dir.toString)
        .repartition(4, col("k"))
        .groupBy("k").agg(count(lit(1)).as("n"), sum(col("h") % 1000000).as("s"))
        .write.format("noop").mode("overwrite").save()
    }
    Main.deleteTree(dir)
    (cpu, io)
  }
}

/** Peak retained heap: old-generation occupancy after full collections
  * the run forces at the end of its set-up and after its measured phase.
  * Each sample collects twice, with a pause between, so that blocks Spark's
  * context cleaner frees once the first collection has enqueued their
  * references are gone before the occupancy is read. */
final class HeapWatch {
  private var peak = 0L

  def collect(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.forEach { p =>
      val name = p.getName
      if ((name.contains("Old Gen") || name.contains("Tenured")) && p.getCollectionUsage != null)
        peak = math.max(peak, p.getCollectionUsage.getUsed)
    }
  }

  def peakMb(): Double = peak / 1048576.0
}
