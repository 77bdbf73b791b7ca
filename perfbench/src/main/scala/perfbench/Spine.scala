package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.queries.ReferenceDashboard
import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.{Sales, Warehouse}

/** Paths of the two stored tables of the spine. */
final case class SpineTables(sales: String, moves: String)

object SpineTables {
  def under(dir: Path): SpineTables =
    SpineTables(dir.resolve("sales").toString, dir.resolve("stock_movements").toString)
}

/** The streaming spine, driven through its public entry points. */
object Spine {

  /** Write `events` generated lines as JSON-lines files, `files` per
    * stream, with event times spread over `months` months from `fromSec`. */
  def writeBacklog(dir: Path, seed: Long, events: Int, files: Int,
      fromSec: Long, months: Int): Ledger = {
    val gen = new EventGen(seed)
    val times = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val ledger = new Ledger
    val span = months * 30L * 86400L
    val out = Seq("sales", "warehouse").map { s =>
      val d = dir.resolve(s); Files.createDirectories(d)
      s -> (0 until files).map(i => Files.newBufferedWriter(d.resolve(f"part-$i%03d.json"), UTF_8))
    }.toMap
    try (0 until events).foreach { i =>
      val (isSale, line) = gen.next(fromSec + times.nextLong(span))
      ledger.record(line)
      val w = out(if (isSale) "sales" else "warehouse")(i % files)
      w.write(line.json); w.newLine()
    } finally out.values.flatten.foreach(_.close())
    ledger
  }

  private def pipelines(spark: SparkSession, src: Path, tables: SpineTables, ckpt: Path,
      trigger: Trigger): Seq[StreamingPipeline.Pipeline] = Seq(
    StreamingPipeline.textDir(spark, Sales, src.resolve("sales").toString, tables.sales,
      ckpt.resolve("sales").toString, trigger),
    StreamingPipeline.textDir(spark, Warehouse, src.resolve("warehouse").toString, tables.moves,
      ckpt.resolve("warehouse").toString, trigger))

  /** Drain every file under `src` into `tables` with both pipelines on
    * the default AvailableNow trigger; returns the wall seconds and the
    * ids of the two streaming queries. */
  def drain(spark: SparkSession, src: Path, tables: SpineTables, ckpt: Path): (Double, Seq[String]) = {
    val ps = pipelines(spark, src, tables, ckpt, Trigger.AvailableNow())
    val t0 = System.nanoTime()
    val qs = ps.map(_.attach())
    try qs.foreach(_.awaitTermination())
    finally ps.foreach(_.detach())
    ((System.nanoTime() - t0) / 1e9, qs.map(_.id.toString))
  }

  /** Compare stored tables with a ledger: counts, exact sums, no
    * duplicate event ids, rows per month partition. Returns the
    * mismatches found. */
  def check(spark: SparkSession, tables: SpineTables, want: Ledger): Seq[String] =
    checkTable(spark, "sales", tables.sales, want.sales, withTotal = true) ++
      checkTable(spark, "stock_movements", tables.moves, want.moves, withTotal = false)

  private def checkTable(spark: SparkSession, name: String, path: String,
      want: TableLedger, withTotal: Boolean): Seq[String] = {
    // one pass, per month partition; an event id has one time and so one
    // month, so distinct ids per month add up to distinct ids overall
    val total = if (withTotal) sum(col("total")) else lit(null).cast("decimal(38,2)")
    val perMonth = spark.read.parquet(path)
      .groupBy(col("event_month").cast("string"))
      .agg(count(lit(1)), sum(col("quantity")), total, countDistinct(col("event_id")))
      .collect()
    val months = perMonth.map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = perMonth.map(_.getLong(1)).sum
    val quantity = perMonth.map(_.getLong(2)).sum
    val cents = perMonth.flatMap(r => Option(r.getDecimal(3))).map(_.movePointRight(2).longValueExact).sum
    val distinct = perMonth.map(_.getLong(4)).sum
    Seq(
      Option.when(rows != want.rows)(s"$name rows $rows != ${want.rows}"),
      Option.when(quantity != want.quantity)(s"$name sum(quantity) $quantity != ${want.quantity}"),
      Option.when(withTotal && cents != want.totalCents)(s"$name sum(total) $cents cents != ${want.totalCents}"),
      Option.when(distinct != rows)(s"$name has ${rows - distinct} duplicate event_ids"),
      Option.when(months != want.months.toMap)(s"$name month partitions differ from the generated months")
    ).flatten
  }

  /** Parquet files and bytes under a table directory. */
  def sinkFiles(path: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(path)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        val fs = s.iterator.asScala.filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }
  }

  /** Start both pipelines on `src` with `Trigger.ProcessingTime(0)`. */
  def attachLive(spark: SparkSession, src: Path, tables: SpineTables,
      ckpt: Path): (Seq[StreamingPipeline.Pipeline], Seq[StreamingQuery]) = {
    Seq("sales", "warehouse").foreach(s => Files.createDirectories(src.resolve(s)))
    val ps = pipelines(spark, src, tables, ckpt, Trigger.ProcessingTime(0L))
    (ps, ps.map(_.attach()))
  }
}

/** One dashboard refresh: the four reference queries over fresh frames of
  * the two tables, with the time of each step. */
final case class Refresh(startMs: Double, endMs: Double, openMs: Double, planMs: Double,
    queryMs: Map[String, Double], salesCount: Long, movesCount: Long,
    scanFiles: Long, scanRows: Long, result: Dashboard)

/** What the four queries returned, in comparable form. */
final case class Dashboard(
    salesByHour: Seq[(Long, Long, Long)],      // (hour epoch s, quantity, revenue cents)
    topMovements: Seq[(Long, Long, Long)],     // (product id, incoming, outgoing)
    recentSales: Seq[String],                  // event ids
    status: (Long, Long, String))

object Dashboard {
  val queryNames: Seq[String] = Seq("sales_by_hour", "top_movements", "recent_sales", "status")

  /** Run one refresh. `now` anchors the time-range predicates;
    * `clockMs` is the benchmark's clock. */
  def refresh(spark: SparkSession, tables: SpineTables, now: org.apache.spark.sql.Column,
      clockMs: () => Double, tracer: Tracer, withScanMetrics: Boolean): Refresh = {
    val t0 = clockMs()
    val (sales, moves) = tracer.span("queries.open_tables") {
      (spark.read.parquet(tables.sales), spark.read.parquet(tables.moves))
    }
    val t1 = clockMs()
    val dfs = Seq(
      ReferenceDashboard.salesByHour(sales, now),
      ReferenceDashboard.topMovements(moves, now),
      ReferenceDashboard.recentSales(sales),
      ReferenceDashboard.status(sales, moves))
    tracer.span("queries.plan")(dfs.foreach(_.queryExecution.executedPlan))
    val t2 = clockMs()
    val times = mutable.LinkedHashMap.empty[String, Double]
    val rows = queryNames.zip(dfs).map { case (n, df) =>
      val s = clockMs()
      val r = tracer.span(s"queries.$n")(df.collect().toSeq)
      times(n) = clockMs() - s
      r
    }
    val end = clockMs()
    val (files, scanned) = if (withScanMetrics) dfs.map(ScanMetrics.of).reduce((a, b) =>
      (a._1 + b._1, a._2 + b._2)) else (0L, 0L)
    val d = Dashboard(
      rows(0).map(r => (r.getTimestamp(0).getTime / 1000, r.getLong(1),
        r.getDecimal(2).movePointRight(2).longValueExact)),
      rows(1).map(r => (r.getLong(0), r.getLong(2), r.getLong(3))),
      rows(2).map(_.getString(4)),
      (rows(3).head.getLong(0), rows(3).head.getLong(1), rows(3).head.getString(2)))
    Refresh(t0, end, t1 - t0, t2 - t1, times.toMap, d.status._1, d.status._2, files, scanned, d)
  }

  /** The dashboard the reference queries must show for these events,
    * computed from the generated events alone. `history` rows are older
    * than every time-range window and never among the latest sales. */
  def expected(nowSec: Long, sales: Seq[Sale], moves: Seq[Move], salesRows: Long,
      movesRows: Long): Dashboard = {
    val byHour = sales.filter(_.timeSec >= nowSec - 86400L).groupBy(_.timeSec / 3600 * 3600)
      .toSeq.sortBy(_._1).map { case (h, ss) => (h, ss.map(_.quantity.toLong).sum, ss.map(_.totalCents).sum) }
    val top = moves.filter(_.timeSec >= nowSec - 7 * 86400L).groupBy(_.productId.toLong).toSeq
      .map { case (p, ms) =>
        (p, ms.filter(_.movementType == "supply").map(_.quantity.toLong).sum,
          ms.filter(_.movementType != "supply").map(_.quantity.toLong).sum)
      }
      .sortBy { case (p, in, out) => (-(in + out), p) }.take(5)
    val recent = sales.sortWith((a, b) =>
      a.timeSec > b.timeSec || (a.timeSec == b.timeSec && a.id > b.id)).take(10).map(_.id)
    Dashboard(byHour, top, recent, (salesRows, movesRows, if (salesRows > 0) "ready" else "waiting"))
  }
}

/** Scan counters from a finished query's executed plan. */
object ScanMetrics {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }

  /** (files read, rows output) summed over the file scans of `df`'s plan. */
  def of(df: DataFrame): (Long, Long) = {
    val scans = nodes(df.queryExecution.executedPlan).collect { case s: FileSourceScanExec => s }
    def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    (scans.map(m(_, "numFiles")).sum, scans.map(m(_, "numOutputRows")).sum)
  }
}

/** Open-loop generator for the live workload: every `periodMs` it
  * publishes one file per stream (written aside, then renamed in), each
  * event stamped with its due time. Runs on its own thread. */
final class LiveGenerator(src: Path, staging: Path, seed: Long, periodMs: Long,
    eventsPerTick: Int, clockMs: () => Double, epochMsAtZero: Long) extends Runnable {

  final case class Tick(dueMs: Double, publishedMs: Double)

  private val gen = new EventGen(seed)
  @volatile private var stopAt = Double.MaxValue
  val ledger = new Ledger
  val sales = mutable.ArrayBuffer.empty[Sale]
  val moves = mutable.ArrayBuffer.empty[Move]
  /** Due time of every valid event per stream, in publication order. */
  val salesStamps = mutable.ArrayBuffer.empty[Double]
  val movesStamps = mutable.ArrayBuffer.empty[Double]
  val ticks = mutable.ArrayBuffer.empty[Tick]
  @volatile var failure: Option[Throwable] = None
  private val startMs = clockMs()

  def stop(): Unit = stopAt = clockMs()

  /** Published lines and valid rows so far, read under the lock. */
  def published: (Long, Long) = synchronized((ledger.lines, ledger.validRows))
  def stampsSnapshot: (IndexedSeq[Double], IndexedSeq[Double]) =
    synchronized((salesStamps.toIndexedSeq, movesStamps.toIndexedSeq))

  def run(): Unit = try {
    Files.createDirectories(staging)
    var k = 0L
    while (startMs + k * periodMs < stopAt) {
      val due = startMs + k * periodMs
      val wait = due - clockMs()
      if (wait > 0) Thread.sleep(math.ceil(wait).toLong)
      if (due < stopAt) publish(k, due)
      k += 1
    }
  } catch { case t: Throwable => failure = Some(t) }

  private def publish(k: Long, due: Double): Unit = {
    val sec = (epochMsAtZero + due.toLong) / 1000
    val lines = (0 until eventsPerTick).map(_ => gen.next(sec))
    // booked before the files appear, so a refresh never shows rows the
    // ledger does not hold yet
    synchronized {
      lines.foreach { case (_, l) =>
        if (ledger.record(l)) l match {
          case SaleLine(s, _) => sales += s; salesStamps += due
          case MoveLine(m, _) => moves += m; movesStamps += due
          case _ =>
        }
      }
    }
    Seq(true -> "sales", false -> "warehouse").foreach { case (isSale, s) =>
      val body = lines.collect { case (`isSale`, l) => l.json }.mkString("", "\n", "\n")
      val aside = staging.resolve(f"$s-$k%06d.json")
      Files.write(aside, body.getBytes(UTF_8))
      Files.move(aside, src.resolve(s).resolve(f"tick-$k%06d.json"), StandardCopyOption.ATOMIC_MOVE)
    }
    val published = clockMs()
    synchronized(ticks += Tick(due, published))
  }
}
