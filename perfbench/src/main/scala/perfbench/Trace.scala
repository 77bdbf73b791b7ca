package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans recorded around the benchmark's calls into each layer. Spans stay
  * in memory and are written out when the run ends. When tracing is off
  * `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, name, t0, System.nanoTime()))
        current.set(parent)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  /** Self time of each span name: duration minus the part its child
    * spans cover, summed over spans of that name, in seconds. */
  def selfSeconds: Map[String, Double] = {
    val all = spans
    val childNs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  def toJson: Json.Arr = Json.Arr(spans.map(s => Json.Obj(
    "id" -> Json.Num(s.id), "parent" -> Json.Num(s.parent), "name" -> Json.Str(s.name),
    "start_ns" -> Json.Num(s.startNs), "end_ns" -> Json.Num(s.endNs))))
}

/** Spark job, stage and task counters, attributed per job to the label
  * that issued it: the job group the benchmark set on its own thread, or
  * `stream:<query id>` for jobs a streaming micro-batch ran (read from
  * the job's `sql.streaming.queryId` local property, not from snapshot
  * deltas). */
final class SparkTrace extends SparkListener {
  final class Counts {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L
    def add(o: Counts): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
      runMs += o.runMs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; spill += o.spill
    }
  }

  private val byLabel = mutable.Map.empty[String, Counts]
  private val stageLabel = mutable.Map.empty[Int, String]
  /** (start ms, end ms) of every completed stage, for the driver gap. */
  private val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  private def counts(label: String) = byLabel.getOrElseUpdate(label, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val label = p.flatMap(x => Option(x.getProperty("sql.streaming.queryId"))).map(id => s"stream:$id")
      .orElse(p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))))
      .getOrElse("none")
    counts(label).jobs += 1
    e.stageIds.foreach(s => stageLabel(s) = label)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    counts(stageLabel.getOrElse(i.stageId, "none")).stages += 1
    for (s <- i.submissionTime; c <- i.completionTime) stageSpans += ((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageLabel.getOrElse(e.stageId, "none"))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.cpuNs += m.executorCpuTime; c.runMs += m.executorRunTime; c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Counters summed over labels that satisfy `keep`. */
  def total(keep: String => Boolean): Counts = synchronized {
    val t = new Counts
    byLabel.foreach { case (l, c) => if (keep(l)) t.add(c) }
    t
  }

  def jobsOf(label: String): Long = synchronized(byLabel.get(label).map(_.jobs).getOrElse(0L))

  def labels: Map[String, Counts] = synchronized(byLabel.toMap)

  /** Seconds of [fromMs, toMs] during which no stage was running. */
  def idleSeconds(fromMs: Long, toMs: Long): Double = synchronized {
    val clipped = stageSpans.map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy += curE - curS
    (toMs - fromMs - busy) / 1e3
  }
}

/** Per-trigger progress of every streaming query. */
final class StreamTrace extends StreamingQueryListener {
  final case class Trigger(queryId: String, batchId: Long, inputRows: Long,
      durationMs: Map[String, Long])

  private val triggers = new ConcurrentLinkedQueue[Trigger]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    // a progress event without addBatch is an idle poll, not a trigger
    if (d.contains("addBatch"))
      triggers.add(Trigger(p.id.toString, p.batchId, p.numInputRows, d))
  }

  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def all: Seq[Trigger] = triggers.asScala.toSeq
}

object SparkTraceInstall {
  /** Attach both listeners to `spark`. */
  def apply(spark: SparkSession): (SparkTrace, StreamTrace) = {
    val st = new SparkTrace
    val qt = new StreamTrace
    spark.sparkContext.addSparkListener(st)
    spark.streams.addListener(qt)
    (st, qt)
  }
}
