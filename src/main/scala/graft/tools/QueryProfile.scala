package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** r17 optimization-round instrument: per-registered-query decomposition
  * of WHERE the bench seconds go — wall time, Spark job count, stage
  * count, task count, summed executor run time, shuffle records/bytes —
  * so a plan change can be judged by the structural numbers (jobs,
  * exchanges, shuffled bytes) and not just a noisy wall clock.
  * Optionally dumps `.explain("formatted")` per query for the
  * plans/r17/ evidence files.
  *
  * Usage:
  *   sbt "runMain graft.tools.QueryProfile <sfDir> [reps] [explainDir|-] [q1 q2 ...]"
  * With no query names: all registered queries, slowest-first order is
  * the caller's problem (output is one line per query, greppable).
  * Not part of the driver contract.
  */
object QueryProfile {
  final class Counts(spark: SparkSession) extends SparkListener {
    val jobs = new AtomicLong
    val stages = new AtomicLong
    val tasks = new AtomicLong
    val runTimeMs = new AtomicLong
    val shufReadBytes = new AtomicLong
    val shufWriteBytes = new AtomicLong
    val shufWriteRec = new AtomicLong
    spark.sparkContext.addSparkListener(this)
    override def onJobStart(ev: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(ev.stageInfo.numTasks)
      val m = ev.stageInfo.taskMetrics
      if (m != null) {
        runTimeMs.addAndGet(m.executorRunTime)
        shufReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufWriteRec.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    case class Snap(jobs: Long, stages: Long, tasks: Long, runTimeMs: Long,
        shufReadBytes: Long, shufWriteBytes: Long, shufWriteRec: Long)
    def snap(): Snap = {
      // listener bus is async: poll until the counters stop moving
      def read() = Snap(jobs.get, stages.get, tasks.get, runTimeMs.get,
        shufReadBytes.get, shufWriteBytes.get, shufWriteRec.get)
      var prev = read(); var i = 0
      while (i < 20) {
        Thread.sleep(50)
        val cur = read()
        if (cur == prev) return cur
        prev = cur; i += 1
      }
      prev
    }
  }

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).flatMap(_.toIntOption).getOrElse(2)
    val explainDir = args.lift(2).filter(_ != "-")
    val wanted = args.drop(3).toSet
    val spark = SparkSession.builder()
      .appName("graft-query-profile").master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.tuneShufflePartitions(spark, d)
    val counts = new Counts(spark)

    val qs = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted(n) }

    // warmup: one pass at sf0.01 (JIT + codegen, same policy as Bench)
    qs.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.01")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }

    println("query\twall_s\tjobs\tstages\ttasks\texec_s\tshw_mb\tshr_mb\tshw_rec")
    qs.foreach { case (name, fn) =>
      explainDir.foreach { dir =>
        try {
          val plan = fn(spark, d).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val out = java.nio.file.Paths.get(s"$dir/$name.txt")
          java.nio.file.Files.createDirectories(out.getParent)
          java.nio.file.Files.write(out, plan.getBytes("UTF-8"))
        } catch { case scala.util.control.NonFatal(_) => () }
        spark.catalog.clearCache()
      }
      val samples = (1 to reps).map { _ =>
        val before = counts.snap()
        val t0 = System.nanoTime()
        val ok = try {
          fn(spark, d).write.format("noop").mode("overwrite").save(); true
        } catch { case e: Throwable =>
          System.err.println(s"[qp] $name FAILED: ${e.getMessage}"); false
        }
        spark.catalog.clearCache()
        val wall = (System.nanoTime() - t0) / 1e9
        val after = counts.snap()
        (wall, ok, after, before)
      }
      val (wall, ok, a, b) = samples.minBy(_._1)
      if (ok) println(f"$name\t$wall%.2f\t${a.jobs - b.jobs}\t${a.stages - b.stages}\t${a.tasks - b.tasks}\t${(a.runTimeMs - b.runTimeMs) / 1e3}%.2f\t${(a.shufWriteBytes - b.shufWriteBytes) / 1e6}%.2f\t${(a.shufReadBytes - b.shufReadBytes) / 1e6}%.2f\t${a.shufWriteRec - b.shufWriteRec}")
      else println(s"$name\tFAILED")
    }
    spark.stop()
  }
}
