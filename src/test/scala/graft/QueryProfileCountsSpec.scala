package graft

import org.apache.spark.sql.functions._
import graft.tools.QueryProfile

/** The per-query instrument: `Counts` deltas around one action show the
  * job/stage/task/shuffle structure the action ran, and are zero when
  * nothing ran. */
class QueryProfileCountsSpec extends SparkSpec {

  private def withCounts(f: QueryProfile.Counts => Unit): Unit = {
    val counts = new QueryProfile.Counts(spark)
    try f(counts) finally spark.sparkContext.removeSparkListener(counts)
  }

  test("a shuffling groupBy shows jobs, stages, tasks and shuffle bytes") {
    withCounts { counts =>
      val before = counts.snap()
      spark.range(0, 10000, 1, 4)
        .groupBy((col("id") % 7).as("k")).count()
        .collect()
      val after = counts.snap()
      val jobs = after.jobs - before.jobs
      val stages = after.stages - before.stages
      val tasks = after.tasks - before.tasks
      assert(jobs >= 1, s"jobs $jobs")
      assert(stages >= 2, s"stages $stages")
      assert(tasks >= stages, s"tasks $tasks < stages $stages")
      assert(after.shufWriteBytes - before.shufWriteBytes > 0)
    }
  }

  test("two snaps with no action in between give a zero delta") {
    withCounts { counts =>
      val a = counts.snap()
      val b = counts.snap()
      assert(a === b)
    }
  }
}
