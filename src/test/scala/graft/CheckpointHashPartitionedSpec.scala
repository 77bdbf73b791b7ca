package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.graft.GraftPlanBridge.checkpointHashPartitioned
import org.apache.spark.sql.functions.col

/** `checkpointHashPartitioned` declares a hash layout to the planner, so
  * every way of getting that declaration wrong must throw: keys that
  * resolve to no column or to several, a frame that never shuffles, one
  * shuffled on other keys or re-cut by AQE, and a declared sort with no
  * sort behind it. */
class CheckpointHashPartitionedSpec extends SparkSpec {
  import spark.implicits._

  private def pairs: DataFrame =
    (0 until 40).map(i => (i % 7, i % 5, i)).toDF("a", "b", "v")

  private def rejects(df: => DataFrame, keys: Seq[String], sorted: Boolean = false): String =
    intercept[IllegalArgumentException](checkpointHashPartitioned(df, keys, sorted)).getMessage

  private def exchanges(df: DataFrame): Int = {
    df.collect()
    "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size
  }

  test("a key in another letter case resolves; the declared layout holds and saves the exchange") {
    val (frame, rdd) = checkpointHashPartitioned(
      pairs.repartition(3, col("a")).sortWithinPartitions("a"), Seq("A"), sortedByKeys = true)
    try {
      val agg = frame.groupBy("a").count()
      assert(exchanges(agg) === 0)
      assert(agg.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ===
        (0 until 40).groupBy(_ % 7).map { case (k, vs) => k -> vs.size.toLong })
    } finally rdd.unpersist()
  }

  test("a key matching two columns of a frame with duplicate names throws") {
    val l = pairs.select("a", "v"); val r = pairs.select("a", "b")
    val msg = rejects(l.join(r, l("a") === r("a")).repartition(3, l("a")), Seq("a"))
    assert(msg.contains("matches 2 columns"), msg)
    assert(rejects(pairs.repartition(3, col("a")), Seq("nope")).contains("matches 0 columns"))
  }

  test("a caller that never repartitions throws") {
    val msg = rejects(pairs.filter(col("v") > 3), Seq("a"))
    assert(msg.contains("no shuffle"), msg)
  }

  test("a caller that repartitions on other keys throws") {
    val msg = rejects(pairs.repartition(3, col("b")), Seq("a"))
    assert(msg.contains("not on the keys"), msg)
    assert(rejects(pairs.repartition(3, col("a"), col("b")), Seq("b", "a"))
      .contains("not on the keys"))
  }

  test("a repartition without a pinned count, coalesced by AQE, throws") {
    val msg = rejects(pairs.repartition(col("a")), Seq("a"))
    assert(msg.contains("re-cuts"), msg)
  }

  test("a declared sort without a sort on the keys after the shuffle throws") {
    assert(rejects(pairs.repartition(3, col("a")), Seq("a"), sorted = true)
      .contains("no sort on the keys"))
    assert(rejects(pairs.repartition(3, col("a")).sortWithinPartitions("b"), Seq("a"), sorted = true)
      .contains("no sort on the keys"))
    // a sort on the keys BELOW the shuffle does not survive it
    assert(rejects(pairs.sortWithinPartitions("a").repartition(3, col("a")), Seq("a"), sorted = true)
      .contains("no sort on the keys"))
  }
}
