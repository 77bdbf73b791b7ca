package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared amplification geometry + sweep plumbing for [[Scale]].
  *
  * Every octave sweep grows a base table by disjoint id-shifted copies
  * (`id + copy · IdShift`); the shift MUST clear the base id range or
  * copies collide and every keyed-vs-reference id join silently
  * explodes (ADVICE r11). One constant + one guard here, so a future
  * shift change cannot drift apart from the places that derive the
  * copy index back out of an amplified id. The amplified-scan /
  * bytes-policy / timing helpers live here too. */
private[tools] object Amplify {

  /** Copy stride: copies land at `id + copy · IdShift`. */
  val IdShift = 10000000L

  /** Loud pre-flight: the base table's max id must sit under the
    * stride. */
  def assertClears(maxId: Long, what: String): Unit =
    require(maxId < IdShift,
      s"amplification shift $IdShift must exceed max $what $maxId")

  /** Id-shifted copies of the documents' LENGTH STATS only. Sweeps
    * that rank/sum over (n_chars, n_tokens) must tokenize BEFORE the
    * copy fan-out and repartition — shuffling the ~1.2 KB
    * text payload per copy is dead weight that turns a 13 GB exchange
    * into ~400 GB at ×65536 (it filled the disk on the first r13
    * packing2d attempt; the fix is the same push-the-projection-down
    * discipline the engine's own plans follow). */
  def amplifiedDocStats(spark: SparkSession, d: String,
      mult: Int): DataFrame = {
    val base = graft.Tables.documents(spark, d)
      .select(col("doc_id"), col("source"),
        length(col("text")).as("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val maxId = base.agg(max(col("doc_id"))).collect()(0).getLong(0)
    assertClears(maxId, "doc_id")
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    base.crossJoin(spark.range(mult).select(col("id").as("copy")))
      .select((col("doc_id") + col("copy") * lit(IdShift)).as("doc_id"),
        col("source"), col("n_chars"), col("n_tokens"))
      .repartition(parts)
  }

  /** Set the session's shuffle partitions from the bytes policy for an
    * estimated sweep footprint; returns the count for the log line. */
  def bytesPolicy(spark: SparkSession, rows: Long,
      bytesPerRow: Long): Int = {
    val parts = graft.GraftSession.shufflePartitionsForBytes(
      rows * bytesPerRow)
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    parts
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Octave list override from the given env var, else the default. */
  def mults(envVar: String, default: Seq[Int]): Seq[Int] =
    sys.env.get(envVar)
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(default)
}
