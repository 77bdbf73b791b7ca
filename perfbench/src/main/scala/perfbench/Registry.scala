package perfbench

import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** A named slice of the query registry, run as the registry's own
  * benchmark runs it: each query materialized through the `noop` sink. */
object Registry {

  /** One query of every pack; for Dedup, `dedup_minhash_row`, one of the
    * job-heavy queries the roadmap names. The other named ones
    * (`semantic_dedup_ivf_auto`, `bpe_train_inc`, `bpe_encode`,
    * `graph_triangles`, `pagerank`, `mine_bitext_mutual`,
    * `token_budget_admission`) take 2-8 s each on four cores, cold and
    * warm passes together more than a run can spend. */
  val slice: Seq[String] = Seq(
    "status_counts",     // Dashboard
    "q1_agg",            // Relational
    "q14_promo",         // TpcH
    "string_funcs",      // Extended
    "serve_recent_feed", // Serving
    "dedup_minhash_row", // Dedup
    "ann_topk",          // Similarity
    "text_tokens",       // TextAnalysis
    "mm_meta")           // Multimodal

  def packName(p: graft.queries.QueryPack): String = p.getClass.getSimpleName.stripSuffix("$")

  /** Pack name of every registered query. */
  lazy val packOf: Map[String, String] =
    SparkEntry.packs.flatMap(p => p.queries.keys.map(_ -> packName(p))).toMap

  /** Passes a run makes at least, so each query's median has three samples. */
  val MinPasses = 3

  /** Seconds of every timed run of each query, and the epoch-ms window
    * of the timed passes. */
  final case class Result(seconds: Map[String, Seq[Double]], passes: Int, warmS: Double,
      fromMs: Long, toMs: Long)

  /** Write each query's result to `resultsDir/<name>` (the untimed warm
    * pass), then time passes in a seed-permuted order: at least
    * [[MinPasses]], and more while another is expected to end within
    * `budgetS`. */
  def run(spark: SparkSession, corpus: String, slice: Seq[String], resultsDir: String,
      seed: Long, budgetS: Double, tracer: Tracer): Result = {
    val queries = SparkEntry.queries
    slice.foreach(q => require(queries.contains(q), s"query $q is not registered"))
    val sc = spark.sparkContext
    val w0 = System.nanoTime()
    tracer.span("registry.warm") {
      slice.foreach { q =>
        sc.setJobGroup(s"registry-warm:$q", q)
        tracer.span(s"registry.warm.$q") {
          queries(q)(spark, corpus).write.mode("overwrite").parquet(s"$resultsDir/$q")
        }
      }
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    val times = mutable.LinkedHashMap(slice.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val rnd = new Random(seed)
    val fromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var passes = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passes < MinPasses || elapsed * (passes + 1) / passes <= budgetS) {
      rnd.shuffle(slice).foreach { q =>
        sc.setJobGroup(s"registry:$q", q)
        val s = System.nanoTime()
        tracer.span(s"registry.$q") {
          queries(q)(spark, corpus).write.format("noop").mode("overwrite").save()
        }
        times(q) += (System.nanoTime() - s) / 1e9
      }
      passes += 1
    }
    sc.clearJobGroup()
    Result(times.map { case (k, v) => k -> v.toSeq }.toMap, passes, warmS, fromMs,
      System.currentTimeMillis())
  }
}
