package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reference web app's four serving queries, verbatim semantics,
  * over the engine's own typed tables (`sales`, `stock_movements` as
  * produced by the ingest pipeline) — so a user of the reference can run
  * exactly the queries they run today (reference web-app app.py):
  *
  *  - hourly sales/revenue (app.py:57-66)
  *  - top-5 stock movements by incoming+outgoing (app.py:91-100)
  *  - latest 10 sales (app.py:126-135)
  *  - status counts (app.py:150-168)
  *
  * Each takes the stored table as a DataFrame: time-anchored variants
  * take `now` explicitly because the reference's `now()`-relative
  * predicates (app.py:63,97) are the only nondeterminism in its surface
  * (SURVEY.md §7 risk 2) — callers pass `current_timestamp()` in live
  * serving and a literal in tests/oracles.
  */
object ReferenceDashboard {

  /** app.py:57-66 — last 24 h of sales by hour: sum quantity, sum total,
    * ordered by hour. At most 25 rows, so they are sorted in one
    * partition: a global sort would add a range-sampling job and an
    * exchange to every refresh. */
  def salesByHour(sales: DataFrame, now: Column): DataFrame =
    sales
      .filter(col("event_time") >= now - expr("INTERVAL 1 DAY"))
      .groupBy(date_trunc("hour", col("event_time")).as("hour"))
      .agg(sum(col("quantity")).as("total_quantity"),
           sum(col("total")).cast(DecimalType(38, 2)).as("revenue"))
      .coalesce(1)
      .orderBy("hour")

  /** app.py:91-100 — per product over 7 days: supply quantity as
    * incoming, relocation+write_off as outgoing, top-5 by total
    * movement. One conditional-aggregate pass, TakeOrderedAndProject. */
  def topMovements(movements: DataFrame, now: Column): DataFrame =
    movements
      .filter(col("event_time") >= now - expr("INTERVAL 7 DAY"))
      .groupBy(col("product_id"), col("product_name"))
      .agg(
        sum(when(col("movement_type") === "supply", col("quantity")).otherwise(0))
          .as("incoming"),
        sum(when(col("movement_type").isin("relocation", "write_off"), col("quantity"))
          .otherwise(0)).as("outgoing"))
      .orderBy((col("incoming") + col("outgoing")).desc, col("product_id"))
      .limit(5)

  /** app.py:126-135 — latest 10 sales with the served columns. */
  def recentSales(sales: DataFrame): DataFrame =
    sales
      .select(col("product_id"), col("quantity"), col("price"), col("event_time"),
        col("event_id"))
      .orderBy(col("event_time").desc, col("event_id").desc)
      .limit(10)

  /** app.py:150-168 — row counts per table + readiness flag (`ready`
    * once sales exist). Both tables are counted in one aggregate over a
    * union of row flags, not two aggregates joined. */
  def status(sales: DataFrame, movements: DataFrame): DataFrame =
    sales.select(lit(true).as("is_sale"))
      .unionAll(movements.select(lit(false).as("is_sale")))
      .agg(count(when(col("is_sale"), 1)).as("sales_count"),
           count(when(!col("is_sale"), 1)).as("stock_movements_count"))
      .withColumn("status",
        when(col("sales_count") > 0, "ready").otherwise("waiting"))
}
