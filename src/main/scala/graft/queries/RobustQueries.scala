package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Robust, Skyline}

/** Robust order-statistics and multi-criteria ranking surface:
  * exact weighted median, winsorized/trimmed moments
  * ([[graft.operators.Robust]]) and the customer-value Pareto front
  * ([[graft.operators.Skyline]]).
  */
object RobustQueries {

  /** Quantity-weighted exact median price per return flag. All the
    * order-dependent work (cumulative weights) is exact long
    * arithmetic in cents; the one double division happens on the
    * already-chosen median.
    */
  def weightedMedian(spark: SparkSession, sfDir: String): DataFrame =
    Robust.weightedMedian(
      Tables.lineitem(spark, sfDir).select(
        col("l_returnflag").as("flag"),
        (col("l_extendedprice").cast("decimal(14,2)") * 100)
          .cast("bigint").as("cents"),
        round(col("l_quantity")).cast("bigint").as("w")),
      keyCol = "flag", valueCol = "cents", weightCol = "w")
      .select(col("flag"), col("med").as("med_cents"),
        (col("med").cast("double") / 100).as("w_median"), col("total_w"))

  /** 5%-winsorized and trimmed mean of event values per event type. */
  def winsorizedStats(spark: SparkSession, sfDir: String): DataFrame =
    Robust.winsorizedStats(
      Tables.events(spark, sfDir).select(
        col("event_type"), col("event_id"),
        (col("value").cast("decimal(12,2)") * 100).cast("bigint").as("x")),
      keyCol = "event_type", centsCol = "x", idCol = "event_id")

  /** Customer-value Pareto front: customers not dominated on
    * (total spend, order count, recency). The per-customer rollup is
    * one map-side-partial aggregate; the skyline itself then runs on
    * the already-reduced customer table. The timestamp dimension
    * rides as epoch micros and is dropped on output.
    */
  def skylinePareto(spark: SparkSession, sfDir: String): DataFrame = {
    val perCust = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(
        sum((col("o_totalprice").cast("decimal(14,2)") * 100).cast("bigint"))
          .as("spend"),
        count(lit(1)).as("n_orders"),
        max(col("o_orderdate")).as("last_order"))
      // orders dates are TIMESTAMP_NTZ; the UTC session makes the
      // LTZ cast instant-preserving, so micros order == timestamp order
      .withColumn("_lo", unix_micros(col("last_order").cast("timestamp")))
    Skyline.pareto(perCust, Seq("spend", "n_orders", "_lo"))
      .select(col("o_custkey"), col("spend"), col("n_orders"),
        col("last_order"))
  }

  /** MAD robust outliers on event values per type (|v − med| > 5·MAD,
    * exact lower medians, all-integer decision) — see
    * [[Robust.madOutliers]].
    */
  def madOutliers(spark: SparkSession, sfDir: String): DataFrame =
    Robust.madOutliers(
      Tables.events(spark, sfDir).select(
        col("event_id"), col("event_type"),
        (col("value").cast("decimal(12,2)") * 100).cast("bigint").as("cents")),
      keyCol = "event_type", valueCol = "cents", tieCol = "event_id",
      factor = 5L)

  private val MadOracle =
    """WITH c AS (
      |  SELECT event_id, event_type,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |w1 AS (SELECT event_type, event_id, cents,
      |    CAST(sum(1) OVER (PARTITION BY event_type ORDER BY cents, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS tw
      |  FROM c),
      |m1 AS (SELECT event_type,
      |    CAST(min(CASE WHEN 2 * cw >= tw THEN cents END) AS BIGINT) AS med
      |  FROM w1 GROUP BY 1),
      |d AS (SELECT c.event_id, c.event_type, c.cents, m1.med,
      |    abs(c.cents - m1.med) AS abs_dev
      |  FROM c JOIN m1 USING (event_type)),
      |w2 AS (SELECT event_type, event_id, abs_dev,
      |    CAST(sum(1) OVER (PARTITION BY event_type ORDER BY abs_dev, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS tw
      |  FROM d),
      |m2 AS (SELECT event_type,
      |    CAST(min(CASE WHEN 2 * cw >= tw THEN abs_dev END) AS BIGINT) AS mad
      |  FROM w2 GROUP BY 1)
      |SELECT d.event_type, d.event_id, d.cents, d.med, d.abs_dev, m2.mad
      |FROM d JOIN m2 USING (event_type)
      |WHERE d.abs_dev > 5 * m2.mad""".stripMargin

  val entries: Seq[(String, Query)] = Seq(
    "mad_outliers" -> Query(madOutliers, MadOracle),
    "weighted_median" -> Query(weightedMedian,
      """WITH c AS (
        |  SELECT l_returnflag AS flag, l_orderkey, l_linenumber,
        |    CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents,
        |    CAST(round(l_quantity) AS BIGINT) AS w
        |  FROM lineitem
        |), win AS (
        |  SELECT *,
        |    sum(w) OVER (PARTITION BY flag ORDER BY cents, l_orderkey, l_linenumber
        |                 ROWS UNBOUNDED PRECEDING) AS cw,
        |    sum(w) OVER (PARTITION BY flag) AS tw
        |  FROM c
        |)
        |SELECT flag,
        |  CAST(min(CASE WHEN 2 * cw >= tw THEN cents END) AS BIGINT) AS med_cents,
        |  CAST(min(CASE WHEN 2 * cw >= tw THEN cents END) AS DOUBLE) / 100 AS w_median,
        |  CAST(max(tw) AS BIGINT) AS total_w
        |FROM win GROUP BY 1""".stripMargin),
    "winsorized_stats" -> Query(winsorizedStats,
      """WITH c AS (
        |  SELECT event_type, event_id,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
        |  FROM events
        |), r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_type ORDER BY x, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM c
        |), kk AS (SELECT *, n // 20 AS k FROM r)
        |SELECT event_type,
        |  CAST(max(n) AS BIGINT) AS n, CAST(max(k) AS BIGINT) AS k,
        |  max(CASE WHEN rn = k + 1 THEN x END) AS lo_cents,
        |  max(CASE WHEN rn = n - k THEN x END) AS hi_cents,
        |  CAST(max(k) * (max(CASE WHEN rn = k + 1 THEN x END)
        |                 + max(CASE WHEN rn = n - k THEN x END))
        |       + sum(CASE WHEN rn BETWEEN k + 1 AND n - k THEN x END) AS DOUBLE)
        |    / (100 * max(n)) AS wins_mean,
        |  CASE WHEN max(n) > 2 * max(k) THEN
        |    CAST(sum(CASE WHEN rn BETWEEN k + 1 AND n - k THEN x END) AS DOUBLE)
        |      / (100 * (max(n) - 2 * max(k))) END AS trim_mean
        |FROM kk GROUP BY 1""".stripMargin),
    "skyline_pareto" -> Query(skylinePareto,
      """WITH c AS (
        |  SELECT o_custkey,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS spend,
        |    CAST(count(*) AS BIGINT) AS n_orders,
        |    max(o_orderdate) AS last_order
        |  FROM orders GROUP BY 1
        |)
        |SELECT a.o_custkey, CAST(a.spend AS BIGINT) AS spend, a.n_orders,
        |  a.last_order
        |FROM c a WHERE NOT EXISTS (
        |  SELECT 1 FROM c b
        |  WHERE b.spend >= a.spend AND b.n_orders >= a.n_orders
        |    AND b.last_order >= a.last_order
        |    AND (b.spend > a.spend OR b.n_orders > a.n_orders
        |         OR b.last_order > a.last_order))""".stripMargin)
  )
}
