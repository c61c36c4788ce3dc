package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Driver-contract queries over the `events` table.
  *
  * These exercise the engine's aggregate/window surface on generic data
  * (FIXTURES.md §3 maps `user_id` ≈ client_ip, `ts` ≈ time). Each query
  * carries its DuckDB-oracle twin in [[entries]]; column names must match
  * the Spark output exactly (the oracle compare sorts columns by name
  * before hashing).
  *
  * Float determinism: `value` carries exactly 2 decimals, so
  * `round(sum(value), 3)` is exact in both engines regardless of
  * summation order; averages are derived from that rounded sum with
  * identical arithmetic on both sides.
  */
object EventQueries {

  /** Hourly traffic aggregate — Spark mapping of the reference's flagship
    * `export_hourly_aggregates` (reference elb_logs.py:351-368): 6-key
    * groupBy with count / countDistinct / mean / exact median / sums /
    * conditional counts. Single hash-aggregate shuffle on the group keys;
    * partial aggregation (map-side combine) comes free from groupBy.
    */
  def hourlyAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    e.groupBy(
        year(col("ts")).as("request_year"),
        month(col("ts")).as("request_month"),
        dayofmonth(col("ts")).as("request_day"),
        hour(col("ts")).as("request_hour"),
        col("event_type"))
      .agg(
        count(col("user_id")).as("request_count"),
        countDistinct(col("user_id")).as("unique_users_count"),
        round(sum(col("value")), 3).as("sum_value"),
        round(median(col("value")), 3).as("median_value"),
        count_if(col("value") > 100).as("count_hi"),
        count_if(col("value") <= 100 && col("value") > 10).as("count_mid"),
        count_if(col("value") <= 10).as("count_lo"))
      .withColumn("avg_value", col("sum_value") / col("request_count"))
  }

  /** Sessionization (SURVEY.md §2 ops 35, 39, 40) over events:
    * user_id ≈ client_ip, ts ≈ time. Exposes the full gaps-and-islands
    * derivation so the oracle checks every intermediate.
    */
  def sessionizeQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Sessionize.sessionize(
        Tables.events(spark, sfDir),
        keyCol = "user_id", timeCol = "ts", tieBreak = col("event_id"))
      .select("event_id", "user_id", "ts",
        "time_diff_micros", "new_session", "session_number", "session_id")

  /** Trailing rolling-window features (ops 36-38) with the pandas
    * left-open frame. Averages are derived from an exact decimal sum so
    * the DuckDB comparison is bit-stable regardless of each engine's
    * window summation order.
    */
  def rollingQ(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Rolling
    val e = Tables.events(spark, sfDir)
    val w5 = Rolling.trailing(col("user_id"), col("ts"), Rolling.FiveMinutes)
    val w1 = Rolling.trailing(col("user_id"), col("ts"), Rolling.OneHour)
    e.withColumn("rolling_5min_count", count(col("event_id")).over(w5))
      .withColumn("rolling_1h_avg_value",
        sum(col("value").cast("decimal(12,2)")).over(w1).cast("double")
          / count(col("value")).over(w1))
      .select("event_id", "user_id", "ts", "rolling_5min_count", "rolling_1h_avg_value")
  }

  /** [[rollingQ]] through [[Rolling.trailingChunked]] — identical
    * output (same oracle SQL), hot-key-robust plan: the window
    * partitions by (user, hour-block) with carry replication instead
    * of by user alone, so a mega-user splits across tasks.
    */
  def rollingChunkedQ(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Rolling
    val e = Tables.events(spark, sfDir)
    Rolling.trailingChunked(e, col("user_id"), col("ts"), Rolling.OneHour)(
      (Rolling.FiveMinutes, w => count(col("event_id")).over(w),
        "rolling_5min_count"),
      (Rolling.OneHour,
        w => sum(col("value").cast("decimal(12,2)")).over(w).cast("double")
          / count(col("value")).over(w), "rolling_1h_avg_value"))
      .select("event_id", "user_id", "ts", "rolling_5min_count", "rolling_1h_avg_value")
  }

  /** Multi-level rollup with grouping indicators — the grouping-sets
    * surface the reference lacks but any OLAP consumer of this engine
    * expects. Spark `grouping()` yields TINYINT; cast to long to match
    * DuckDB's BIGINT.
    */
  def rollupAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("m", month(col("ts")))
      .rollup(col("event_type"), col("m"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value")), 3).as("sum_value"),
        grouping(col("event_type")).cast("long").as("g_type"),
        grouping(col("m")).cast("long").as("g_month"))

  /** The same engine through the pure-SQL entry path: temp view +
    * spark.sql — proves the catalog/SQL surface works end-to-end.
    */
  def sqlDaily(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir).createOrReplaceTempView("events_v")
    spark.sql(
      """SELECT event_type, CAST(date_trunc('DAY', ts) AS DATE) AS day,
        |  count(*) AS n, round(sum(value), 3) AS sum_value
        |FROM events_v GROUP BY 1, 2""".stripMargin)
  }

  /** Hopping (sliding) window aggregate: 1-hour windows every 15
    * minutes. Spark's `window(ts, len, slide)` generates the ≤ 4
    * covering windows per row map-side (a generate, not a join), then
    * one hash-aggregate shuffle on (window, type) — the DuckDB twin
    * reconstructs the same window set arithmetically (floor to the
    * slide, back off k slides).
    */
  def hoppingAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 3).as("sum_value"))
      .select(col("window.start").as("ws"), col("window.end").as("we"),
        col("event_type"), col("n"), col("sum_value"))

  /** Burst compaction: keep only the FIRST event of each burst per
    * (user, type), where a burst is a run of events each within 300 s
    * of its predecessor — the impression-dedup / retry-collapse pass a
    * training-data event pipeline runs before counting anything. Same
    * gap-boundary rule as sessionization, so it is one lag over one
    * (user, type)-keyed sort; emitted rows carry the burst's length so
    * the compaction is auditable (sum(burst_len) = input rows).
    */
  def dedupBurst(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Analytics.burstCompact(Tables.events(spark, sfDir),
      Seq("user_id", "event_type"), "ts", "event_id", gapMicros = 300000000L)

  /** EWMA (α = ½, 16 half-lives) of event value per user on the exact
    * integer-cents domain — see [[graft.operators.Rolling.ewmaLast]]
    * for why truncated power-of-two weights are the only EWMA that
    * hash-verifies across engines. The oracle reconstructs each frame
    * by a rn-banded self-join (≤16 rows per anchor), which is the
    * formulation the window version REPLACES: the join fans every row
    * out 16×, the window reads each row once.
    */
  def ewmaQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Rolling.ewmaLast(
      Tables.events(spark, sfDir).select(
        col("event_id"), col("user_id"), col("ts"),
        (col("value").cast("decimal(12,2)") * 100).cast("bigint").as("cents")),
      keyCol = "user_id", timeCol = "ts", tieCol = "event_id",
      centsCol = "cents", depth = 16)
      .select(col("event_id"), col("user_id"), col("cents"),
        col("ewma_num"), col("ewma_den"), col("ewma"))

  val entries: Seq[(String, Query)] = Seq(
    "ewma_features" -> Query(ewmaQ,
      """WITH c AS (
        |  SELECT event_id, user_id, ts,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events
        |)
        |SELECT a.event_id, a.user_id, a.cents,
        |  CAST(coalesce(sum(b.cents * (CAST(1 AS BIGINT) << (15 - (a.rn - b.rn))))
        |    FILTER (WHERE b.cents IS NOT NULL), 0) AS BIGINT) AS ewma_num,
        |  CAST(coalesce(sum(CAST(1 AS BIGINT) << (15 - (a.rn - b.rn)))
        |    FILTER (WHERE b.cents IS NOT NULL), 0) AS BIGINT) AS ewma_den,
        |  CASE WHEN coalesce(sum(CAST(1 AS BIGINT) << (15 - (a.rn - b.rn)))
        |      FILTER (WHERE b.cents IS NOT NULL), 0) > 0 THEN
        |    CAST(coalesce(sum(b.cents * (CAST(1 AS BIGINT) << (15 - (a.rn - b.rn))))
        |      FILTER (WHERE b.cents IS NOT NULL), 0) AS DOUBLE)
        |    / coalesce(sum(CAST(1 AS BIGINT) << (15 - (a.rn - b.rn)))
        |      FILTER (WHERE b.cents IS NOT NULL), 0)
        |  END AS ewma
        |FROM c a JOIN c b
        |  ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 15 AND a.rn
        |GROUP BY a.event_id, a.user_id, a.cents""".stripMargin),
    "dedup_burst" -> Query(dedupBurst,
      """WITH x AS (
        |  SELECT event_id, user_id, event_type, ts,
        |    lag(ts) OVER w AS prev_ts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
        |), k AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR epoch_us(ts) - epoch_us(prev_ts) > 300000000
        |    THEN 1 ELSE 0 END AS keep
        |  FROM x
        |), b AS (
        |  SELECT *, sum(keep) OVER (
        |    PARTITION BY user_id, event_type ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS burst
        |  FROM k
        |)
        |SELECT CAST(min(CASE WHEN keep = 1 THEN event_id END) AS BIGINT)
        |    AS event_id,
        |  user_id, event_type, min(ts) AS ts,
        |  CAST(count(*) AS BIGINT) AS burst_len
        |FROM b GROUP BY user_id, event_type, burst""".stripMargin),
    "hopping_agg" -> Query(hoppingAgg,
      """WITH hops AS (
        |  SELECT event_type, value,
        |    time_bucket(INTERVAL 15 MINUTES, ts)
        |      - CAST(unnest([0, 1, 2, 3]) * 15 AS BIGINT) * INTERVAL 1 MINUTE AS ws
        |  FROM events
        |)
        |SELECT ws, ws + INTERVAL 1 HOUR AS we, event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value), 3) AS sum_value
        |FROM hops GROUP BY 1, 2, 3""".stripMargin),
    "hourly_agg" -> Query(hourlyAgg,
      """SELECT year(ts) AS request_year, month(ts) AS request_month,
        |  day(ts) AS request_day, hour(ts) AS request_hour, event_type,
        |  count(user_id) AS request_count,
        |  count(DISTINCT user_id) AS unique_users_count,
        |  round(sum(value), 3) AS sum_value,
        |  round(median(value), 3) AS median_value,
        |  count(*) FILTER (value > 100) AS count_hi,
        |  count(*) FILTER (value <= 100 AND value > 10) AS count_mid,
        |  count(*) FILTER (value <= 10) AS count_lo,
        |  round(sum(value), 3) / count(user_id) AS avg_value
        |FROM events
        |GROUP BY 1, 2, 3, 4, 5""".stripMargin),
    "sessionize" -> Query(sessionizeQ,
      """WITH d AS (
        |  SELECT event_id, user_id, ts,
        |    coalesce(epoch_us(ts) - lag(epoch_us(ts)) OVER w, 0) AS time_diff_micros
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT *, time_diff_micros > 1800000000 AS new_session FROM d
        |)
        |SELECT event_id, user_id, ts, time_diff_micros, new_session,
        |  CAST(sum(CASE WHEN new_session THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_number,
        |  user_id || '_s' ||
        |  CAST(sum(CASE WHEN new_session THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |FROM s""".stripMargin),
    "rollup_agg" -> Query(rollupAgg,
      """SELECT event_type, m,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value), 3) AS sum_value,
        |  CAST(grouping(event_type) AS BIGINT) AS g_type,
        |  CAST(grouping(m) AS BIGINT) AS g_month
        |FROM (SELECT event_type, month(ts) AS m, value FROM events)
        |GROUP BY ROLLUP (event_type, m)""".stripMargin),
    "sql_daily" -> Query(sqlDaily,
      """SELECT event_type, CAST(date_trunc('DAY', ts) AS DATE) AS day,
        |  CAST(count(*) AS BIGINT) AS n, round(sum(value), 3) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),
    "rolling_window_chunked" -> Query(rollingChunkedQ,
      """SELECT event_id, user_id, ts,
        |  count(event_id) OVER w5 AS rolling_5min_count,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w1 AS DOUBLE)
        |    / count(value) OVER w1 AS rolling_1h_avg_value
        |FROM events
        |WINDOW
        |  w5 AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |         RANGE BETWEEN 299999999 PRECEDING AND CURRENT ROW),
        |  w1 AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |         RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)""".stripMargin),
    "rolling_window" -> Query(rollingQ,
      """SELECT event_id, user_id, ts,
        |  count(event_id) OVER w5 AS rolling_5min_count,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w1 AS DOUBLE)
        |    / count(value) OVER w1 AS rolling_1h_avg_value
        |FROM events
        |WINDOW
        |  w5 AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |         RANGE BETWEEN 299999999 PRECEDING AND CURRENT ROW),
        |  w1 AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |         RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)""".stripMargin)
  )
}
