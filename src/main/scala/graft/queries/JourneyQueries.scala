package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.operators.Journey

/** User-journey surface over `events`: multi-touch attribution and
  * Markov transition estimation (operators in [[graft.operators.Journey]]).
  */
object JourneyQueries {

  /** Purchase conversions attributed to view/click touches. */
  def attributionTouch(spark: SparkSession, sfDir: String): DataFrame =
    Journey.attribution(Tables.events(spark, sfDir),
      userCol = "user_id", tsCol = "ts", idCol = "event_id",
      typeCol = "event_type", valueCol = "value",
      convType = "purchase", touchTypes = Seq("view", "click"))

  /** Row-stochastic event-type transition matrix. */
  def markovTransitions(spark: SparkSession, sfDir: String): DataFrame =
    Journey.markovTransitions(Tables.events(spark, sfDir),
      userCol = "user_id", tsCol = "ts", idCol = "event_id",
      typeCol = "event_type")

  /** Welch t readout of the md5 hash-split purchase-count experiment. */
  def abTest(spark: SparkSession, sfDir: String): DataFrame =
    Journey.abTest(Tables.events(spark, sfDir),
      userCol = "user_id", typeCol = "event_type", convType = "purchase")

  /** DAU / 7-day WAU / stickiness per observed day. */
  def dauWau(spark: SparkSession, sfDir: String): DataFrame =
    Journey.dauWau(Tables.events(spark, sfDir),
      userCol = "user_id", tsCol = "ts")

  /** Top 20 five-step opening journeys. */
  def topPaths(spark: SparkSession, sfDir: String): DataFrame =
    Journey.topPaths(Tables.events(spark, sfDir),
      userCol = "user_id", tsCol = "ts", idCol = "event_id",
      typeCol = "event_type")

  val entries: Seq[(String, Query)] = Seq(
    "attribution_touch" -> Query(attributionTouch,
      """WITH ev AS (
        |  SELECT event_id, user_id, ts, event_type, value,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM events
        |), seg AS (
        |  SELECT *,
        |    CASE WHEN event_type = 'purchase' THEN cum ELSE cum + 1 END AS seg,
        |    CASE WHEN event_type IN ('view', 'click') THEN 1 ELSE 0 END AS is_touch
        |  FROM ev
        |), ag AS (
        |  SELECT *,
        |    sum(is_touch) OVER (PARTITION BY user_id, seg) AS n,
        |    sum(is_touch) OVER (PARTITION BY user_id, seg ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS idx,
        |    max(CASE WHEN event_type = 'purchase' THEN value END)
        |      OVER (PARTITION BY user_id, seg) AS conv_value
        |  FROM seg
        |)
        |SELECT event_type AS channel,
        |  CAST(count(*) AS BIGINT) AS touches,
        |  round(sum(CAST(1 AS DOUBLE) / n), 6) AS conv_linear,
        |  round(sum(CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
        |                 WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
        |                 WHEN idx = 1 OR idx = n THEN CAST(0.4 AS DOUBLE)
        |                 ELSE CAST(0.2 AS DOUBLE) / (n - 2) END), 6) AS conv_ushape,
        |  CAST(sum(CASE WHEN idx = 1 THEN 1 ELSE 0 END) AS BIGINT) AS conv_first,
        |  CAST(sum(CASE WHEN idx = n THEN 1 ELSE 0 END) AS BIGINT) AS conv_last,
        |  round(sum(conv_value * (CAST(1 AS DOUBLE) / n)), 3) AS rev_linear
        |FROM ag
        |WHERE is_touch = 1 AND conv_value IS NOT NULL
        |GROUP BY 1""".stripMargin),
    "markov_transitions" -> Query(markovTransitions,
      """WITH s AS (
        |  SELECT event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM events
        |)
        |SELECT src, dst, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (PARTITION BY src) AS p
        |FROM s WHERE dst IS NOT NULL
        |GROUP BY src, dst""".stripMargin),
    "ab_test" -> Query(abTest,
      """WITH u AS (
        |  SELECT user_id,
        |    CASE WHEN substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 1)
        |      IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS variant,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), s AS (
        |  SELECT
        |    CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN variant = 'A' THEN x ELSE 0 END) AS BIGINT) AS s_a,
        |    CAST(sum(CASE WHEN variant = 'A' THEN x * x ELSE 0 END) AS BIGINT) AS q_a,
        |    CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN variant = 'B' THEN x ELSE 0 END) AS BIGINT) AS s_b,
        |    CAST(sum(CASE WHEN variant = 'B' THEN x * x ELSE 0 END) AS BIGINT) AS q_b
        |  FROM u
        |)
        |SELECT n_a, n_b,
        |  CAST(s_a AS DOUBLE) / n_a AS mean_a,
        |  CAST(s_b AS DOUBLE) / n_b AS mean_b,
        |  CAST(n_a * q_a - s_a * s_a AS DOUBLE)
        |    / (CAST(n_a AS DOUBLE) * n_a * (n_a - 1)) AS var_mean_a,
        |  CAST(n_b * q_b - s_b * s_b AS DOUBLE)
        |    / (CAST(n_b AS DOUBLE) * n_b * (n_b - 1)) AS var_mean_b,
        |  (CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
        |    / sqrt(CAST(n_a * q_a - s_a * s_a AS DOUBLE)
        |             / (CAST(n_a AS DOUBLE) * n_a * (n_a - 1))
        |         + CAST(n_b * q_b - s_b * s_b AS DOUBLE)
        |             / (CAST(n_b AS DOUBLE) * n_b * (n_b - 1))) AS t_welch
        |FROM s""".stripMargin),
    "dau_wau" -> Query(dauWau,
      """WITH ad AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM ad),
        |fan AS (SELECT DISTINCT user_id, CAST(day + INTERVAL (i) DAY AS DATE) AS wday
        |        FROM ad, generate_series(0, 6) AS t(i)),
        |wau AS (SELECT days.day, CAST(count(*) AS BIGINT) AS wau
        |        FROM fan JOIN days ON fan.wday = days.day GROUP BY 1),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ad GROUP BY 1)
        |SELECT d.day, d.dau, w.wau, CAST(d.dau AS DOUBLE) / w.wau AS stickiness
        |FROM dau d JOIN wau w ON d.day = w.day""".stripMargin),
    "top_paths" -> Query(topPaths,
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events
        |), p AS (
        |  SELECT user_id, concat_ws('>',
        |    min(CASE WHEN rn = 1 THEN event_type END),
        |    min(CASE WHEN rn = 2 THEN event_type END),
        |    min(CASE WHEN rn = 3 THEN event_type END),
        |    min(CASE WHEN rn = 4 THEN event_type END),
        |    min(CASE WHEN rn = 5 THEN event_type END)) AS path
        |  FROM r WHERE rn <= 5 GROUP BY 1
        |)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_users
        |FROM p GROUP BY 1 ORDER BY n_users DESC, path LIMIT 20""".stripMargin)
  )
}
