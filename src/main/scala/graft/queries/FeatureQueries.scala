package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Resample, TimeSeries}

/** Feature-engineering queries a training-data pipeline runs between
  * "raw corpus" and "batches": time-series features (autocorrelation,
  * seasonal-residual anomalies), equal-frequency value binning,
  * sequence-length bucketing for batch packing, and Poisson-bootstrap
  * uncertainty — each with a bit-exact DuckDB oracle twin (integer
  * moments everywhere; each float is ONE identical expression).
  */
object FeatureQueries {

  private def cents(c: org.apache.spark.sql.Column) =
    (c.cast("decimal(12,2)") * 100).cast("bigint")

  private val centsSql =
    "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"

  /** Hourly-count autocorrelation per event_type at lags 1..3 —
    * "does traffic now predict traffic an hour from now". See
    * [[TimeSeries.acf]] for the exact-moment formulation.
    */
  def tsAcf(spark: SparkSession, sfDir: String): DataFrame =
    TimeSeries.acf(Tables.events(spark, sfDir),
        keyCol = "event_type", tsCol = "ts", bucket = "hour", maxLag = 3)
      .select("event_type", "lag", "n_pairs", "acf")

  /** Seasonal (hour-of-day) residual anomalies: events whose value sits
    * more than 250.00 away from their (type, hour-of-day) cell mean.
    * The deviation is carried n-scaled (exact integers) so no division
    * ever happens — see [[TimeSeries.seasonalOutliers]].
    */
  private def seasonalCols(e: DataFrame): DataFrame =
    e.select(col("event_id"), col("event_type"),
      hour(col("ts")).as("hod"), cents(col("value")).as("cents"))

  def seasonalAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val e = seasonalCols(Tables.events(spark, sfDir))
    TimeSeries.seasonalOutliers(e, col("event_type"), col("hod"),
        col("cents"), thresholdUnits = 25000L)
      .select("event_id", "event_type", "hod", "cents",
        "n_cell", "sum_cell", "dev_scaled")
  }

  /** Streaming twin of [[seasonalAnomaly]]: the profile builds ONCE on
    * the static table, the live stream scores statelessly against the
    * broadcast cells (stream-static join, Append mode, NO state store —
    * the same monitoring topology a production anomaly alerter runs:
    * nightly profile, streaming scorer). Deterministic, so it shares
    * seasonal_anomaly's oracle verbatim.
    */
  def streamingSeasonal(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.streaming.StreamingPipeline
    val cells = TimeSeries.seasonalCells(
      seasonalCols(Tables.events(spark, sfDir)),
      col("event_type"), col("hod"), col("cents"))
    val stream = seasonalCols(StreamingPipeline.readEvents(spark, sfDir))
    val scored = TimeSeries.scoreSeasonal(stream, cells,
        col("event_type"), col("hod"), col("cents"), thresholdUnits = 25000L)
      .select("event_id", "event_type", "hod", "cents",
        "n_cell", "sum_cell", "dev_scaled")
    StreamingPipeline.runToMemory(scored, "graft_stream_seasonal",
      org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** Linear time-interpolation of a 10%-md5-planted missing-value mask
    * over each user's event series — the pandas
    * `interpolate(method="time")` contract; see
    * [[TimeSeries.interpolate]]. The fixture has no real nulls, so the
    * mask is planted deterministically (same literal threshold in the
    * oracle) to exercise interior gaps, head/tail extrapolation, and
    * runs of consecutive nulls.
    */
  def tsInterpolate(spark: SparkSession, sfDir: String): DataFrame = {
    val t10 = graft.operators.Sampling.fractionThreshold(0.1)
    val e = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"),
        cents(col("value")).as("cents"))
      .withColumn("v_obs",
        when(md5(concat(lit("gapi:"), col("event_id").cast("string")))
          < lit(t10), lit(null).cast("bigint"))
          .otherwise(col("cents")))
    TimeSeries.interpolate(e, col("user_id"), unix_micros(col("ts")),
        col("v_obs"), col("event_id"))
      .select(col("event_id"), col("user_id"), col("_t").as("tmicros"),
        col("v_obs"), col("filled"))
  }

  /** Train/serve drift monitor: total-variation distance between the
    * first and second time-half of each event type's value
    * distribution over pooled deciles — see [[graft.operators.Drift]]
    * for why TV (and not PSI/KL) is the oracle-exact choice. The time
    * split is the exact integer midpoint of the observed µs range (one
    * 1-row broadcast, the split_temporal device).
    */
  def driftDetect(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .select(col("event_type"), cents(col("value")).as("cents"),
        unix_micros(col("ts")).as("t"))
    val bounds = e.agg(min(col("t")).as("mn"), max(col("t")).as("mx"))
    val flagged = e.crossJoin(broadcast(bounds))
      .withColumn("in_a", col("t") <= expr("(mn + mx) DIV 2"))
    graft.operators.Drift.tvDrift(flagged, col("event_type"), col("cents"),
        col("in_a"), bins = 10)
      .select(col("_k").as("event_type"), col("n_bins"),
        col("tot_a"), col("tot_b"), col("tv_num"), col("tv"))
  }

  /** Equal-frequency (decile) VALUE binning of order totals — the qcut
    * primitive behind feature bucketization. Bins are assigned per
    * distinct value (rows with equal values share a bin, pandas-qcut
    * style), which is what makes the operator scale-sane: the global
    * cumulative window runs over the DISTINCT-value table (bounded by
    * the value domain, ~|prices|), never over raw rows — the same
    * distinct-table discipline as auc_exact. Bin of a value =
    * ⌊rank_before·10 / n⌋ in exact integers, capped at 9.
    */
  def featureBins(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.orders(spark, sfDir)
      .select(cents(col("o_totalprice")).as("cents"))
    val vals = c.groupBy("cents").agg(count(lit(1)).as("cnt"))
    val wBefore = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val total = vals.agg(sum(col("cnt")).as("n_total"))
    val binned = vals
      .withColumn("cum_before", coalesce(sum(col("cnt")).over(wBefore), lit(0L)))
      .crossJoin(broadcast(total))
      .withColumn("bin", least(lit(9L), expr("(cum_before * 10) DIV n_total")))
    binned.groupBy("bin")
      .agg(sum(col("cnt")).as("n_rows"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"),
        sum(col("cents") * col("cnt")).as("sum_cents"))
  }

  /** Sequence-length bucketing for batch packing: documents banded into
    * 16-token-wide buckets, with the padding waste each bucket pays if
    * every member pads to the bucket ceiling — the table a batching
    * scheduler reads to pick bucket boundaries. Pure integer arithmetic
    * over the repo's standard whitespace word count.
    */
  def lengthBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(graft.operators.TextAnalysis.wordCount(col("text"))
        .cast("bigint").as("n_words"))
      .withColumn("bucket", expr("n_words DIV 16"))
    d.groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_words")).as("min_words"),
        max(col("n_words")).as("max_words"),
        sum(col("n_words")).as("sum_words"),
        sum((col("bucket") + 1) * 16 - col("n_words")).as("pad_waste"))
  }

  /** 32-replicate Poisson bootstrap of the mean event value (in cents):
    * the scale-correct bootstrap — per-row md5-deterministic Poisson(1)
    * weights, every replicate a weighted sum in the SAME single
    * aggregate pass, no row expansion. See [[Resample.bootstrapMeans]].
    */
  def bootstrapCi(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .select(col("event_id"), cents(col("value")).as("cents"))
    // the fixture is ONE parquet file → one scan split; spread the
    // CPU-bound draw projection across the session's cores (see the
    // spread doc on bootstrapMeans — on a many-split table leave unset)
    Resample.bootstrapMeans(e, col("event_id"), col("cents"),
      reps = 32, salt = "boot",
      spread = Some(spark.sparkContext.defaultParallelism))
  }

  /** Categorical association between event type and hour-of-day — does
    * the event mix move with the clock (the "is this feature worth a
    * model input" screen)? See
    * [[graft.operators.Analytics.featureAssoc]] for the exact-integer
    * PMI/leverage contract.
    */
  def featureAssoc(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Analytics.featureAssoc(
      Tables.events(spark, sfDir),
      xCol = col("event_type"),
      yCol = hour(col("ts")).cast("bigint"))
      .withColumnRenamed("_x", "event_type")
      .withColumnRenamed("_y", "hr")

  /** Robust daily-volume trend per event type: Theil–Sen slope over the
    * per-day count series (collapse to daily counts FIRST — the
    * pairwise slope set is then bounded by days², not rows). See
    * [[graft.operators.TimeSeries.theilSenTrend]].
    */
  def trendTheilsen(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("x", datediff(col("day"), lit("1970-01-01")).cast("long"))
    TimeSeries.theilSenTrend(
      daily.select("event_type", "x", "cnt"), "event_type", "x", "cnt")
  }

  private val bootThresholds = Resample.cdfThresholds

  private val SeasonalOracle =
    s"""WITH c AS (
       |  SELECT event_id, event_type,
       |    CAST(EXTRACT(hour FROM ts) AS INT) AS hod,
       |    $centsSql AS cents
       |  FROM events),
       |cell AS (
       |  SELECT event_type, hod,
       |    CAST(count(*) AS BIGINT) AS n_cell,
       |    CAST(sum(cents) AS BIGINT) AS sum_cell
       |  FROM c GROUP BY 1, 2)
       |SELECT event_id, c.event_type, c.hod, c.cents, n_cell, sum_cell,
       |  c.cents * n_cell - sum_cell AS dev_scaled
       |FROM c JOIN cell USING (event_type, hod)
       |WHERE abs(c.cents * n_cell - sum_cell) > 25000 * n_cell""".stripMargin

  val entries: Seq[(String, Query)] = Seq(
    "ts_acf" -> Query(tsAcf,
      """WITH series AS (
        |  SELECT event_type, date_trunc('hour', ts) AS bkt,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |lagged AS (
        |  SELECT event_type, x,
        |    lag(x, 1) OVER (PARTITION BY event_type ORDER BY bkt) AS l1,
        |    lag(x, 2) OVER (PARTITION BY event_type ORDER BY bkt) AS l2,
        |    lag(x, 3) OVER (PARTITION BY event_type ORDER BY bkt) AS l3
        |  FROM series),
        |stacked AS (
        |  SELECT event_type, 1 AS lag, x, l1 AS y FROM lagged WHERE l1 IS NOT NULL
        |  UNION ALL
        |  SELECT event_type, 2 AS lag, x, l2 AS y FROM lagged WHERE l2 IS NOT NULL
        |  UNION ALL
        |  SELECT event_type, 3 AS lag, x, l3 AS y FROM lagged WHERE l3 IS NOT NULL),
        |m AS (
        |  SELECT event_type, lag,
        |    CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM stacked GROUP BY 1, 2)
        |SELECT event_type, CAST(lag AS INT) AS lag, n_pairs,
        |  CASE WHEN n_pairs * sxx - sx * sx = 0
        |         OR n_pairs * syy - sy * sy = 0 THEN NULL
        |       ELSE CAST(n_pairs * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
        |       * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))) END AS acf
        |FROM m""".stripMargin),
    "ts_interpolate" -> Query(tsInterpolate, {
      val t10 = graft.operators.Sampling.fractionThreshold(0.1)
      s"""WITH c AS (
         |  SELECT event_id, user_id, epoch_us(ts) AS t, $centsSql AS cents
         |  FROM events),
         |g AS (SELECT event_id, user_id, t,
         |    CASE WHEN md5('gapi:' || CAST(event_id AS VARCHAR)) < '$t10'
         |         THEN NULL ELSE cents END AS v
         |  FROM c),
         |w AS (SELECT event_id, user_id, t AS tmicros, v AS v_obs,
         |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
         |      ORDER BY t, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         |    last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY t, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         |    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
         |      ORDER BY t, event_id
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         |    first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY t, event_id
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
         |  FROM g)
         |SELECT event_id, user_id, tmicros, v_obs,
         |  CASE WHEN v_obs IS NOT NULL THEN CAST(v_obs AS DOUBLE)
         |       WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
         |       WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
         |       WHEN nt = pt THEN CAST(pv AS DOUBLE)
         |       ELSE CAST(pv AS DOUBLE) + CAST(nv - pv AS DOUBLE)
         |         * (CAST(tmicros - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
         |  END AS filled
         |FROM w""".stripMargin
    }),
    "trend_theilsen" -> Query(trendTheilsen,
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |), d AS (
        |  SELECT event_type, CAST(day - DATE '1970-01-01' AS BIGINT) AS x, cnt
        |  FROM daily
        |), p AS (
        |  SELECT a.event_type,
        |    CAST(b.cnt - a.cnt AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
        |  FROM d a JOIN d b ON a.event_type = b.event_type AND a.x < b.x
        |), r AS (
        |  SELECT event_type, slope,
        |    row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS m
        |  FROM p
        |)
        |SELECT event_type, CAST(max(m) AS BIGINT) AS n_pairs,
        |  (min(slope) + max(slope)) / 2.0 AS slope
        |FROM r WHERE rn = (m + 1) // 2 OR rn = m // 2 + 1
        |GROUP BY 1""".stripMargin),
    "feature_assoc" -> Query(featureAssoc,
      """WITH cell AS (
        |  SELECT event_type, CAST(extract(hour FROM ts) AS BIGINT) AS hr,
        |    count(*) AS n_xy
        |  FROM events GROUP BY 1, 2
        |), nx AS (SELECT event_type, sum(n_xy) AS n_x FROM cell GROUP BY 1),
        |ny AS (SELECT hr, sum(n_xy) AS n_y FROM cell GROUP BY 1),
        |t AS (SELECT sum(n_xy) AS n_tot FROM cell)
        |SELECT event_type, hr,
        |  CAST(n_xy AS BIGINT) AS n_xy, CAST(n_x AS BIGINT) AS n_x,
        |  CAST(n_y AS BIGINT) AS n_y, CAST(n_tot AS BIGINT) AS n_tot,
        |  CAST((length(bin(CAST(n_xy * n_tot AS BIGINT))) - 1)
        |     - (length(bin(CAST(n_x * n_y AS BIGINT))) - 1) AS BIGINT) AS pmi_q,
        |  CAST((n_xy * 1000000) // n_tot
        |     - (((n_x * 1000000) // n_tot) * ((n_y * 1000000) // n_tot))
        |       // 1000000 AS BIGINT) AS leverage_micro
        |FROM cell JOIN nx USING (event_type) JOIN ny USING (hr)
        |CROSS JOIN t""".stripMargin),
    "drift_detect" -> Query(driftDetect,
      s"""WITH c AS (
         |  SELECT event_type, epoch_us(ts) AS t, $centsSql AS cents
         |  FROM events),
         |b AS (SELECT min(t) AS mn, max(t) AS mx FROM c),
         |f AS (SELECT event_type, cents, t <= (mn + mx) // 2 AS in_a
         |  FROM c CROSS JOIN b),
         |v AS (SELECT event_type, cents,
         |    CAST(count(*) FILTER (WHERE in_a) AS BIGINT) AS ca,
         |    CAST(count(*) FILTER (WHERE NOT in_a) AS BIGINT) AS cb
         |  FROM f GROUP BY 1, 2),
         |w AS (SELECT event_type, cents, ca, cb,
         |    CAST(COALESCE(sum(ca + cb) OVER (PARTITION BY event_type
         |      ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) AS cum,
         |    CAST(sum(ca + cb) OVER (PARTITION BY event_type) AS BIGINT) AS tot
         |  FROM v),
         |pb AS (SELECT event_type, least(9, (cum * 10) // tot) AS bin,
         |    CAST(sum(ca) AS BIGINT) AS a, CAST(sum(cb) AS BIGINT) AS b
         |  FROM w GROUP BY 1, 2),
         |t2 AS (SELECT event_type, bin, a, b,
         |    CAST(sum(a) OVER (PARTITION BY event_type) AS BIGINT) AS tot_a,
         |    CAST(sum(b) OVER (PARTITION BY event_type) AS BIGINT) AS tot_b
         |  FROM pb)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_bins,
         |  max(tot_a) AS tot_a, max(tot_b) AS tot_b,
         |  CAST(sum(abs(a * tot_b - b * tot_a)) AS BIGINT) AS tv_num,
         |  CASE WHEN max(tot_a) = 0 OR max(tot_b) = 0 THEN NULL
         |       ELSE CAST(sum(abs(a * tot_b - b * tot_a)) AS BIGINT)::DOUBLE
         |         / CAST(2 * max(tot_a) * max(tot_b) AS BIGINT)::DOUBLE
         |  END AS tv
         |FROM t2 GROUP BY 1""".stripMargin),
    "seasonal_anomaly" -> Query(seasonalAnomaly, SeasonalOracle),
    // the streaming twin is deterministic and scores the same rows
    // against the same profile — identical oracle by construction
    "streaming_seasonal" -> Query(streamingSeasonal, SeasonalOracle),
    "feature_bins" -> Query(featureBins,
      """WITH c AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |v AS (SELECT cents, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY cents),
        |cum AS (
        |  SELECT cents, cnt,
        |    CAST(COALESCE(sum(cnt) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_before,
        |    CAST((SELECT sum(cnt) FROM v) AS BIGINT) AS n_total
        |  FROM v)
        |SELECT least(9, (cum_before * 10) // n_total) AS bin,
        |  CAST(sum(cnt) AS BIGINT) AS n_rows,
        |  min(cents) AS min_cents, max(cents) AS max_cents,
        |  CAST(sum(cents * cnt) AS BIGINT) AS sum_cents
        |FROM cum GROUP BY 1""".stripMargin),
    "length_buckets" -> Query(lengthBuckets,
      s"""WITH d AS (
         |  SELECT CAST(${TextQueries.nWords} AS BIGINT) AS n_words FROM documents),
         |b AS (SELECT n_words, n_words // 16 AS bucket FROM d)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |  min(n_words) AS min_words, max(n_words) AS max_words,
         |  CAST(sum(n_words) AS BIGINT) AS sum_words,
         |  CAST(sum((bucket + 1) * 16 - n_words) AS BIGINT) AS pad_waste
         |FROM b GROUP BY bucket""".stripMargin),
    "bootstrap_ci" -> Query(bootstrapCi,
      s"""WITH c AS (
         |  SELECT event_id, $centsSql AS cents FROM events),
         |reps AS (SELECT unnest(generate_series(0, 31)) AS rep),
         |drawn AS (
         |  SELECT rep, cents,
         |    CAST(concat('0x', substr(md5('boot:' || CAST(event_id AS VARCHAR)
         |      || ':' || CAST(rep AS VARCHAR)), 1, 15)) AS BIGINT) AS u
         |  FROM c CROSS JOIN reps),
         |w AS (
         |  SELECT rep, cents,
         |    CASE ${bootThresholds.zipWithIndex
               .map { case (t, k) => s"WHEN u < $t THEN $k" }.mkString(" ")}
         |         ELSE 6 END AS w
         |  FROM drawn)
         |SELECT CAST(rep AS INT) AS rep,
         |  CAST(sum(w) AS BIGINT) AS n_eff,
         |  CAST(sum(w * cents) AS BIGINT) AS wsum,
         |  CASE WHEN CAST(sum(w) AS BIGINT) = 0 THEN NULL
         |       ELSE CAST(CAST(sum(w * cents) AS BIGINT) AS DOUBLE)
         |    / CAST(CAST(sum(w) AS BIGINT) AS DOUBLE) END AS mean_rep
         |FROM w GROUP BY rep""".stripMargin)
  )
}
