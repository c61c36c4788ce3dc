package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Analytics, Evaluation, Incremental}

/** Product-analytics surface over `events`/`orders`: cube, pivot,
  * ordered-step funnel, cohort retention, and SCD2 history. The
  * reference computes none of these, but they are the queries a
  * consumer of an enriched event log asks next, and each one is
  * shaped so the per-user work rides ONE hash partitioning:
  * cascaded unbounded windows over the same `user_id` partition plan
  * as consecutive Window operators on a single exchange, and the
  * follow-up groupBy on the same key reuses that partitioning instead
  * of shuffling again.
  */
object AnalyticsQueries {

  /** CUBE over (event_type, month): all four grouping sets in one
    * pass — Spark expands the cube map-side, so it stays a single
    * hash-aggregate shuffle. `grouping()` flags cast to long (Spark
    * TINYINT vs DuckDB BIGINT), grouping id derived arithmetically so
    * both engines agree on bit order.
    */
  def cubeAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("m", month(col("ts")))
      .cube(col("event_type"), col("m"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value")), 3).as("sum_value"),
        grouping(col("event_type")).cast("long").as("g_type"),
        grouping(col("m")).cast("long").as("g_month"))
      .withColumn("gid", col("g_type") * 2 + col("g_month"))

  /** Wide daily matrix: one column per event type, summed value. The
    * pivot values are pinned (no extra distinct-scan job to discover
    * them — at 100 TB that discovery pass is a full shuffle), and the
    * pivot is expressed as conditional sums rather than the `.pivot()`
    * API: `.pivot()` always plans TWO aggregations (groupBy(day, type)
    * sum, then a pivotfirst re-shuffle on day), while pinned
    * conditional sums produce the identical result in ONE map-side-
    * partial hash aggregate — half the shuffles (PlanSpec pins this).
    */
  val PivotTypes = Seq("click", "error", "purchase", "signup", "view")

  def pivotWide(spark: SparkSession, sfDir: String): DataFrame = {
    val sums = PivotTypes.map { t =>
      round(sum(when(col("event_type") === t, col("value"))), 3).as(t)
    }
    Tables.events(spark, sfDir)
      .withColumn("day", to_date(col("ts")))
      .groupBy(col("day"))
      .agg(sums.head, sums.tail: _*)
  }

  /** Ordered-step funnel view → click → purchase. Each step's
    * timestamp is the earliest qualifying event STRICTLY AFTER the
    * previous step (the standard leak-free funnel rule). Three
    * cascaded unbounded MIN windows over the same user partition =
    * one shuffle; the terminal per-user collapse groups on the same
    * key and reuses it. `stage` counts completed steps.
    */
  def funnelSteps(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Analytics.funnel(
      Tables.events(spark, sfDir),
      keyCol = "user_id", tsCol = "ts", typeCol = "event_type",
      steps = Seq("view", "click", "purchase"))

  /** Cohort retention: users bucketed by first-seen day, counted once
    * per (cohort, day-offset) they come back on. The cohort day rides
    * the same user partition as a window min, so the plan is one
    * user-keyed shuffle plus the final (cohort, offset) aggregate.
    */
  def cohortRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    Tables.events(spark, sfDir)
      .withColumn("day", to_date(col("ts")))
      .withColumn("cohort_day", min(col("day")).over(w))
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")).cast("long"))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** SCD2 dimension history from the order stream: per customer,
    * consecutive same-status runs compress to one row with
    * [valid_from, valid_to) and an is_current flag on the open row.
    * Change detection (lag) and interval close (lead) are two window
    * passes over ONE (custkey → orderdate, orderkey) sort — Spark
    * plans them on a single exchange+sort.
    */
  def scd2History(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Analytics.scd2(
        Tables.orders(spark, sfDir),
        keyCol = "o_custkey", attrCol = "o_orderstatus",
        orderCols = Seq("o_orderdate", "o_orderkey"))
      .select(col("o_custkey"), col("o_orderstatus").as("status"),
        col("valid_from"), col("valid_to"), col("is_current"))

  /** SCD2 point-in-time lookup: each event is joined to the dimension
    * VERSION that was valid at its own date — the leak-free fact-to-
    * slowly-changing-dimension join every warehouse needs. Rather than
    * an interval join (per-row range probe, O(facts × versions) at
    * worst), the interval structure of SCD2 makes this an as-of join:
    * the containing version is exactly the LAST version with
    * valid_from ≤ fact date (run-order tie-break eats the empty
    * [d, d) intervals a same-date status flip produces). One
    * shuffle+sort over facts+versions via [[graft.operators.AsOfJoin]];
    * events whose user has no dimension history yet keep null status
    * (left semantics).
    */
  def scd2Lookup(spark: SparkSession, sfDir: String): DataFrame = {
    val versions = Analytics.scd2(
        Tables.orders(spark, sfDir)
          .select(col("o_custkey").as("user_id"), col("o_orderstatus"),
            col("o_orderdate"), col("o_orderkey")),
        keyCol = "user_id", attrCol = "o_orderstatus",
        orderCols = Seq("o_orderdate", "o_orderkey"))
      .select(col("user_id"), col("o_orderstatus").as("status"),
        col("valid_from"), col("o_orderkey"))
    val facts = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), to_date(col("ts")).as("d"))
    graft.operators.AsOfJoin.asOf(facts, versions,
      key = "user_id", leftTime = "d", rightTime = "valid_from",
      rightTieBreak = col("o_orderkey"),
      rightValueCols = Seq("status", "valid_from"))
  }

  /** Peak concurrent sessions per day — the sweep-line algorithm,
    * distributed: sessions become (+1 at start, −1 at end) boundary
    * rows, clipped to each day they touch (a midnight-spanning session
    * contributes a carried-over +1 at the next day's first instant),
    * and the running sum sweeps WITHIN each day partition — so days
    * sweep in parallel and no global single-partition window exists.
    * Boundary tie rule: starts sort before ends at the same instant
    * (delta desc), so touching sessions count as concurrent. The daily
    * max is invariant to ordering among equal (t, delta) rows, which
    * is what makes the output deterministic.
    */
  def concurrencyPeak(spark: SparkSession, sfDir: String): DataFrame = {
    val sess = graft.operators.Sessionize.sessionize(
        Tables.events(spark, sfDir),
        keyCol = "user_id", timeCol = "ts", tieBreak = col("event_id"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
    graft.operators.Analytics.concurrencyPeak(sess, "st", "en")
  }

  /** Per-user union coverage of event activity windows: each event
    * opens an interval of `value`-proportional length (cents × 10 ms —
    * exact integers; minutes-scale durations, so within-user overlaps
    * are common and the merge actually merges). See
    * [[graft.operators.Analytics.intervalUnion]] for the one-exchange
    * gaps-and-islands contract.
    */
  def intervalUnion(spark: SparkSession, sfDir: String): DataFrame = {
    val iv = Tables.events(spark, sfDir)
      .select(col("user_id"),
        unix_micros(col("ts")).as("st"),
        (unix_micros(col("ts")) +
          (col("value").cast("decimal(12,2)") * 100).cast("bigint") * 10000L)
          .as("en"))
    graft.operators.Analytics.intervalUnion(iv, "user_id", "st", "en")
  }

  /** The ranking-window family in one pass: rank, dense_rank, ntile,
    * percent_rank, cume_dist, lead/lag — one (custkey → orderdate,
    * orderkey) sort serves all seven (consecutive Window operators
    * with identical partitioning/ordering share a single exchange+
    * sort). percent_rank and cume_dist are exact small rationals, so
    * the doubles compare bit-for-bit across engines.
    */
  def windowFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"),
        rank().over(w).cast("long").as("rk"),
        dense_rank().over(w).cast("long").as("drk"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("prk"),
        cume_dist().over(w).as("cd"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
  }

  /** JSON scalar extraction from the props column, aggregated — the
    * semi-structured path (get_json_object → typed cast → agg) every
    * event pipeline needs. Extraction is a narrow map; the aggregate
    * is one hash shuffle.
    */
  def jsonExtract(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))

  /** Calendar gap-fill with forward fill — the time-series resample
    * every metrics pipeline needs: each user's daily series densified
    * over their [first, last] day (sequence + explode, bounded per
    * user), missing days take n_events = 0, and the carried values
    * come from the most recent ACTIVE day. The carry is computed as a
    * running `max(day where active)` window — monotone day order makes
    * that the forward-fill without IGNORE NULLS (whose window support
    * differs across engines) — and the carried payload re-attaches by
    * an equi-join on (user, last_active_day), which broadcasts or
    * co-partitions like any other dimension join.
    */
  def gapFill(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 3).as("day_value"))
    // the single-pass IGNORE-NULLS form: same output as gapFillDaily
    // here (day_value is a non-null rounded sum), one exchange fewer
    // (PlanSpec pins it)
    graft.operators.Analytics
      .gapFillDailyFF(daily, keyCol = "user_id", dayCol = "day",
        countCol = "n_events", payloadCol = "day_value")
      .withColumnRenamed("ff_day_value", "ff_value")
  }

  /** Array-column surface in one query: per-user distinct event types
    * as a SORTED array (collect_set order is partition-dependent;
    * array_sort makes it deterministic — the same discipline as every
    * other cross-engine value here), plus size / membership / first
    * element. Distinct-then-collect keeps the aggregate's partial
    * buffers bounded by the type domain, not the event count. The
    * array itself is registered as an `array_join` CSV string
    * (`types_csv`) rather than the raw array column: the verification
    * harness sorts result rows in pandas, which cannot hash ndarray
    * cells — the string carries the identical information (exact
    * element values AND order) in a sortable scalar, and
    * size/membership/first-element still exercise the array ops on
    * the real array.
    */
  def arrayFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type")).distinct()
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(col("event_type"))).as("types"))
      .select(col("user_id"),
        array_join(col("types"), ",").as("types_csv"),
        size(col("types")).cast("long").as("n_types"),
        array_contains(col("types"), "purchase").as("has_purchase"),
        element_at(col("types"), 1).as("first_type"))

  /** Rolling 2σ outliers per user over the trailing 21 events —
    * integer-cents arithmetic end to end (see Analytics.anomalyZscore
    * for why a float z-score can't be hash-verified).
    */
  def anomalyZscore(spark: SparkSession, sfDir: String): DataFrame =
    Analytics.anomalyZscore(
      Tables.events(spark, sfDir), "user_id", "ts", "event_id", "value",
      lookback = 20, minN = 8, k = 2)

  /** CUSUM change-point screen over per-user event values: users whose
    * normalized cumulative-sum excursion exceeds $550 (threshold picked
    * at the ~p90 of the sf0.01 distribution, so the flag is selective
    * but non-empty at every sf). Deviations stay exact integer cents
    * until the single per-user normalizing division — see
    * [[Analytics.cusumExcursions]].
    */
  def cusumExcursions(spark: SparkSession, sfDir: String): DataFrame =
    Analytics.cusumExcursions(
      Tables.events(spark, sfDir).select(
        col("user_id"), col("ts"), col("event_id"),
        (col("value").cast("decimal(12,2)") * 100).cast("bigint").as("cents")),
      "user_id", "ts", "event_id", "cents", threshold = 550.0)

  /** Exact-moment covariance/correlation of quantity vs price per
    * return flag (see Analytics.corrExact for why builtin corr can't
    * be hash-verified).
    */
  def statsCorr(spark: SparkSession, sfDir: String): DataFrame =
    Analytics.corrExact(
      Tables.lineitem(spark, sfDir), Seq("l_returnflag"),
      "l_quantity", "l_extendedprice")

  /** Exact-moment OLS of extendedprice on quantity per (returnflag,
    * linestatus) — the "fit a trend per segment" analytics shape (see
    * Analytics.olsExact for why builtin regr_slope can't be
    * hash-verified).
    */
  def statsOls(spark: SparkSession, sfDir: String): DataFrame =
    Analytics.olsExact(
      Tables.lineitem(spark, sfDir), Seq("l_returnflag", "l_linestatus"),
      "l_quantity", "l_extendedprice")

  /** The BASKET INDEX as a session artifact (round 16 — the shingle-
    * index / trade-edge discipline's fourth application): the distinct
    * (order, part) membership table written ONCE per (session, sf dir)
    * BUCKETED(32) BY basket, plus the full unthresholded per-item
    * basket counts. market_basket then pays neither the corpus-sized
    * distinct nor the basket-collapse exchange per run: the collapse
    * rides the bucketed layout, the A-priori attach broadcasts the
    * catalog-sized support table, and the only per-query corpus-sized
    * exchange left is the pair count itself. At 100 TB a basket index
    * over the order history is a maintained table, exactly like the
    * co-purchase edge list. A [[graft.Artifacts]] layout.
    */
  private def basketIndex(
      spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val idx = graft.Artifacts.table(spark, "basket_index", sfDir) { layout =>
      val table = layout.name("basket")
      val li = Tables.lineitem(spark, sfDir)
      val bi = li
        .select(col("l_orderkey").as("_b"), col("l_partkey").as("_i"))
        .distinct()
      // bucket count from the Buckets dial over the LEAF scan (floor
      // 32 at test SF — layout unchanged; a 100-TB order history
      // sizes itself); repartition by the bucket spec's own hash so
      // each write task emits exactly one bucket file (the
      // ranked-shingle discipline)
      val buckets = graft.operators.Buckets.artifact(li)
      bi.repartition(buckets, col("_b"))
        .write.mode("overwrite").format("parquet")
        .option("path", s"${layout.dir}/bi")
        .bucketBy(buckets, "_b")
        .saveAsTable(table)
      // support counts derive FROM the artifact: one scan, one
      // catalog-sized result
      spark.table(table).groupBy(col("_i")).agg(count(lit(1)).as("_s"))
        .write.mode("overwrite").parquet(s"${layout.dir}/support")
    }
    (spark.table(idx.name("basket")), spark.read.parquet(s"${idx.dir}/support"))
  }

  /** Market-basket frequent part pairs over order baskets: items
    * pruned below support 8 BEFORE pair generation (A-priori), pairs
    * exploded map-side from per-order sorted item sets, kept at
    * support ≥ 2 with exact-integer confidence/lift finishes (see
    * operators.Basket for the scale posture). Consumes the
    * [[basketIndex]] session artifact.
    */
  def marketBasket(spark: SparkSession, sfDir: String): DataFrame = {
    val (bi, support) = basketIndex(spark, sfDir)
    graft.operators.Basket.frequentPairsIndexed(bi, support,
      minItemSupport = 8L, minPairSupport = 2L, maxBasketItems = 16)
  }

  /** Snapshot diff of orders against a deterministically mutated
    * next-day version: keys % 13 deleted, priorities of keys % 7
    * rewritten, keys % 11 re-inserted shifted by 2^40 (above any fixture orderkey — the 10^7 shift collided with real keys at sf10) — both engines
    * synthesize the identical "new" snapshot, so the classified diff
    * hash-matches.
    */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val old = Tables.orders(spark, sfDir)
    val mutated = old
      .where(col("o_orderkey") % 13 =!= 0)
      .withColumn("o_orderpriority",
        when(col("o_orderkey") % 7 === 0, lit("X-DIFF"))
          .otherwise(col("o_orderpriority")))
    val inserted = old.where(col("o_orderkey") % 11 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 1099511627776L)
    Analytics.snapshotDiff(
      old, mutated.unionByName(inserted), Seq("o_orderkey"))
  }

  /** CDC MERGE: a synthesized changelog (updates on keys %7, deletes
    * on %13 at a LATER sequence — so %91 keys see U then D and end
    * deleted — inserts on fresh %17-derived keys) folded into the
    * order snapshot. The output is the full post-merge table, so the
    * oracle re-derives every routing decision: update wins over base,
    * delete wins over update, insert lands, untouched rows survive
    * byte-identically (o_totalprice passes through as untouched
    * DECIMAL — no arithmetic, no precision drift).
    */
  def cdcApply(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.orders(spark, sfDir).select(
      col("o_orderkey"), col("o_orderpriority"),
      col("o_orderstatus"), col("o_totalprice"))
    val upd = base.where(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderpriority", lit("X-UPD"))
      .withColumn("seq", lit(1L)).withColumn("op", lit("U"))
    val del = base.where(col("o_orderkey") % 13 === 0)
      .withColumn("seq", lit(2L)).withColumn("op", lit("D"))
    val ins = base.where(col("o_orderkey") % 17 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 1099511627776L)
      .withColumn("o_orderpriority", lit("X-NEW"))
      .withColumn("seq", lit(1L)).withColumn("op", lit("I"))
    Analytics.applyChangeset(base, upd.unionByName(del).unionByName(ins),
      Seq("o_orderkey"), "seq", "op")
  }

  /** Incremental aggregate-view maintenance: the per-priority
    * (count, spend) aggregate kept current under a before/after-image
    * changelog WITHOUT rescanning orders — only the changelog is
    * aggregated and merged into the stored aggregate
    * ([[Incremental.incrementalAgg]]). The changelog is a consistent
    * chain (updates at seq 1, deletes at seq 2, so %91 keys are
    * updated THEN deleted and the delete's before-image is the
    * already-updated row); the oracle is the FULL RECOMPUTE over the
    * post-changelog table, so the gate proves incremental ≡ recompute
    * including group migration into X-UPD and groups born from
    * inserts.
    */
  def aggIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.orders(spark, sfDir).select(
      col("o_orderkey"), col("o_orderpriority"),
      (col("o_totalprice").cast("decimal(14,2)") * 100)
        .cast("bigint").as("cents"))
    val baseAgg = base
      .groupBy(col("o_orderpriority").as("grp"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
    val nullS = lit(null).cast("string")
    val nullL = lit(null).cast("bigint")
    val upd = base.where(col("o_orderkey") % 7 === 0).select(
      col("o_orderpriority").as("before_grp"), col("cents").as("before_val"),
      lit("X-UPD").as("after_grp"), col("cents").as("after_val"))
    // deletes run AFTER updates, so their before-image is the
    // post-update row — the chain-consistency the telescoping sum needs
    val del = base.where(col("o_orderkey") % 13 === 0).select(
      when(col("o_orderkey") % 7 === 0, lit("X-UPD"))
        .otherwise(col("o_orderpriority")).as("before_grp"),
      col("cents").as("before_val"),
      nullS.as("after_grp"), nullL.as("after_val"))
    val ins = base.where(col("o_orderkey") % 17 === 0).select(
      nullS.as("before_grp"), nullL.as("before_val"),
      lit("X-NEW").as("after_grp"), col("cents").as("after_val"))
    Incremental.incrementalAgg(
      baseAgg, upd.unionByName(del).unionByName(ins),
      "grp", "n_orders", "sum_cents",
      "before_grp", "before_val", "after_grp", "after_val")
  }

  /** Rolling exact median of event value (21-row frame per user) —
    * see [[Analytics.rollingMedian]] for why the holistic aggregate
    * still rides one window exchange.
    */
  def rollingMedian(spark: SparkSession, sfDir: String): DataFrame =
    Analytics.rollingMedian(Tables.events(spark, sfDir),
      "user_id", "ts", "event_id", "value", lookback = 20)

  /** Classifier-calibration readouts over the event log, with `value`
    * as the score and purchase as the positive class — the exact
    * metrics a corpus-quality classifier is validated with before it
    * gates 100 TB of training data (see [[Evaluation]] for the
    * distinct-score reformulation that avoids a global row sort).
    */
  def aucExact(spark: SparkSession, sfDir: String): DataFrame =
    Evaluation.aucExact(Tables.events(spark, sfDir), "value",
      col("event_type") === "purchase")

  def calibrationBins(spark: SparkSession, sfDir: String): DataFrame =
    Evaluation.calibrationBins(Tables.events(spark, sfDir), "value",
      col("event_type") === "purchase", bins = 10, lo = 0.0, hi = 500.0)

  def ksStatistic(spark: SparkSession, sfDir: String): DataFrame =
    Evaluation.ksStatistic(Tables.events(spark, sfDir), "value",
      col("event_type") === "purchase")

  val entries: Seq[(String, Query)] = Seq(
    "auc_exact" -> Query(aucExact,
      """WITH c AS (
        |  SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE value IS NOT NULL
        |), g AS (
        |  SELECT s, CAST(sum(y) AS HUGEINT) AS p,
        |    CAST(sum(1 - y) AS HUGEINT) AS n
        |  FROM c GROUP BY s
        |), w AS (
        |  SELECT p, n,
        |    COALESCE(sum(n) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      CAST(0 AS HUGEINT)) AS cumneg
        |  FROM g
        |), a AS (
        |  SELECT sum(p) AS n_pos, sum(n) AS n_neg,
        |    sum(p * cumneg) AS pw, sum(p * n) AS t
        |  FROM w
        |)
        |SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
        |  CAST(pw AS BIGINT) AS pairs_won, CAST(t AS BIGINT) AS ties,
        |  CAST(2 * pw + t AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
        |FROM a""".stripMargin),
    "calibration_bins" -> Query(calibrationBins,
      """WITH c AS (
        |  SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE value IS NOT NULL
        |), b AS (
        |  SELECT least(9, greatest(0, (s - 0) // 5000)) AS bin, s, y FROM c
        |)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(y) AS BIGINT) AS n_pos,
        |  CAST(sum(s) AS BIGINT) AS sum_cents,
        |  CAST(sum(s) AS DOUBLE) / CAST(100 * count(*) AS DOUBLE) AS mean_score,
        |  CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS frac_pos
        |FROM b GROUP BY bin""".stripMargin),
    "ks_statistic" -> Query(ksStatistic,
      """WITH c AS (
        |  SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
        |  FROM events WHERE value IS NOT NULL
        |), g AS (
        |  SELECT s, CAST(sum(a) AS HUGEINT) AS na,
        |    CAST(sum(1 - a) AS HUGEINT) AS nb
        |  FROM c GROUP BY s
        |), w AS (
        |  SELECT
        |    sum(na) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cuma,
        |    sum(nb) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cumb,
        |    sum(na) OVER () AS ta, sum(nb) OVER () AS tb
        |  FROM g
        |)
        |SELECT CAST(max(ta) AS BIGINT) AS n_a, CAST(max(tb) AS BIGINT) AS n_b,
        |  CAST(max(abs(cuma * tb - cumb * ta)) AS BIGINT) AS max_cross,
        |  CAST(max(abs(cuma * tb - cumb * ta)) AS DOUBLE)
        |    / CAST(max(ta) * max(tb) AS DOUBLE) AS ks_d
        |FROM w""".stripMargin),
    "cusum_changepoint" -> Query(cusumExcursions,
      """WITH c AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM events
        |), w AS (
        |  SELECT user_id,
        |    sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS p,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS k,
        |    sum(cents) OVER (PARTITION BY user_id) AS s,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM c
        |), g AS (
        |  SELECT user_id, CAST(max(n) AS BIGINT) AS n,
        |    CAST(max(n*p - k*s) AS BIGINT) AS max_dev,
        |    CAST(min(n*p - k*s) AS BIGINT) AS min_dev
        |  FROM w GROUP BY 1
        |)
        |SELECT user_id, n, max_dev, min_dev,
        |  CAST(max_dev - min_dev AS DOUBLE) / (100 * n) AS excursion
        |FROM g
        |WHERE CAST(max_dev - min_dev AS DOUBLE) / (100 * n) > 550.0""".stripMargin),
    "anomaly_zscore" -> Query(anomalyZscore,
      """WITH cents AS (
        |  SELECT event_id, user_id, ts, value,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
        |  FROM events
        |), win AS (
        |  SELECT event_id, user_id, ts, value, x,
        |    CAST(count(*) OVER w AS BIGINT) AS n,
        |    CAST(sum(x) OVER w AS BIGINT) AS s,
        |    CAST(sum(x * x) OVER w AS BIGINT) AS q
        |  FROM cents
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_id, user_id, ts, value, n
        |FROM win
        |WHERE n >= 8 AND (n*x - s)*(n*x - s) > 4*(n*q - s*s)""".stripMargin),
    "snapshot_diff" -> Query(snapshotDiff,
      """WITH neu AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'X-DIFF'
        |         ELSE o_orderpriority END AS o_orderpriority,
        |    o_custkey, o_orderstatus, o_totalprice, o_orderdate
        |  FROM orders WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 1099511627776, o_orderpriority,
        |    o_custkey, o_orderstatus, o_totalprice, o_orderdate
        |  FROM orders WHERE o_orderkey % 11 = 0)
        |SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |  CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |       WHEN n.o_orderkey IS NULL THEN 'removed'
        |       WHEN o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
        |         OR o.o_custkey IS DISTINCT FROM n.o_custkey
        |         OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |         OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |         OR o.o_orderdate IS DISTINCT FROM n.o_orderdate
        |       THEN 'changed' END AS change_type
        |FROM orders o FULL OUTER JOIN neu n ON o.o_orderkey = n.o_orderkey
        |WHERE CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |           WHEN n.o_orderkey IS NULL THEN 'removed'
        |           WHEN o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
        |             OR o.o_custkey IS DISTINCT FROM n.o_custkey
        |             OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |             OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |             OR o.o_orderdate IS DISTINCT FROM n.o_orderdate
        |           THEN 'changed' END IS NOT NULL""".stripMargin),
    "market_basket" -> Query(marketBasket,
      """WITH bi AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
        |), nb AS (
        |  SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM bi
        |), isup AS (
        |  SELECT i, CAST(count(*) AS BIGINT) AS s FROM bi
        |  GROUP BY i HAVING count(*) >= 8
        |), f AS (
        |  SELECT bi.b, bi.i FROM bi JOIN isup USING (i)
        |), bk AS (
        |  SELECT b FROM f GROUP BY b HAVING count(*) BETWEEN 2 AND 16
        |), ff AS (
        |  SELECT f.b, f.i FROM f JOIN bk USING (b)
        |), p AS (
        |  SELECT a.i AS item_a, b.i AS item_b,
        |    CAST(count(*) AS BIGINT) AS pair_support
        |  FROM ff a JOIN ff b ON a.b = b.b AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |)
        |SELECT item_a, item_b, pair_support,
        |  sa.s AS support_a, sb.s AS support_b,
        |  round(CAST(pair_support AS DOUBLE) / sa.s, 6) AS confidence_a_b,
        |  round((CAST(pair_support AS DOUBLE) * n)
        |    / (CAST(sa.s AS DOUBLE) * sb.s), 6) AS lift
        |FROM p
        |JOIN isup sa ON sa.i = item_a
        |JOIN isup sb ON sb.i = item_b
        |CROSS JOIN nb""".stripMargin),
    // decimal→DOUBLE via VARCHAR for the same reason as stats_ols
    "stats_corr" -> Query(statsCorr,
      """WITH m AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))
        |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))
        |      * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
        |  FROM lineitem GROUP BY l_returnflag),
        |d AS (
        |  SELECT l_returnflag, n,
        |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS dx,
        |    CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS dy,
        |    CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS dxy,
        |    CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS dxx,
        |    CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS dyy
        |  FROM m)
        |SELECT l_returnflag, n,
        |  (dxy * n - dx * dy) / (CAST(n AS DOUBLE) * n) AS cov_pop,
        |  (dxy * n - dx * dy)
        |    / sqrt((dxx * n - dx * dx) * (dyy * n - dy * dy)) AS corr
        |FROM d""".stripMargin),
    // decimals reach DOUBLE via VARCHAR: DuckDB's direct decimal cast
    // double-rounds (int128 / 10^scale as two float ops), while Spark's
    // BigDecimal path is correctly rounded — strtod on the decimal's
    // exact string form matches Spark bit-for-bit.
    "stats_ols" -> Query(statsOls,
      """WITH m AS (
        |  SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))
        |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))
        |      * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
        |  FROM lineitem GROUP BY l_returnflag, l_linestatus),
        |d AS (
        |  SELECT l_returnflag, l_linestatus, n,
        |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS dx,
        |    CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS dy,
        |    CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS dxy,
        |    CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS dxx,
        |    CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS dyy
        |  FROM m)
        |SELECT l_returnflag, l_linestatus, n,
        |  (dxy * n - dx * dy) / (dxx * n - dx * dx) AS slope,
        |  (dy - ((dxy * n - dx * dy) / (dxx * n - dx * dx)) * dx) / n
        |    AS intercept,
        |  ((dxy * n - dx * dy) * (dxy * n - dx * dy))
        |    / ((dxx * n - dx * dx) * (dyy * n - dy * dy)) AS r2
        |FROM d""".stripMargin),
    "array_funcs" -> Query(arrayFuncs,
      """WITH dt AS (
        |  SELECT user_id, event_type FROM events GROUP BY 1, 2
        |)
        |SELECT user_id,
        |  array_to_string(list(event_type ORDER BY event_type), ',')
        |    AS types_csv,
        |  CAST(len(list(event_type ORDER BY event_type)) AS BIGINT) AS n_types,
        |  list_contains(list(event_type ORDER BY event_type), 'purchase')
        |    AS has_purchase,
        |  list(event_type ORDER BY event_type)[1] AS first_type
        |FROM dt GROUP BY user_id""".stripMargin),
    "gap_fill" -> Query(gapFill,
      """WITH daily AS (
        |  SELECT user_id, CAST(date_trunc('DAY', ts) AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    round(sum(value), 3) AS day_value
        |  FROM events GROUP BY 1, 2
        |), span AS (
        |  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
        |), calendar AS (
        |  SELECT user_id,
        |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM span
        |), filled AS (
        |  SELECT c.user_id, c.day, coalesce(d.n_events, 0) AS n_events
        |  FROM calendar c
        |  LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
        |), la AS (
        |  SELECT user_id, day, n_events,
        |    max(CASE WHEN n_events > 0 THEN day END)
        |      OVER (PARTITION BY user_id ORDER BY day
        |            ROWS UNBOUNDED PRECEDING) AS last_active_day
        |  FROM filled
        |)
        |SELECT la.user_id, la.day, la.n_events, la.last_active_day,
        |  d.day_value AS ff_value
        |FROM la JOIN daily d
        |  ON la.user_id = d.user_id AND la.last_active_day = d.day""".stripMargin),
    "window_funcs" -> Query(windowFuncs,
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(rank() OVER w AS BIGINT) AS rk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drk,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS prk,
        |  cume_dist() OVER w AS cd,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin),
    "json_extract" -> Query(jsonExtract,
      """SELECT event_type,
        |  count(k) AS n_with_k,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type""".stripMargin),
    "interval_union" -> Query(intervalUnion,
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS st,
        |    epoch_us(ts) + CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      * 10000 AS en
        |  FROM events
        |), f AS (
        |  SELECT user_id, st, en,
        |    max(en) OVER (PARTITION BY user_id ORDER BY st, en
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv
        |), isl AS (
        |  SELECT user_id, st, en,
        |    sum(CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY st, en
        |        ROWS UNBOUNDED PRECEDING) AS island
        |  FROM f
        |), g AS (
        |  SELECT user_id, island, min(st) AS ist, max(en) AS ien,
        |    count(*) AS n
        |  FROM isl GROUP BY 1, 2
        |)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(sum(n) AS BIGINT) AS n_intervals,
        |  CAST(sum(ien - ist) AS BIGINT) AS covered_us,
        |  CAST(max(ien) - min(ist) AS BIGINT) AS span_us
        |FROM g GROUP BY 1""".stripMargin),
    "concurrency_peak" -> Query(concurrencyPeak,
      """WITH d AS (
        |  SELECT event_id, user_id, ts,
        |    coalesce(epoch_us(ts) - lag(epoch_us(ts)) OVER w, 0) AS td
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts,
        |    sum(CASE WHEN td > 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS sn
        |  FROM d
        |), sess AS (
        |  SELECT user_id, sn, min(ts) AS st, max(ts) AS en FROM s GROUP BY 1, 2
        |), expanded AS (
        |  SELECT user_id, st, en,
        |    CAST(unnest(generate_series(CAST(st AS DATE), CAST(en AS DATE),
        |      INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM sess
        |), clipped AS (
        |  SELECT day,
        |    greatest(epoch_us(st), day_us) AS cs,
        |    least(epoch_us(en), day_us + 86399999999) AS ce
        |  FROM (SELECT *, epoch_us(CAST(day AS TIMESTAMP)) AS day_us FROM expanded)
        |), bounds AS (
        |  SELECT day, cs AS t, 1 AS delta FROM clipped
        |  UNION ALL
        |  SELECT day, ce AS t, -1 AS delta FROM clipped
        |), run AS (
        |  SELECT day, sum(delta) OVER (PARTITION BY day ORDER BY t, delta DESC
        |    ROWS UNBOUNDED PRECEDING) AS r
        |  FROM bounds
        |)
        |SELECT day, CAST(max(r) AS BIGINT) AS peak_concurrency
        |FROM run GROUP BY day""".stripMargin),
    "cube_agg" -> Query(cubeAgg,
      """SELECT event_type, m,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value), 3) AS sum_value,
        |  CAST(grouping(event_type) AS BIGINT) AS g_type,
        |  CAST(grouping(m) AS BIGINT) AS g_month,
        |  CAST(grouping(event_type) AS BIGINT) * 2
        |    + CAST(grouping(m) AS BIGINT) AS gid
        |FROM (SELECT event_type, month(ts) AS m, value FROM events)
        |GROUP BY CUBE (event_type, m)""".stripMargin),
    "pivot_wide" -> Query(pivotWide,
      """SELECT CAST(date_trunc('DAY', ts) AS DATE) AS day,
        |  round(sum(value) FILTER (event_type = 'click'), 3) AS click,
        |  round(sum(value) FILTER (event_type = 'error'), 3) AS error,
        |  round(sum(value) FILTER (event_type = 'purchase'), 3) AS purchase,
        |  round(sum(value) FILTER (event_type = 'signup'), 3) AS signup,
        |  round(sum(value) FILTER (event_type = 'view'), 3) AS view
        |FROM events GROUP BY 1""".stripMargin),
    "funnel_steps" -> Query(funnelSteps,
      """WITH f AS (
        |  SELECT user_id, ts, event_type,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS t1
        |  FROM events
        |), g AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t2
        |  FROM f
        |), h AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t3
        |  FROM g
        |)
        |SELECT user_id, max(t1) AS view_ts, max(t2) AS click_ts,
        |  max(t3) AS purchase_ts,
        |  CAST(CASE WHEN max(t3) IS NOT NULL THEN 3
        |            WHEN max(t2) IS NOT NULL THEN 2
        |            WHEN max(t1) IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
        |FROM h GROUP BY user_id""".stripMargin),
    "cohort_retention" -> Query(cohortRetention,
      """WITH d AS (
        |  SELECT user_id, CAST(date_trunc('DAY', ts) AS DATE) AS day
        |  FROM events
        |), c AS (
        |  SELECT user_id, day,
        |    min(day) OVER (PARTITION BY user_id) AS cohort_day
        |  FROM d
        |)
        |SELECT cohort_day, CAST(day - cohort_day AS BIGINT) AS day_offset,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM c GROUP BY 1, 2""".stripMargin),
    "rolling_median" -> Query(rollingMedian,
      """WITH cents AS (
        |  SELECT event_id, user_id, ts,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
        |  FROM events
        |)
        |SELECT event_id, user_id, ts,
        |  CAST(count(*) OVER w AS BIGINT) AS n,
        |  median(x) OVER w AS med_cents
        |FROM cents
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)""".stripMargin),
    "agg_incremental" -> Query(aggIncremental,
      """WITH base AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
        |  FROM orders
        |), final AS (
        |  SELECT CASE WHEN o_orderkey % 7 = 0 THEN 'X-UPD'
        |              ELSE o_orderpriority END AS grp, cents
        |  FROM base WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT 'X-NEW' AS grp, cents FROM base WHERE o_orderkey % 17 = 0
        |)
        |SELECT grp, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM final GROUP BY 1""".stripMargin),
    "cdc_apply" -> Query(cdcApply,
      """WITH base AS (
        |  SELECT o_orderkey, o_orderpriority, o_orderstatus, o_totalprice
        |  FROM orders
        |), chg AS (
        |  SELECT o_orderkey, 'U' AS op, 1 AS seq,
        |    'X-UPD' AS o_orderpriority, o_orderstatus, o_totalprice
        |  FROM base WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'D', 2, o_orderpriority, o_orderstatus, o_totalprice
        |  FROM base WHERE o_orderkey % 13 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 1099511627776, 'I', 1,
        |    'X-NEW', o_orderstatus, o_totalprice
        |  FROM base WHERE o_orderkey % 17 = 0
        |), latest AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY o_orderkey ORDER BY seq DESC, op DESC) AS rn
        |    FROM chg)
        |  WHERE rn = 1
        |)
        |SELECT coalesce(c.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  CASE WHEN c.op IS NOT NULL THEN c.o_orderpriority
        |       ELSE b.o_orderpriority END AS o_orderpriority,
        |  CASE WHEN c.op IS NOT NULL THEN c.o_orderstatus
        |       ELSE b.o_orderstatus END AS o_orderstatus,
        |  CASE WHEN c.op IS NOT NULL THEN c.o_totalprice
        |       ELSE b.o_totalprice END AS o_totalprice
        |FROM base b FULL OUTER JOIN latest c ON b.o_orderkey = c.o_orderkey
        |WHERE c.op IS NULL OR c.op <> 'D'""".stripMargin),
    "scd2_lookup" -> Query(scd2Lookup,
      """WITH chg AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |    row_number() OVER w AS rn,
        |    lag(o_orderstatus) OVER w AS prev_status
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |), runs AS (
        |  SELECT * FROM chg
        |  WHERE rn = 1 OR prev_status IS DISTINCT FROM o_orderstatus
        |), iv AS (
        |  SELECT o_custkey, o_orderstatus AS status,
        |    o_orderdate AS valid_from,
        |    lead(o_orderdate) OVER w2 AS valid_to
        |  FROM runs
        |  WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |), f AS (
        |  SELECT event_id, user_id, CAST(ts AS DATE) AS d FROM events
        |)
        |SELECT f.event_id, f.user_id, f.d, iv.status, iv.valid_from
        |FROM f LEFT JOIN iv
        |  ON iv.o_custkey = f.user_id AND iv.valid_from <= f.d
        |  AND (iv.valid_to IS NULL OR f.d < iv.valid_to)""".stripMargin),
    "scd2_history" -> Query(scd2History,
      """WITH chg AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |    row_number() OVER w AS rn,
        |    lag(o_orderstatus) OVER w AS prev_status
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |), runs AS (
        |  SELECT * FROM chg
        |  WHERE rn = 1 OR prev_status IS DISTINCT FROM o_orderstatus
        |)
        |SELECT o_custkey, o_orderstatus AS status,
        |  o_orderdate AS valid_from,
        |  lead(o_orderdate) OVER w2 AS valid_to,
        |  lead(o_orderdate) OVER w2 IS NULL AS is_current
        |FROM runs
        |WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin)
  )
}
