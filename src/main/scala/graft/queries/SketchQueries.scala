package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.operators.Sketches

/** Driver-contract queries for the cardinality-sketch surface. Both
  * sketches are md5-keyed integer machines, so the DuckDB oracle
  * recomputes them EXACTLY — fill counts, k-th hash, register sums —
  * not merely within error bars.
  */
object SketchQueries {

  private val KmvK = 64
  private val HllP = 7 // m = 128 registers

  /** KMV bottom-64 distinct-user estimate per event type. */
  def distinctKmv(spark: SparkSession, sfDir: String): DataFrame =
    Sketches.kmvDistinct(
      Tables.events(spark, sfDir), Seq("event_type"), "user_id", KmvK)

  /** HLL (p=7) distinct-user estimate per event type. */
  def distinctHll(spark: SparkSession, sfDir: String): DataFrame =
    Sketches.hllDistinct(
      Tables.events(spark, sfDir), Seq("event_type"), "user_id", HllP)

  private val QLo = 0.0
  private val QHi = 500.0
  private val QBins = 1000
  private val QPercents = Seq(50, 90, 99)

  /** Histogram-quantile value brackets per event type (p50/p90/p99 of
    * `value` over fixed [0, 500)/1000 bins).
    */
  def quantileHist(spark: SparkSession, sfDir: String): DataFrame =
    Sketches.histogramQuantiles(
      Tables.events(spark, sfDir), Seq("event_type"), "value",
      QLo, QHi, QBins, QPercents)

  private val HhMin = 15L
  private val HhCapacity = 8192 // ≥ per-group distinct users at bench SF → exact regime

  /** Space-Saving heavy hitters: users with ≥ 15 events of a type. */
  def heavyHitters(spark: SparkSession, sfDir: String): DataFrame =
    Sketches.heavyHitters(
      Tables.events(spark, sfDir), Seq("event_type"), "user_id",
      HhMin, HhCapacity)

  private val CmsDepth = 4
  private val CmsWidth = 256
  private val CmsMinTrue = 12L

  /** Count-min sketch: estimated vs true event counts for every user
    * with ≥ 12 events of a type (depth 4 × width 256 grid).
    */
  def cmsFreq(spark: SparkSession, sfDir: String): DataFrame =
    Sketches.countMinEstimates(
      Tables.events(spark, sfDir), Seq("event_type"), "user_id",
      CmsDepth, CmsWidth, CmsMinTrue)

  private val SetK = 128

  /** KMV set algebra: viewer-set vs purchaser-set overlap estimated
    * from bottom-128 sketches (union, intersection, Jaccard).
    */
  def kmvSetAlgebra(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    Sketches.kmvSetAlgebra(
      e.where(org.apache.spark.sql.functions.col("event_type") === "view"),
      e.where(org.apache.spark.sql.functions.col("event_type") === "purchase"),
      "user_id", SetK)
  }

  private val SkewTopN = 25

  /** Join-skew pre-flight for the events⋈orders enrichment join
    * (user_id = o_custkey): the 25 keys with the largest implied
    * per-key output mass, counted by per-side Space-Saving sketches in
    * the exact regime — see [[Sketches.joinSkewProbe]]. This is the
    * probe a pipeline runs before the `salted_join` / AQE-skew
    * decision.
    */
  def joinSkewProbe(spark: SparkSession, sfDir: String): DataFrame =
    Sketches.joinSkewProbe(
      Tables.events(spark, sfDir), "user_id",
      Tables.orders(spark, sfDir), "o_custkey",
      minCount = 1L, capacity = HhCapacity, topN = SkewTopN)

  /** Trending users by exponentially time-decayed activity: weight
    * 2^(−age_days) as the exact dyadic integer 10⁶ >> age — see
    * [[Sketches.decayedTopK]].
    */
  def decayedTopk(spark: SparkSession, sfDir: String): DataFrame =
    Sketches.decayedTopK(Tables.events(spark, sfDir),
      org.apache.spark.sql.functions.col("user_id"),
      org.apache.spark.sql.functions.col("ts"), k = 20)

  private val KllK = 16384

  /** Mergeable KLL rank sketch, exact under fill (oracle regime). */
  def quantileKll(spark: SparkSession, sfDir: String): DataFrame =
    Sketches.kllQuantiles(
      Tables.events(spark, sfDir), Seq("event_type"), "value",
      KllK, QPercents)

  /** Streaming twin: the KLL buffer is mergeable state, so the same
    * one-aggregation plan runs Complete-mode; quantile extraction is a
    * stateless post-agg projection (KllQuantileAt — no window).
    */
  def streamingQuantileKll(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.StreamingPipeline.runToMemory(
      Sketches.kllQuantiles(
        graft.streaming.StreamingPipeline.readEvents(spark, sfDir),
        Seq("event_type"), "value", KllK, QPercents),
      "graft_stream_kll")

  // The double constants are interpolated from the SAME Scala values the
  // engine uses (shortest round-trip repr), so both engines parse the
  // identical IEEE double.
  /** Exact rank select at ⌈total·p/100⌉ on the cents domain — the KLL
    * twin (batch and streaming share it; both are exact under fill).
    */
  private val kllOracle: String =
    s"""WITH v AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
       |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
       |r AS (SELECT event_type, c,
       |    row_number() OVER (PARTITION BY event_type ORDER BY c) AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS total
       |  FROM v)
       |SELECT event_type, p, c AS value_cents, CAST(total AS BIGINT) AS total
       |FROM r, (SELECT unnest([${QPercents.mkString(", ")}]) AS p) ps
       |WHERE rn = (total * p + 99) // 100""".stripMargin

  private val kmvNumer = (KmvK - 1).toDouble * (1L << 60).toDouble
  private val hllNumer =
    Sketches.hllAlpha(1 << HllP) * (1 << HllP) * (1 << HllP) * (1L << 33).toDouble

  // the batch sketches' oracles, shared with their streaming twins in
  // MiscQueries
  private[queries] val KmvOracle: String =
    s"""WITH hs AS (
       |  SELECT DISTINCT event_type,
       |    CAST(concat('0x', substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15))
       |      AS BIGINT) AS h
       |  FROM events
       |), r AS (
       |  SELECT event_type, h,
       |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |  FROM hs
       |)
       |SELECT event_type,
       |  CAST(count(*) AS BIGINT) AS n_kept,
       |  max(h) AS kth_hash,
       |  round(CASE WHEN count(*) < $KmvK THEN CAST(count(*) AS DOUBLE)
       |        ELSE $kmvNumer / CAST(max(h) AS DOUBLE) END, 3) AS est_distinct
       |FROM r WHERE rn <= $KmvK GROUP BY event_type""".stripMargin

  private[queries] val HeavyHittersOracle: String =
    s"""SELECT event_type, CAST(user_id AS VARCHAR) AS item,
       |  CAST(count(*) AS BIGINT) AS est
       |FROM events
       |GROUP BY event_type, user_id
       |HAVING count(*) >= $HhMin""".stripMargin

  val entries: Seq[(String, Query)] = Seq(
    // exact-regime Space-Saving == plain GROUP BY counts (capacity
    // exceeds both sides' distinct keys at every oracle SF)
    "join_skew_probe" -> Query(joinSkewProbe,
      s"""WITH a AS (SELECT CAST(user_id AS VARCHAR) AS key,
         |             CAST(count(*) AS BIGINT) AS cnt_a
         |           FROM events GROUP BY 1),
         |b AS (SELECT CAST(o_custkey AS VARCHAR) AS key,
         |        CAST(count(*) AS BIGINT) AS cnt_b
         |      FROM orders GROUP BY 1)
         |SELECT key, cnt_a, cnt_b,
         |  CAST(cnt_a * cnt_b AS BIGINT) AS fanout
         |FROM a JOIN b USING (key)
         |ORDER BY fanout DESC, key ASC LIMIT $SkewTopN""".stripMargin),
    "distinct_kmv" -> Query(distinctKmv, KmvOracle),
    "distinct_hll" -> Query(distinctHll,
      s"""WITH b AS (
         |  SELECT event_type,
         |    CAST(concat('0x', substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 15))
         |      AS BIGINT) AS h
         |  FROM events WHERE user_id IS NOT NULL
         |), s AS (
         |  SELECT event_type, h & ${(1 << HllP) - 1} AS reg,
         |    (h >> $HllP) & 4294967295 AS sfx
         |  FROM b
         |), r AS (
         |  SELECT event_type, reg,
         |    max(CASE WHEN sfx = 0 THEN 33
         |        ELSE 33 - length(bin(sfx)) END) AS maxrho
         |  FROM s GROUP BY 1, 2
         |), agg AS (
         |  SELECT event_type,
         |    CAST(count(*) AS BIGINT) AS n_registers,
         |    CAST(sum(CAST(1 AS BIGINT) << CAST(33 - maxrho AS INT)) AS BIGINT)
         |      + (${1 << HllP} - CAST(count(*) AS BIGINT)) * 8589934592 AS sum_scaled
         |  FROM r GROUP BY event_type
         |)
         |SELECT event_type, n_registers, sum_scaled,
         |  round($hllNumer / CAST(sum_scaled AS DOUBLE), 3) AS est_distinct,
         |  round(CASE
         |    WHEN $hllNumer / CAST(sum_scaled AS DOUBLE) <= ${2.5 * (1 << HllP)}
         |         AND ${1 << HllP} - n_registers > 0
         |    THEN $hllLinList[CAST(${1 << HllP} - n_registers AS INT)]
         |    ELSE $hllNumer / CAST(sum_scaled AS DOUBLE) END, 3) AS est_corrected
         |FROM agg""".stripMargin),
    // exact rank selection — valid because the oracle SF sits in the
    // sketch's exact-under-fill regime (2k values/group vs k = 16384)
    "quantile_kll" -> Query(quantileKll, kllOracle),
    "streaming_quantile_kll" -> Query(streamingQuantileKll, kllOracle),
    "quantile_hist" -> Query(quantileHist,
      s"""WITH c AS (
         |  SELECT event_type,
         |    least(${QBins - 1}, greatest(0,
         |      CAST(floor((value - $QLo) / ${(QHi - QLo) / QBins}) AS INT))) AS bin,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |  GROUP BY 1, 2
         |), cc AS (
         |  SELECT event_type, bin, n,
         |    sum(n) OVER (PARTITION BY event_type ORDER BY bin
         |      ROWS UNBOUNDED PRECEDING) AS cum,
         |    sum(n) OVER (PARTITION BY event_type) AS total
         |  FROM c
         |)
         |SELECT event_type, p,
         |  $QLo + bin * ${(QHi - QLo) / QBins} AS bin_lo,
         |  $QLo + (bin + 1) * ${(QHi - QLo) / QBins} AS bin_hi,
         |  CAST(cum AS BIGINT) AS rank_cum, CAST(total AS BIGINT) AS total
         |FROM cc, (SELECT unnest([${QPercents.mkString(", ")}]) AS p) ps
         |WHERE cum >= (total * p + 99) // 100
         |  AND cum - n < (total * p + 99) // 100""".stripMargin),
    "kmv_set_algebra" -> Query(kmvSetAlgebra, {
      val numer = (SetK - 1).toDouble * (1L << 60).toDouble
      s"""WITH ha AS (
         |  SELECT DISTINCT CAST(concat('0x',
         |    substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM events WHERE event_type = 'view' AND user_id IS NOT NULL),
         |hb AS (
         |  SELECT DISTINCT CAST(concat('0x',
         |    substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL),
         |u AS (SELECT h FROM (SELECT h FROM ha UNION SELECT h FROM hb)
         |      ORDER BY h LIMIT $SetK),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS k_used, max(h) AS kth_hash
         |      FROM u),
         |c AS (SELECT CAST(count(*) AS BIGINT) AS n_common FROM u
         |      WHERE h IN (SELECT h FROM ha) AND h IN (SELECT h FROM hb)),
         |raw AS (SELECT k_used, kth_hash, n_common,
         |    CASE WHEN k_used < $SetK THEN CAST(k_used AS DOUBLE)
         |         ELSE $numer / CAST(kth_hash AS DOUBLE) END AS ue,
         |    CAST(n_common AS DOUBLE) / CAST(k_used AS DOUBLE) AS je
         |  FROM s, c)
         |SELECT k_used, kth_hash, n_common,
         |  round(ue, 3) AS union_est, round(je, 6) AS jaccard_est,
         |  round(je * ue, 3) AS inter_est
         |FROM raw""".stripMargin
    }),
    "cms_freq" -> Query(cmsFreq, {
      val js = (0 until CmsDepth).mkString(", ")
      s"""WITH r AS (
         |  SELECT event_type, CAST(user_id AS VARCHAR) AS item
         |  FROM events WHERE user_id IS NOT NULL
         |), cells AS (
         |  SELECT event_type, j,
         |    CAST(concat('0x', substr(md5('cms' || CAST(j AS VARCHAR)
         |      || ':' || item), 1, 15)) AS BIGINT) % $CmsWidth AS bucket,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM r, (SELECT unnest([$js]) AS j) js
         |  GROUP BY 1, 2, 3
         |), probes AS (
         |  SELECT event_type, item, CAST(count(*) AS BIGINT) AS true_cnt
         |  FROM r GROUP BY 1, 2 HAVING count(*) >= $CmsMinTrue
         |), est AS (
         |  SELECT p.event_type, p.item, p.true_cnt,
         |    min(c.n) AS cms_est
         |  FROM probes p JOIN cells c
         |    ON c.event_type = p.event_type
         |   AND c.bucket = CAST(concat('0x', substr(md5('cms'
         |      || CAST(c.j AS VARCHAR) || ':' || p.item), 1, 15))
         |      AS BIGINT) % $CmsWidth
         |  GROUP BY 1, 2, 3
         |)
         |SELECT event_type, item, true_cnt, cms_est,
         |  cms_est - true_cnt AS over_by
         |FROM est""".stripMargin
    }),
    "decayed_topk" -> Query(decayedTopk,
      """WITH cell AS (
        |  SELECT user_id AS k, CAST(ts AS DATE) AS d, count(*) AS c
        |  FROM events GROUP BY 1, 2
        |), mx AS (SELECT max(d) AS m FROM cell),
        |w AS (
        |  SELECT k, c,
        |    (CAST(1000000 AS BIGINT) >> least(CAST(m - d AS BIGINT), 62)) * c
        |      AS w
        |  FROM cell CROSS JOIN mx
        |)
        |SELECT k AS key, CAST(sum(w) AS BIGINT) AS decayed_micro,
        |  CAST(sum(c) AS BIGINT) AS raw_count
        |FROM w GROUP BY 1
        |ORDER BY decayed_micro DESC, key LIMIT 20""".stripMargin),
    // capacity ≥ distinct users per group at this SF ⇒ the sketch never
    // truncates and its counters equal the exact GROUP BY counts.
    "heavy_hitters" -> Query(heavyHitters, HeavyHittersOracle)
  )

  /** The linear-counting table as a DuckDB list literal — the SAME
    * shortest-round-trip double strings the Spark plan embeds via
    * typedLit, so `[...][v]` (1-based) reads the identical IEEE value.
    */
  private def hllLinList: String =
    Sketches.linearCountingTable(1 << HllP).mkString("[", ", ", "]")
}
