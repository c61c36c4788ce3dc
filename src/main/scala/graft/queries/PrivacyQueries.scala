package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Hygiene, Privacy}

/** Privacy & corpus-hygiene surface: canonical Unicode text
  * normalization (codegen expression), C4-style cross-corpus
  * boilerplate removal, k-anonymity auditing, deterministic
  * differentially-private counts, and PII pseudonymization /
  * generalization — the release-side half of a training-data
  * pipeline.
  */
object PrivacyQueries {

  /** A decomposed-Unicode tail appended to every document so the NFC
    * path is actually exercised (the fixture corpus is pure ASCII,
    * which the expression's fast path returns untouched): "Cafe" +
    * combining acute, "Angstrom" with combining ring / diaeresis,
    * plus a tab and doubled spaces for the whitespace collapse. The
    * SAME Scala value is interpolated into the oracle SQL literal —
    * triple-quoted SQL text processes no escapes, so sharing the
    * value is the only way the two literals stay byte-identical.
    */
  private val MessyTail =
    " Café  Å" + "ngström\t END"

  /** NFC + lowercase + whitespace-collapse + trim over documents. The
    * whole normalize chain is one codegen projection — no shuffle.
    */
  def textNormalize(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      Hygiene.normalizeText(concat(col("text"), lit(MessyTail)))
        .as("text_norm"))
      .withColumn("n_chars_norm", length(col("text_norm")).cast("bigint"))

  /** Cross-corpus repeated-8-word-span removal (doc_freq ≥ 2 spans
    * dropped everywhere; duplicate-family documents share spans, so
    * the rule bites on the fixture). See
    * [[graft.operators.Hygiene.dedupBoilerplate]] for the scale shape.
    */
  def dedupBoilerplate(spark: SparkSession, sfDir: String): DataFrame =
    Hygiene.dedupBoilerplate(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")),
      chunkWords = 8, minDocFreq = 2)

  /** k-anonymity audit of customer under QIs
    * (nation, market segment, account-balance $1000 band): histogram
    * of equivalence-class sizes with the k ≥ 5 compliance flag.
    */
  def kAnonymity(spark: SparkSession, sfDir: String): DataFrame =
    Privacy.kAnonymity(
      Tables.customer(spark, sfDir),
      Seq(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).as("bal_band")),
      k = 5)

  /** l-diversity audit of the SAME release [[kAnonymity]] audits: the
    * $1000 bands generalize `c_acctbal`, so the exact balance is the
    * sensitive attribute — a band-class where everyone holds the same
    * balance is k-anonymous yet leaks it (the homogeneity attack).
    * Histogram of per-class distinct-balance counts, l ≥ 3 flag.
    */
  def lDiversity(spark: SparkSession, sfDir: String): DataFrame =
    Privacy.lDiversity(
      Tables.customer(spark, sfDir),
      Seq(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).as("bal_band")),
      sensitiveCol = col("c_acctbal"),
      l = 3)

  /** t-closeness audit completing the trio: same release as
    * [[kAnonymity]]/[[lDiversity]] but under the COARSER QI pair
    * (nation, segment) with the $1000 balance band as the ordered
    * sensitive attribute — a class can be k-anonymous and l-diverse yet
    * sit almost entirely in the top bands (the skewness attack); EMD
    * against the global band distribution catches it. t = 0.2 (the
    * paper's running example).
    */
  def tCloseness(spark: SparkSession, sfDir: String): DataFrame =
    Privacy.tCloseness(
      Tables.customer(spark, sfDir),
      Seq(col("c_nationkey"), col("c_mktsegment")),
      sensitiveOrderedCol = floor(col("c_acctbal") / 1000).cast("bigint"),
      tMicro = 200000L)

  /** Differentially-private per-event-type counts (two-sided-geometric
    * mechanism, ε = ln 2, deterministic md5-keyed draws — see
    * [[graft.operators.Privacy.twoSidedGeometric]] for why the
    * mechanism avoids floating-point transcendentals entirely).
    */
  def dpNoisyCount(spark: SparkSession, sfDir: String): DataFrame =
    Privacy.dpNoisyCount(
      Tables.events(spark, sfDir), "event_type", salt = "graft-dp-r9")

  /** Streaming twin of [[dpNoisyCount]]: the count is a Complete-mode
    * stateful aggregation, the noise a stateless post-agg projection —
    * deterministic draws mean the live release and the batch release
    * publish the SAME noisy counts (the whole point of keyed noise:
    * re-emission must not spend fresh privacy budget).
    */
  def streamingDpCount(spark: SparkSession, sfDir: String): DataFrame = {
    val events = graft.streaming.StreamingPipeline.readEvents(spark, sfDir)
    graft.streaming.StreamingPipeline.runToMemory(
      Privacy.dpNoisyCount(events, "event_type", salt = "graft-dp-r9"),
      "graft_stream_dp")
  }

  /** DP median of the $1000 balance band (exponential mechanism,
    * ε = 4·ln 2, salt-keyed deterministic draw — see
    * [[graft.operators.Privacy.dpQuantile]]): the "release a robust
    * location statistic without leaking any individual" op that pairs
    * with [[dpNoisyCount]]'s counts.
    */
  def dpQuantile(spark: SparkSession, sfDir: String): DataFrame =
    Privacy.dpQuantile(
      Tables.customer(spark, sfDir),
      valueCol = floor(col("c_acctbal") / 1000).cast("bigint"),
      qNum = 1L, qDen = 2L, salt = "graft-dpq-r14")

  /** Customer PII release prep: salted pseudonym for the name, $1000
    * account-balance band, (nation, segment) suppressed to NULL for
    * equivalence classes smaller than 10.
    */
  def piiAnonymize(spark: SparkSession, sfDir: String): DataFrame =
    Privacy.piiAnonymize(
      Tables.customer(spark, sfDir),
      idCol = "c_custkey", nameCol = "c_name", numCol = "c_acctbal",
      catCols = Seq("c_nationkey", "c_mktsegment"),
      salt = "graft-pii-r9", bandWidth = 1000, k = 10)

  val entries: Seq[(String, Query)] = Seq(
    "text_normalize" -> Query(textNormalize,
      s"""SELECT doc_id,
        |  trim(regexp_replace(
        |    lower(nfc_normalize(text || '$MessyTail')),
        |    '\\s+', ' ', 'g')) AS text_norm,
        |  CAST(length(trim(regexp_replace(
        |    lower(nfc_normalize(text || '$MessyTail')),
        |    '\\s+', ' ', 'g'))) AS BIGINT) AS n_chars_norm
        |FROM documents""".stripMargin),
    "dedup_boilerplate" -> Query(dedupBoilerplate,
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), ch AS (
        |  SELECT doc_id, i AS start, array_to_string(w[i+1:i+8], ' ') AS chunk
        |  FROM d, unnest(range(0, len(w), 8)) t(i)
        |), f AS (
        |  SELECT md5(chunk) AS h, count(DISTINCT doc_id) AS chunk_df
        |  FROM ch GROUP BY 1
        |)
        |SELECT ch.doc_id,
        |  coalesce(string_agg(chunk, ' ' ORDER BY start)
        |             FILTER (WHERE chunk_df < 2), '') AS clean_text,
        |  CAST(coalesce(count(*) FILTER (WHERE chunk_df < 2), 0) AS BIGINT)
        |    AS chunks_kept,
        |  CAST(coalesce(count(*) FILTER (WHERE chunk_df >= 2), 0) AS BIGINT)
        |    AS chunks_dropped
        |FROM ch JOIN f ON md5(ch.chunk) = f.h
        |GROUP BY 1""".stripMargin),
    "k_anonymity" -> Query(kAnonymity,
      """WITH classes AS (
        |  SELECT c_nationkey, c_mktsegment, floor(c_acctbal / 1000) AS bal_band,
        |    count(*) AS class_size
        |  FROM customer GROUP BY 1, 2, 3
        |)
        |SELECT class_size AS k, CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(class_size) AS BIGINT) AS n_rows,
        |  CAST(class_size >= 5 AS INT) AS anonymous
        |FROM classes GROUP BY 1""".stripMargin),
    "l_diversity" -> Query(lDiversity,
      """WITH classes AS (
        |  SELECT c_nationkey, c_mktsegment, floor(c_acctbal / 1000) AS bal_band,
        |    count(DISTINCT c_acctbal) AS l_distinct, count(*) AS class_size
        |  FROM customer GROUP BY 1, 2, 3
        |)
        |SELECT CAST(l_distinct AS BIGINT) AS l,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(class_size) AS BIGINT) AS n_rows,
        |  CAST(l_distinct >= 3 AS INT) AS diverse
        |FROM classes GROUP BY l_distinct""".stripMargin),
    "t_closeness" -> Query(tCloseness,
      """WITH cell AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS sv, count(*) AS cnt
        |  FROM customer GROUP BY 1, 2, 3
        |), cls AS (
        |  SELECT c_nationkey, c_mktsegment, sum(cnt) AS n_c
        |  FROM cell GROUP BY 1, 2
        |), svs AS (SELECT DISTINCT sv FROM cell),
        |gcum AS (
        |  SELECT sv, sum(g) OVER (ORDER BY sv) AS cum_g,
        |    (SELECT sum(cnt) FROM cell) AS n_tot
        |  FROM (SELECT sv, sum(cnt) AS g FROM cell GROUP BY 1)
        |), grid AS (
        |  SELECT cls.c_nationkey, cls.c_mktsegment, cls.n_c, svs.sv,
        |    coalesce(cell.cnt, 0) AS c
        |  FROM cls CROSS JOIN svs
        |  LEFT JOIN cell ON cell.c_nationkey = cls.c_nationkey
        |    AND cell.c_mktsegment = cls.c_mktsegment AND cell.sv = svs.sv
        |), term AS (
        |  SELECT c_nationkey, c_mktsegment, n_c,
        |    abs((sum(c) OVER (PARTITION BY c_nationkey, c_mktsegment
        |                      ORDER BY grid.sv) * 1000000) // n_c
        |      - (cum_g * 1000000) // n_tot) AS t
        |  FROM grid JOIN gcum ON grid.sv = gcum.sv
        |)
        |SELECT c_nationkey, c_mktsegment, CAST(n_c AS BIGINT) AS class_size,
        |  CAST(CASE WHEN count(*) > 1 THEN sum(t) // (count(*) - 1)
        |       ELSE 0 END AS BIGINT) AS emd_micro,
        |  CAST(CASE WHEN count(*) > 1 THEN sum(t) // (count(*) - 1)
        |       ELSE 0 END <= 200000 AS INT) AS t_close
        |FROM term GROUP BY 1, 2, 3""".stripMargin),
    "dp_noisy_count" -> Query(dpNoisyCount, DpCountOracle),
    "dp_quantile" -> Query(dpQuantile,
      """WITH vals AS (
        |  SELECT CAST(floor(c_acctbal / 1000) AS BIGINT) AS v, count(*) AS c
        |  FROM customer GROUP BY 1
        |), w AS (
        |  SELECT v, c,
        |    coalesce(sum(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
        |    (SELECT sum(c) FROM vals) AS n
        |  FROM vals
        |), s AS (
        |  SELECT v, n,
        |    -greatest(0, 1 * n - 2 * (below + c), 2 * below - 1 * n) AS u2,
        |    CAST(concat('0x', substr(md5('graft-dpq-r14:'
        |      || CAST(v AS VARCHAR)), 1, 15)) AS BIGINT) AS r
        |  FROM w
        |), g AS (
        |  SELECT v, n, u2, r,
        |    20 - (length(bin(greatest(59 - (length(bin(r + 1)) - 1), 0)
        |      * 1048576 + (r % 1048576) + 1)) - 1) AS gg
        |  FROM s
        |)
        |SELECT v AS value, CAST(n AS BIGINT) AS n_total,
        |  CAST(u2 AS BIGINT) AS utility_scaled,
        |  CAST(2 * u2 + 2 * gg AS BIGINT) AS score
        |FROM g ORDER BY score DESC, r, v LIMIT 1""".stripMargin),
    "streaming_dp_count" -> Query(streamingDpCount, DpCountOracle),
    "pii_anonymize" -> Query(piiAnonymize,
      """WITH s AS (
        |  SELECT *, count(*) OVER (PARTITION BY c_nationkey, c_mktsegment)
        |    AS class_size
        |  FROM customer
        |)
        |SELECT c_custkey,
        |  substring(md5('graft-pii-r9:' || c_name), 1, 12) AS pseudonym,
        |  CAST(floor(c_acctbal / 1000) * 1000 AS BIGINT) AS c_acctbal_band,
        |  CAST(class_size AS BIGINT) AS class_size,
        |  CASE WHEN class_size >= 10 THEN c_nationkey END AS c_nationkey,
        |  CASE WHEN class_size >= 10 THEN c_mktsegment END AS c_mktsegment
        |FROM s""".stripMargin)
  )

  private lazy val DpCountOracle =
      """WITH g AS (
        |  SELECT event_type, count(*) AS true_count FROM events GROUP BY 1
        |), n AS (
        |  SELECT event_type, true_count,
        |    greatest(20 - length(bin(
        |      ('0x' || substring(md5('graft-dp-r9A:' || event_type), 1, 5))::BIGINT
        |        + 1)), 0)
        |    - greatest(20 - length(bin(
        |      ('0x' || substring(md5('graft-dp-r9B:' || event_type), 1, 5))::BIGINT
        |        + 1)), 0) AS noise
        |  FROM g
        |)
        |SELECT event_type, CAST(true_count AS BIGINT) AS true_count,
        |  CAST(noise AS BIGINT) AS noise,
        |  CAST(greatest(true_count + noise, 0) AS BIGINT) AS noisy_count
        |FROM n""".stripMargin
}
