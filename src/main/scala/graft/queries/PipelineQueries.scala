package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Aggregates, ElbParser, GeoCache}
import graft.sources.StaticGeoProvider

/** Full-pipeline driver queries: synthesized lines → real parser → real
  * geo enrichment (static provider) → filters → features → the
  * reference's report aggregates. The DuckDB oracle re-derives every
  * expected value from `events` arithmetic — nothing is shared with the
  * Spark path but the synthesis formulas.
  */
object PipelineQueries {

  /** parse → cache refresh (empty start) → broadcast enrich → filter →
    * time/processing features: the enriched frame all three reports
    * consume (reference elb_logs.py:422-431).
    */
  // The WIDE enriched frame is NOT cached: measured NET-NEGATIVE at
  // sf0.1 — it saved ~4 s of re-parsing but cost ~8 s of storage/GC
  // interference on unrelated CPU-heavy queries later in the same
  // session. The narrow ElbSynth.lines cache upstream is the right
  // materialization point for the log side.
  //
  // The geo CACHE (one short row per distinct IP) is a parquet
  // graft.Artifacts layout per (session, sfDir), as the reference
  // persists geolocation_cache.parquet and every report reads that one
  // table — re-deriving the full refresh (a second parse pass +
  // distinct + fetch + upsert) inside each report query was an
  // artifact of the standalone-query harness, not a semantics
  // difference. On disk, not .cache()d: harnesses unpersist every RDD
  // a query pins.
  private def geoCache(spark: SparkSession, sfDir: String): DataFrame = {
    val cache = graft.Artifacts.table(spark, "geo_cache", sfDir) { layout =>
      // unobserved auxiliary parse: the cache build is not one of the
      // queries' observed parse instances
      val parsed = ElbParser.parse(
        ElbSynth.lines(Tables.events(spark, sfDir)), observed = false)
      val empty = GeoCache.load(spark, s"$sfDir/_no_such_cache_")
      graft.sources.Sinks.parquet(
        GeoCache.refresh(parsed, empty, StaticGeoProvider(JoinQueries.FixedClock)),
        s"${layout.dir}/geolocation_cache.parquet")
    }
    GeoCache.load(spark, s"${cache.dir}/geolocation_cache.parquet")
  }

  private def enriched(spark: SparkSession, sfDir: String): DataFrame = {
    val parsed = ElbParser.parse(ElbSynth.lines(Tables.events(spark, sfDir)))
    val cache = geoCache(spark, sfDir)
    ElbParser.calculateProcessingTimes(
      ElbParser.extractTimeFeatures(
        ElbParser.filterCategorize(GeoCache.enrich(parsed, cache))))
  }

  /** The reference's flagship output (op 33) end-to-end. Float outputs
    * rounded to 6 dp on both sides: double aggregation order may differ
    * between engines at the last ulp.
    */
  def hourlyGeo(spark: SparkSession, sfDir: String): DataFrame =
    Aggregates.hourlyAggregates(enriched(spark, sfDir))
      .withColumn("average_total_processing_time",
        round(col("average_total_processing_time"), 6))
      .withColumn("median_total_processing_time",
        round(col("median_total_processing_time"), 6))

  /** op 26-28 end-to-end. */
  def errorSummary(spark: SparkSession, sfDir: String): DataFrame =
    Aggregates.errorSummary(enriched(spark, sfDir))

  /** op 34 end-to-end (post health-check filter, so only the Googlebot
    * UA class survives as bot traffic).
    */
  def botOrigin(spark: SparkSession, sfDir: String): DataFrame =
    Aggregates.botOriginSummary(enriched(spark, sfDir))

  /** Deterministic 10 % subset predicate for the whole-DAG query: the
    * full composition (gzip extract → cache persist round-trip →
    * enrich → filter → features → sessionize → rolling → sinks) runs
    * end-to-end, but on a tenth of the lines so the per-round bench
    * carries file I/O + five sink writes at a bounded cost. The oracle
    * applies the identical predicate.
    */
  private val PipelineSubset = "event_id % 10 = 0"

  /** The COMPLETE reference main() (elb_logs.py:398-437) as one
    * hash-verified query: [[graft.ElbPipeline.run]] over staged gzip
    * files — including the geolocation-cache parquet persist/reload and
    * all five sinks — returning the featured frame the sinks consume.
    * The projection keeps every stage observable (parse keys, geo
    * fields, classification, time/path features, session ids, rolling
    * windows) and excludes only columns bound to harness artifacts
    * (log_source_file carries the temp path; time_diff/new_session are
    * tie-order-dependent where session_number/session_id are not).
    */
  def elbPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    // staged gzip input, one write per (session, sfDir): the pipeline's
    // EXTRACT stage must read real (compressed) files, and re-staging
    // identical bytes per bench repeat would time the harness, not the
    // pipeline
    val work = graft.Artifacts.table(spark, "pipeline_stage", sfDir) { layout =>
      // one gzip object per core (the elb_dsv2_parse staging rule):
      // gzip is non-splittable, so the staged object count IS the
      // extract stage's read parallelism — the literal 8 this
      // replaces ran the sf10 parse on 8 of 32 cores (stage 72 in
      // the round-14 profile: 60 s of task time on 8 tasks)
      ElbSynth.lines(Tables.events(spark, sfDir).where(PipelineSubset))
        .select("value")
        .repartition(spark.sparkContext.defaultParallelism)
        .write.option("compression", "gzip").text(s"${layout.dir}/logs")
    }.dir
    // fresh cache/output dirs per run: the refresh starts from an empty
    // cache every time, so its CONTENT (and the enriched output) is
    // deterministic; dir names never reach the projection. Each run's
    // tree is REUSED via a fixed per-(session, sf) path and overwritten
    // in place — bench repeats must not accumulate five-sink output
    // trees in /tmp until the disk fills.
    val run = s"$work/run"
    deleteRecursively(java.nio.file.Paths.get(run))
    graft.ElbPipeline.run(
      spark, s"$work/logs/*.gz", s"$run/cache.parquet", s"$run/out",
      StaticGeoProvider(JoinQueries.FixedClock))
    // project from the pipeline's OWN cleaned-logs sink, not the
    // returned frame: the round-trip additionally gates what the
    // partitioned parquet sink persisted, and avoids re-running the
    // full DAG for the projection (run() unpersists after its sinks).
    // localCheckpoint materializes the projection NOW, so the returned
    // frame stays valid after the next invocation wipes the run dir.
    spark.read.parquet(s"$run/out/cleaned_logs").select(
      col("elb"), col("time"), col("client_ip"),
      col("status_code_type"), col("countryName"), col("city"), col("isp"),
      col("is_bot"), col("path_depth"), col("path_main_segment"),
      col("request_hour"), col("total_processing_time"),
      col("session_number"), col("session_id"),
      col("rolling_5min_request_count"),
      // LOAD-BEARING round(·,6): the chunked rolling mean
      // (Rolling.addRollingFeaturesChunked, the pipeline default)
      // agrees with the plain windowed mean only to summation-order
      // ulps; this rounding is what makes chunked and plain runs —
      // and the DuckDB oracle — hash-identical. Removing it (or
      // reordering equal-timestamp rows inside a (key, block)
      // partition) can flip a halfway rounding case.
      round(col("rolling_1h_avg_processing"), 6).as("rolling_1h_avg_processing"))
      .localCheckpoint()
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }

  /** Shared oracle CTE: the enriched frame, re-derived from events. */
  private val baseCte: String =
    s"""WITH base AS (
       |  SELECT event_id, user_id, ts, event_type,
       |    (ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York' AS e,
       |    user_id % 200 AS b, event_id % 250 AS c, (event_id*7) % 250 AS d,
       |    '10.' || (user_id % 200) || '.' || (event_id % 250) || '.' ||
       |      ((event_id*7) % 250) AS client_ip,
       |    (CASE WHEN event_id % 7 = 0 THEN 0.0 ELSE 0.001 END
       |      + CAST('0.' || lpad((event_id % 500)::VARCHAR, 3, '0') AS DOUBLE)) + 0.0 AS tpt,
       |    CASE WHEN event_id % 13 = 0 THEN 'Unknown' ELSE
       |      CASE event_type WHEN 'click' THEN '2xx_Success'
       |        WHEN 'view' THEN '3xx_Redirection' WHEN 'purchase' THEN '2xx_Success'
       |        WHEN 'signup' THEN '2xx_Success' WHEN 'error' THEN '5xx_ServerError'
       |        ELSE '4xx_ClientError' END END AS sct,
       |    CASE WHEN event_id % 13 = 0 THEN NULL ELSE
       |      CASE event_type WHEN 'click' THEN 200 WHEN 'view' THEN 301
       |        WHEN 'purchase' THEN 201 WHEN 'signup' THEN 204
       |        WHEN 'error' THEN 503 ELSE 418 END END AS status,
       |    (event_id*3) % 100000 AS sent_bytes, event_id % 10000 AS received_bytes,
       |    CASE WHEN (event_id*7) % 250 % 97 = 0 THEN 'Error'
       |      ELSE 'Country-' || ((event_id*7) % 250 % 5) END AS countryName,
       |    CASE WHEN (event_id*7) % 250 % 97 = 0 THEN 'Error'
       |      ELSE 'City-' || (((event_id % 250) + ((event_id*7) % 250)) % 20) END AS city,
       |    CASE WHEN (event_id*7) % 250 % 97 = 0 THEN 'Error'
       |      ELSE 'ISP-' || (user_id % 200 % 3) END AS isp
       |  FROM events
       |  WHERE ${ElbSynth.survivorsWhere} AND event_id % 6 <> 4
       |)""".stripMargin

  /** [[baseCte]] with an extra conjunct (the pipeline-subset oracle). */
  private def baseCteAnd(extra: String): String =
    baseCte.replace("AND event_id % 6 <> 4", s"AND event_id % 6 <> 4 AND $extra")

  val entries: Seq[(String, Query)] = Seq(
    "elb_hourly_geo" -> Query(hourlyGeo,
      s"""$baseCte
         |SELECT year(e) AS request_year, month(e) AS request_month,
         |  day(e) AS request_day, hour(e) AS request_hour, countryName, city,
         |  count(client_ip) AS request_count,
         |  count(DISTINCT client_ip) AS unique_client_ips_count,
         |  round(avg(tpt), 6) AS average_total_processing_time,
         |  round(median(tpt), 6) AS median_total_processing_time,
         |  CAST(coalesce(sum(sent_bytes), 0) AS BIGINT) AS sum_sent_bytes,
         |  CAST(coalesce(sum(received_bytes), 0) AS BIGINT) AS sum_received_bytes,
         |  count(*) FILTER (sct = '2xx_Success') AS count_2xx,
         |  count(*) FILTER (sct = '4xx_ClientError') AS count_4xx,
         |  count(*) FILTER (sct = '5xx_ServerError') AS count_5xx
         |FROM base GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin),
    "elb_error_summary" -> Query(errorSummary,
      s"""$baseCte
         |SELECT ts AS time, client_ip, city, countryName, isp,
         |  CASE WHEN event_id % 5 = 0 THEN 'POST' ELSE 'GET' END AS http_method,
         |  'https://svc' || (user_id % 5) || '.example.com'
         |    || CASE WHEN event_id % 4 = 0 THEN ':443' ELSE '' END
         |    || CASE event_id % 6 WHEN 0 THEN '' WHEN 1 THEN '/' WHEN 2 THEN '/api'
         |       WHEN 3 THEN '/api/v1/items' WHEN 4 THEN '/assets/img/logo.png'
         |       ELSE '/search' END
         |    || CASE WHEN event_id % 3 = 0 THEN '?q=' || (event_id % 11) ELSE '' END AS full_url,
         |  status AS elb_status_code,
         |  status::VARCHAR AS target_status_code_list,
         |  CASE event_id % 6
         |    WHEN 0 THEN 'Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36'
         |    WHEN 1 THEN 'Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.0 Safari/605.1.15'
         |    WHEN 2 THEN 'Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/115.0'
         |    WHEN 3 THEN 'Googlebot/2.1 (+http://www.google.com/bot.html)'
         |    ELSE 'curl/8.0.1' END AS user_agent,
         |  CASE event_id % 6 WHEN 0 THEN 'Chrome' WHEN 1 THEN 'Safari'
         |    WHEN 2 THEN 'Firefox' WHEN 3 THEN 'Googlebot'
         |    WHEN 5 THEN 'curl' ELSE 'Other' END AS ua_browser_family,
         |  CASE event_id % 6 WHEN 0 THEN 'Windows' WHEN 1 THEN 'Mac OS X'
         |    WHEN 2 THEN 'Linux' ELSE 'Other' END AS ua_os_family,
         |  '-' AS error_reason
         |FROM base WHERE sct IN ('4xx_ClientError', '5xx_ServerError')""".stripMargin),
    "elb_bot_origin" -> Query(botOrigin,
      s"""$baseCte
         |SELECT countryName, isp,
         |  CAST(count(*) AS BIGINT) AS bot_request_count
         |FROM base WHERE event_id % 6 = 3
         |GROUP BY 1, 2""".stripMargin),
    // Whole-DAG derivation: base (parse+enrich+filter) → session
    // windows → rolling range windows, all re-derived from events.
    // Session ORDER BY carries event_id as the oracle-side tie-break
    // (the Spark side hashes request fields); the projected
    // session_number/session_id are invariant to tie order, and the
    // rolling range frames mirror the pandas (t−Δ, t] edge exactly as
    // the rolling_window oracle does.
    "elb_pipeline" -> Query(elbPipeline,
      s"""${baseCteAnd(PipelineSubset)},
         |sess AS (
         |  SELECT *,
         |    CASE WHEN coalesce(epoch_us(ts) - lag(epoch_us(ts)) OVER sw, 0)
         |      > 1800000000 THEN 1 ELSE 0 END AS ns
         |  FROM base
         |  WINDOW sw AS (PARTITION BY client_ip ORDER BY ts, event_id)
         |),
         |s AS (
         |  SELECT *,
         |    CAST(sum(ns) OVER (PARTITION BY client_ip ORDER BY ts, event_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_number
         |  FROM sess
         |)
         |SELECT 'app/elb-' || event_id AS elb, ts AS time, client_ip,
         |  sct AS status_code_type, countryName, city, isp,
         |  event_id % 6 = 3 AS is_bot,
         |  CASE event_id % 6 WHEN 0 THEN 0 WHEN 1 THEN 0 WHEN 2 THEN 1
         |    WHEN 3 THEN 3 WHEN 4 THEN 3 ELSE 1 END AS path_depth,
         |  CASE event_id % 6 WHEN 2 THEN 'api' WHEN 3 THEN 'api'
         |    WHEN 4 THEN 'assets' WHEN 5 THEN 'search' ELSE '' END AS path_main_segment,
         |  hour(e) AS request_hour,
         |  tpt AS total_processing_time,
         |  session_number,
         |  client_ip || '_s' || session_number AS session_id,
         |  CAST(count(*) OVER w5 AS BIGINT) AS rolling_5min_request_count,
         |  round(avg(tpt) OVER w1, 6) AS rolling_1h_avg_processing
         |FROM s
         |WINDOW
         |  w5 AS (PARTITION BY client_ip ORDER BY epoch_us(ts)
         |    RANGE BETWEEN 299999999 PRECEDING AND CURRENT ROW),
         |  w1 AS (PARTITION BY client_ip ORDER BY epoch_us(ts)
         |    RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)""".stripMargin)
  )
}
