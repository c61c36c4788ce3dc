package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.ElbParser

/** Driver-contract queries exercising the ELB parse/classify/feature
  * pipeline end-to-end on synthesized lines (see [[ElbSynth]]).
  *
  * The Spark side builds lines from `events` and runs the REAL parser;
  * the DuckDB oracle computes the expected output directly from events
  * columns — an independent derivation, so any tokenizer/coercion/URL
  * semantic drift shows up as a value mismatch.
  */
object ElbQueries {

  private def parsed(spark: SparkSession, sfDir: String): DataFrame =
    ElbParser.parse(ElbSynth.lines(Tables.events(spark, sfDir)))

  def elbParse(spark: SparkSession, sfDir: String): DataFrame =
    parsed(spark, sfDir).select(
      "elb", "time", "client_ip",
      "request_processing_time", "target_processing_time", "response_processing_time",
      "elb_status_code", "target_status_code", "received_bytes", "sent_bytes",
      "http_method", "full_url", "http_version", "protocol", "hostname",
      "port", "path", "query_params", "request_creation_time", "log_source_file")

  /** [[elbParse]] ingested through the custom DataSource V2 reader
    * ([[graft.sources.ElbLogSourceV2]]) instead of the synthesized
    * in-memory lines: the same parse must fall out of real gzip files
    * read by the custom source — gating the source's decompression,
    * line splitting, and scan pruning under the oracle. The lineage
    * column is excluded (it carries the temp staging path).
    */
  def elbDsv2Parse(spark: SparkSession, sfDir: String): DataFrame = {
    // staged gzip, one write per (session, sfDir)
    val work = graft.Artifacts.table(spark, "dsv2_stage", sfDir) { layout =>
      // One gzip object per core: gzip is non-splittable (1
      // partition/file — SCALE.md's ingest note), so the staged file
      // count IS the read parallelism. 4 files serialized the sf10
      // parse onto 4 of 32 cores (~82 s for a ~10 s parse); derived
      // from the host's parallelism, not a literal, so the staging
      // dir matches whatever box runs it (at real scale the
      // analogous dial is objects ≈ cluster cores at ~1 GB each).
      ElbSynth.lines(Tables.events(spark, sfDir)).select("value")
        .repartition(spark.sparkContext.defaultParallelism)
        .write.option("compression", "gzip").text(s"${layout.dir}/logs")
    }.dir
    val raw = spark.read.format("graft.sources.ElbLogSourceV2")
      .load(s"$work/logs/*.gz")
    ElbParser.parse(raw).select(
      "elb", "time", "client_ip",
      "request_processing_time", "target_processing_time", "response_processing_time",
      "elb_status_code", "target_status_code", "received_bytes", "sent_bytes",
      "http_method", "full_url", "http_version", "protocol", "hostname",
      "port", "path", "query_params", "request_creation_time")
  }

  def elbClassify(spark: SparkSession, sfDir: String): DataFrame =
    ElbParser.filterCategorize(parsed(spark, sfDir)).select(
      "elb", "user_agent", "ua_browser_family", "ua_os_family",
      "is_bot", "status_code_type", "waf_blocked")

  def elbFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val df = ElbParser.addPathFeatures(
      ElbParser.calculateProcessingTimes(
        ElbParser.extractTimeFeatures(parsed(spark, sfDir))))
    df.select(
      "elb", "request_year", "request_month", "request_day", "request_hour",
      "request_day_of_week", "request_day_of_week_num", "request_week_of_year",
      "total_processing_time", "path_depth", "path_main_segment")
  }

  /** CIDR-style IP-range enrichment — the scale path for geo lookup:
    * instead of the reference's per-IP HTTP call (elb_logs.py:413-419),
    * a RANGE TABLE of ip intervals (variable-width sub-/16 blocks here,
    * derived deterministically so the oracle can rebuild them) is
    * matched against every parsed client IP. `RangeJoin.intervalJoin`
    * bins the number line, so the match is an equi-join on the bin —
    * the 600-row exploded range side broadcasts and the fact side
    * never shuffles; the only exchange is the final 7-row region
    * rollup. IPv4 → int is pure column arithmetic on the dotted quads
    * (no UDF).
    */
  def ipRangeLookup(spark: SparkSession, sfDir: String): DataFrame = {
    def oct(i: Int) = element_at(split(col("client_ip"), "\\."), i).cast("long")
    val pts = parsed(spark, sfDir)
      .select(col("client_ip"),
        (oct(1) * 16777216L + oct(2) * 65536L + oct(3) * 256L + oct(4))
          .as("ip_num"))
    val base = lit(10L * 16777216L) + col("x") * 65536L
    val b1 = base + (col("x") * 37 % 120 + 1) * 256L
    val b2 = base + (col("x") * 11 % 120 + 128) * 256L
    val ranges = spark.range(0, 200).select(col("id").as("x"))
      .select(col("x"), explode(array(
        struct(lit(0L).as("ridx"), base.as("r_start"), b1.as("r_bound")),
        struct(lit(1L).as("ridx"), b1.as("r_start"), b2.as("r_bound")),
        struct(lit(2L).as("ridx"), b2.as("r_start"),
          (base + 65536L).as("r_bound")))).as("r"))
      .select(
        concat(lit("R"), ((col("x") + col("r.ridx")) % 7).cast("string"))
          .as("region"),
        col("r.r_start"), (col("r.r_bound") - 1L).as("r_end"))
    graft.operators.RangeJoin
      .intervalJoin(pts, "ip_num", ranges, "r_start", "r_end", binWidth = 16384L)
      .groupBy(col("region"))
      .agg(count(lit(1)).as("n_requests"),
        countDistinct(col("client_ip")).as("n_ips"))
  }

  // -- oracle SQL (DuckDB dialect) ------------------------------------
  // Shared fragments: expected values derived straight from events.

  private val key = "'app/elb-' || event_id"
  private val statusCase =
    """CASE WHEN event_id % 13 = 0 THEN NULL ELSE
      | CASE event_type WHEN 'click' THEN 200 WHEN 'view' THEN 301
      |  WHEN 'purchase' THEN 201 WHEN 'signup' THEN 204
      |  WHEN 'error' THEN 503 ELSE 418 END END""".stripMargin
  private val pathCase =
    """CASE event_id % 6 WHEN 0 THEN '' WHEN 1 THEN '/' WHEN 2 THEN '/api'
      | WHEN 3 THEN '/api/v1/items' WHEN 4 THEN '/assets/img/logo.png'
      | ELSE '/search' END""".stripMargin
  private val uaCase =
    """CASE event_id % 6
      | WHEN 0 THEN 'Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36'
      | WHEN 1 THEN 'Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.0 Safari/605.1.15'
      | WHEN 2 THEN 'Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/115.0'
      | WHEN 3 THEN 'Googlebot/2.1 (+http://www.google.com/bot.html)'
      | WHEN 4 THEN 'Datadog Agent/7.54.0'
      | ELSE 'curl/8.0.1' END""".stripMargin

  /** elb_parse expectation; the DSv2 twin drops the lineage column
    * (its value is the temp staging path).
    */
  private def parseOracle(withFile: Boolean): String =
    s"""SELECT $key AS elb, ts AS time,
         |  '10.' || (user_id % 200) || '.' || (event_id % 250) || '.' || ((event_id*7) % 250) AS client_ip,
         |  CASE WHEN event_id % 7 = 0 THEN NULL ELSE 0.001 END AS request_processing_time,
         |  CAST('0.' || lpad((event_id % 500)::VARCHAR, 3, '0') AS DOUBLE) AS target_processing_time,
         |  0.0 AS response_processing_time,
         |  $statusCase AS elb_status_code,
         |  $statusCase AS target_status_code,
         |  event_id % 10000 AS received_bytes,
         |  (event_id*3) % 100000 AS sent_bytes,
         |  CASE WHEN event_id % 5 = 0 THEN 'POST' ELSE 'GET' END AS http_method,
         |  'https://svc' || (user_id % 5) || '.example.com'
         |    || CASE WHEN event_id % 4 = 0 THEN ':443' ELSE '' END
         |    || $pathCase
         |    || CASE WHEN event_id % 3 = 0 THEN '?q=' || (event_id % 11) ELSE '' END AS full_url,
         |  'HTTP/1.1' AS http_version,
         |  'https' AS protocol,
         |  'svc' || (user_id % 5) || '.example.com' AS hostname,
         |  CASE WHEN event_id % 4 = 0 THEN 443 ELSE NULL END AS port,
         |  $pathCase AS path,
         |  CASE WHEN event_id % 3 = 0 THEN 'q=' || (event_id % 11) ELSE '' END AS query_params,
       |  ts AS request_creation_time${
        if (withFile) ",\n       |  'synthetic.log.gz' AS log_source_file" else ""}
       |FROM events WHERE ${ElbSynth.survivorsWhere}""".stripMargin

  val entries: Seq[(String, Query)] = Seq(
    "elb_parse" -> Query(elbParse, parseOracle(withFile = true)),
    "elb_dsv2_parse" -> Query(elbDsv2Parse, parseOracle(withFile = false)),
    "ip_range_lookup" -> Query(ipRangeLookup,
      s"""WITH f AS (
         |  SELECT
         |    '10.' || (user_id % 200) || '.' || (event_id % 250) || '.'
         |      || ((event_id*7) % 250) AS client_ip,
         |    (10 * 16777216 + (user_id % 200) * 65536
         |      + (event_id % 250) * 256 + ((event_id*7) % 250)) AS ip_num
         |  FROM events WHERE ${ElbSynth.survivorsWhere}
         |), xs AS (
         |  SELECT unnest(generate_series(0, 199)) AS x
         |), r AS (
         |  SELECT x, 0 AS ridx,
         |    (10*16777216 + x*65536) AS r_start,
         |    (10*16777216 + x*65536) + (x*37 % 120 + 1)*256 AS r_bound
         |  FROM xs
         |  UNION ALL
         |  SELECT x, 1,
         |    (10*16777216 + x*65536) + (x*37 % 120 + 1)*256,
         |    (10*16777216 + x*65536) + (x*11 % 120 + 128)*256
         |  FROM xs
         |  UNION ALL
         |  SELECT x, 2,
         |    (10*16777216 + x*65536) + (x*11 % 120 + 128)*256,
         |    (10*16777216 + x*65536) + 65536
         |  FROM xs
         |), j AS (
         |  SELECT f.client_ip, 'R' || ((r.x + r.ridx) % 7) AS region
         |  FROM f JOIN r ON f.ip_num >= r.r_start AND f.ip_num < r.r_bound
         |)
         |SELECT region, CAST(count(*) AS BIGINT) AS n_requests,
         |  CAST(count(DISTINCT client_ip) AS BIGINT) AS n_ips
         |FROM j GROUP BY region""".stripMargin),
    "elb_classify" -> Query(elbClassify,
      s"""SELECT $key AS elb, $uaCase AS user_agent,
         |  CASE event_id % 6 WHEN 0 THEN 'Chrome' WHEN 1 THEN 'Safari'
         |   WHEN 2 THEN 'Firefox' WHEN 3 THEN 'Googlebot'
         |   WHEN 5 THEN 'curl' ELSE 'Other' END AS ua_browser_family,
         |  CASE event_id % 6 WHEN 0 THEN 'Windows' WHEN 1 THEN 'Mac OS X'
         |   WHEN 2 THEN 'Linux' ELSE 'Other' END AS ua_os_family,
         |  event_id % 6 IN (3, 4) AS is_bot,
         |  CASE WHEN event_id % 13 = 0 THEN 'Unknown' ELSE
         |   CASE event_type WHEN 'click' THEN '2xx_Success' WHEN 'view' THEN '3xx_Redirection'
         |    WHEN 'purchase' THEN '2xx_Success' WHEN 'signup' THEN '2xx_Success'
         |    WHEN 'error' THEN '5xx_ServerError' ELSE '4xx_ClientError' END END AS status_code_type,
         |  (event_id % 11 = 0 OR event_id % 11 = 5) AS waf_blocked
         |FROM events WHERE ${ElbSynth.survivorsWhere} AND event_id % 6 <> 4""".stripMargin),
    "elb_features" -> Query(elbFeatures,
      s"""WITH ny AS (SELECT *, (ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York' AS e
         |            FROM events WHERE ${ElbSynth.survivorsWhere})
         |SELECT $key AS elb,
         |  year(e) AS request_year, month(e) AS request_month,
         |  day(e) AS request_day, hour(e) AS request_hour,
         |  dayname(e) AS request_day_of_week,
         |  isodow(e) - 1 AS request_day_of_week_num,
         |  weekofyear(e) AS request_week_of_year,
         |  (CASE WHEN event_id % 7 = 0 THEN 0.0 ELSE 0.001 END
         |    + CAST('0.' || lpad((event_id % 500)::VARCHAR, 3, '0') AS DOUBLE)) + 0.0
         |    AS total_processing_time,
         |  CASE event_id % 6 WHEN 0 THEN 0 WHEN 1 THEN 0 WHEN 2 THEN 1
         |   WHEN 3 THEN 3 WHEN 4 THEN 3 ELSE 1 END AS path_depth,
         |  CASE event_id % 6 WHEN 2 THEN 'api' WHEN 3 THEN 'api'
         |   WHEN 4 THEN 'assets' WHEN 5 THEN 'search' ELSE '' END AS path_main_segment
         |FROM ny""".stripMargin)
  )
}
