package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic ELB-line synthesis from the `events` table
  * (FIXTURES.md §3: ELB-specific ops are exercised on ELB-shaped lines
  * synthesized from events columns — no extra fixture files).
  *
  * The synthesis is pure integer/string arithmetic on (event_id, user_id,
  * ts, event_type) so the DuckDB oracle can compute the EXPECTED parse
  * output directly from events without replicating the tokenizer — the
  * Spark side must tokenize/parse its way back to the same values.
  *
  * Planted malformations exercise the parser's drop paths:
  *   - event_id % 101 == 0 → whole line replaced by garbage (arity drop)
  *   - event_id % 97  == 0 → unparseable float field (row drop)
  *   - event_id % 13  == 0 → '-' status sentinel (null int, row kept)
  *   - event_id % 7   == 0 → '-' float sentinel (null double, row kept)
  */
object ElbSynth {

  /** SQL WHERE fragment (DuckDB + Spark compatible) selecting rows that
    * survive parsing.
    */
  val survivorsWhere: String = "event_id % 101 <> 0 AND event_id % 97 <> 0"

  private def c(parts: Column*): Column = concat(parts: _*)
  private def q(inner: Column): Column = concat(lit("\""), inner, lit("\""))

  def uaFor(eidMod6: Column): Column =
    when(eidMod6 === 0, "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36")
      .when(eidMod6 === 1, "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.0 Safari/605.1.15")
      .when(eidMod6 === 2, "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/115.0")
      .when(eidMod6 === 3, "Googlebot/2.1 (+http://www.google.com/bot.html)")
      .when(eidMod6 === 4, "Datadog Agent/7.54.0")
      .otherwise("curl/8.0.1")

  def pathFor(eidMod6: Column): Column =
    when(eidMod6 === 0, "").when(eidMod6 === 1, "/")
      .when(eidMod6 === 2, "/api").when(eidMod6 === 3, "/api/v1/items")
      .when(eidMod6 === 4, "/assets/img/logo.png").otherwise("/search")

  def statusFor(eventType: Column): Column =
    when(eventType === "click", "200").when(eventType === "view", "301")
      .when(eventType === "purchase", "201").when(eventType === "signup", "204")
      .when(eventType === "error", "503").otherwise("418")

  /** events → DataFrame(value, log_source_file): one synthetic ELB line
    * per event row. Pure narrow projection — no shuffle.
    *
    * It stays outside [[graft.Artifacts]] on purpose. The lines are a
    * `.cache()`d DataFrame, and Spark's `CacheManager` finds that cache
    * again for every caller that builds the same plan, so no registry
    * key is needed to share it. `Artifacts` holds only on-disk layouts
    * and driver values; as a layout the lines would become a parquet
    * table, and every `elb_*` query (`query_mix`'s timed `elb_parse`
    * among them) would read parquet in place of the in-memory cache.
    */
  def lines(events: DataFrame): DataFrame = {
    val eid = col("event_id")
    val uid = col("user_id")
    val m6 = eid % 6

    val timeStr = c(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), lit("Z"))
    val ipPort = c(lit("10."), uid % 200, lit("."), eid % 250, lit("."),
      (eid * 7) % 250, lit(":"), lit(1000) + eid % 50000)
    val reqProc = when(eid % 97 === 0, "abc").when(eid % 7 === 0, "-").otherwise("0.001")
    val tgtProc = c(lit("0."), lpad((eid % 500).cast("string"), 3, "0"))
    val status = when(eid % 13 === 0, lit("-")).otherwise(statusFor(col("event_type")))
    val url = c(lit("https://svc"), uid % 5, lit(".example.com"),
      when(eid % 4 === 0, ":443").otherwise(""),
      pathFor(m6),
      when(eid % 3 === 0, c(lit("?q="), eid % 11)).otherwise(lit("")))
    val method = when(eid % 5 === 0, "POST").otherwise("GET")
    val request = q(c(method, lit(" "), url, lit(" HTTP/1.1")))
    val classification = when(eid % 4 === 0, q(lit("Acceptable"))).otherwise(q(lit("-")))
    val classificationReason = when(eid % 11 === 0, q(lit("WafBlocked")))
      .when(eid % 11 === 5, q(lit("DenyRule"))).otherwise(q(lit("-")))

    val line = concat_ws(" ",
      lit("https"), timeStr, c(lit("app/elb-"), eid), ipPort, lit("172.31.0.1:80"),
      reqProc, tgtProc, lit("0.000"),
      status, status, (eid % 10000).cast("string"), ((eid * 3) % 100000).cast("string"),
      request, q(uaFor(m6)), lit("TLS_AES_128_GCM_SHA256"), lit("TLSv1.3"),
      lit("arn:aws:elb:tg/x"), q(c(lit("Root=1-"), eid)), q(lit("example.com")), q(lit("arn:cert")),
      lit("1"), timeStr, q(lit("waf,forward")),
      q(lit("-")), q(lit("-")), q(lit("172.31.0.1:80")), q(status), classification, classificationReason)

    // cache(): the line-synthesis expression tree is large; without a
    // materialization point it gets re-evaluated inside the downstream
    // parse projection (filter + field refs), multiplying harness cost
    // that isn't part of the operator under test. Spark's CacheManager
    // dedupes by logical plan, so repeated calls share ONE entry per sf
    // dir rather than leaking one per call; a long-lived session can
    // reclaim it with spark.catalog.clearCache().
    // repartition(defaultParallelism) BEFORE the cache (round 17): the
    // sf fixtures are single-row-group parquet, so the events scan is
    // ONE task no matter the split size, and a cache built on top of it
    // keeps that 1-partition layout — every downstream elb_* query then
    // ran its whole 100k-line parse kernel serially (profile: a lone
    // 1.8 s CPU task inside ip_range_lookup / elb_hourly_geo / the
    // report queries, 31 cores idle). A cached table that the whole
    // family re-scans should carry the session's parallelism; the one
    // round-robin exchange happens at cache build, which Bench warms
    // outside the timed window and a production pipeline pays once.
    events.select(
      when(eid % 101 === 0, lit("garbage short line")).otherwise(line).as("value"),
      lit("synthetic.log.gz").as("log_source_file"))
      .repartition(events.sparkSession.sparkContext.defaultParallelism)
      .cache()
  }
}
