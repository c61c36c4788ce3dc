package graft

import org.apache.spark.sql.functions._

import graft.operators.ElbParser

/** Mirrors the reference's pytest suite 1:1
  * (reference tests/test_elb_logs.py) plus extra edge coverage.
  */
class ElbParserSpec extends SparkSpec {
  import spark.implicits._

  /** The golden production line (reference tests/test_elb_logs.py:8-17). */
  val goldenLine: String =
    """https 2025-05-26T23:55:12.664047Z app/erank-app/88dfa9dc536560af 34.217.80.200:44256 172.31.37.43:80 0.003 0.035 0.000 200 200 157 4408 "GET https://members.erank.com:443/ HTTP/1.1" "Datadog Agent/7.54.0" TLS_AES_128_GCM_SHA256 TLSv1.3 arn:aws:elasticloadbalancing:us-west-2:848357551741:targetgroup/erank-app-v3-production/902b52047b6f4e28 "Root=1-6834ff60-6082aea9622eb93162ebf591" "members.erank.com" "arn:aws:acm:us-west-2:848357551741:certificate/c5395ea3-7277-455d-bd7f-9369ac9eed6c" 1 2025-05-26T23:55:12.625000Z "waf,forward" "-" "-" "172.31.37.43:80" "200" "-" "-" TID_62b60b871f1a3146acf08aec25fc1aed"""

  def parseOne(lines: String*): org.apache.spark.sql.DataFrame =
    ElbParser.parse(
      lines.toDF("value").withColumn("log_source_file", lit("test.log.gz")))

  test("golden line parses with the reference-asserted fields") {
    val rows = parseOne(goldenLine).collect()
    assert(rows.length === 1)
    val r = rows.head
    def f(n: String) = r.getAs[Any](n)
    assert(f("elb_status_code") === 200L)
    assert(f("http_method") === "GET")
    assert(f("hostname") === "members.erank.com")
    assert(f("ua_browser_family") === "Other")
    assert(f("is_bot") === true)
    // beyond the reference assertions:
    assert(f("client_ip") === "34.217.80.200")
    assert(f("port") === 443L)
    assert(f("path") === "/")
    assert(f("protocol") === "https")
    assert(f("user_agent") === "Datadog Agent/7.54.0")
    assert(f("request_processing_time") === 0.003)
    assert(f("received_bytes") === 157L)
    assert(f("time").toString === "2025-05-26 23:55:12.664047")
  }

  test("status bucketing table (reference test_categorize_status)") {
    val cases = Seq(
      100 -> "1xx_Informational", 200 -> "2xx_Success",
      300 -> "3xx_Redirection", 404 -> "4xx_ClientError",
      500 -> "5xx_ServerError", 999 -> "Other")
    val df = cases.map(_._1).toDF("code")
      .withColumn("t", graft.functions.ElbColumns.categorizeStatus($"code"))
    assert(df.select("t").as[String].collect().toSeq === cases.map(_._2))
    val nullCase = Seq[Option[Int]](None).toDF("code")
      .withColumn("t", graft.functions.ElbColumns.categorizeStatus($"code"))
    assert(nullCase.select("t").as[String].head() === "Unknown")
  }

  test("malformed lines yield zero rows, not exceptions") {
    assert(parseOne("This is not a valid ELB log line").count() === 0)
    assert(parseOne("").count() === 0)
    assert(parseOne("https 2024-01-01T00:00:00.000000Z app/x").count() === 0)
  }

  test("'-' sentinels null out floats and non-digits null out ints; bad time drops row") {
    val line = goldenLine
      .replace(" 0.003 0.035 0.000 200 200 157 4408 ", " - 0.035 0.000 - 200 abc 4408 ")
    val r = parseOne(line).collect().head
    assert(r.getAs[Any]("request_processing_time") === null)
    assert(r.getAs[Any]("target_processing_time") === 0.035)
    assert(r.getAs[Any]("elb_status_code") === null)
    assert(r.getAs[Any]("received_bytes") === null)
    // non-sentinel unparseable float → whole row dropped
    val badFloat = goldenLine.replace(" 0.003 ", " zz ")
    assert(parseOne(badFloat).count() === 0)
    // unparseable strict timestamp → whole row dropped
    val badTime = goldenLine.replace("2025-05-26T23:55:12.664047Z", "not-a-time")
    assert(parseOne(badTime).count() === 0)
  }

  test("negative numbers are rejected by the isdigit int rule") {
    val line = goldenLine.replace(" 157 4408 ", " -157 4408 ")
    val r = parseOne(line).collect().head
    assert(r.getAs[Any]("received_bytes") === null)
    assert(r.getAs[Any]("sent_bytes") === 4408L)
  }

  test("malformed request leaves URL fields null (reference except: pass)") {
    val line = goldenLine.replace(
      "\"GET https://members.erank.com:443/ HTTP/1.1\"", "\"BROKEN\"")
    val r = parseOne(line).collect().head
    assert(r.getAs[Any]("http_method") === null)
    assert(r.getAs[Any]("hostname") === null)
    assert(r.getAs[Any]("path") === null)
    assert(r.getAs[Any]("request") === "BROKEN")
  }

  test("'- - -' request (connection closed early) decomposes like urlparse") {
    // AWS emits the literal '- - -' request when the client closes the
    // connection before sending a request; urlparse('-') puts '-' in
    // PATH (scheme-less input), which tools/ref_diff.py proved against
    // the reference itself — parse_url alone would null it
    val line = goldenLine.replace(
      "\"GET https://members.erank.com:443/ HTTP/1.1\"", "\"- - -\"")
    val r = parseOne(line).collect().head
    assert(r.getAs[Any]("http_method") === "-")
    assert(r.getAs[Any]("full_url") === "-")
    assert(r.getAs[Any]("http_version") === "-")
    assert(r.getAs[Any]("protocol") === "")
    assert(r.getAs[Any]("hostname") === null)
    assert(r.getAs[Any]("port") === null)
    assert(r.getAs[Any]("path") === "-")
    assert(r.getAs[Any]("query_params") === "")
    // path features over it, as the reference computes them
    val f = ElbParser.addPathFeatures(parseOne(line)).collect().head
    assert(f.getAs[Any]("path_depth") === 1)
    assert(f.getAs[Any]("path_main_segment") === "")
  }

  test("filterCategorize drops health-check UAs and flags WAF") {
    val df = ElbParser.filterCategorize(parseOne(goldenLine))
    // Datadog UA is a health-check agent → dropped
    assert(df.count() === 0)
    val kept = ElbParser.filterCategorize(
      parseOne(goldenLine.replace("Datadog Agent/7.54.0", "curl/8.0.1")))
    val r = kept.collect().head
    assert(r.getAs[String]("status_code_type") === "2xx_Success")
    assert(r.getAs[Boolean]("waf_blocked") === false)
    assert(r.getAs[Boolean]("is_bot") === false)
  }

  test("time features use Eastern wall clock") {
    // 2025-05-26T23:55Z = 2025-05-26 19:55 EDT (Monday)
    val df = ElbParser.extractTimeFeatures(parseOne(goldenLine))
    val r = df.collect().head
    assert(r.getAs[Int]("request_hour") === 19)
    assert(r.getAs[String]("request_day_of_week") === "Monday")
    assert(r.getAs[Int]("request_day_of_week_num") === 0)
    assert(r.getAs[Int]("request_week_of_year") === 22)
  }

  test("path features") {
    val df = ElbParser.addPathFeatures(
      parseOne(goldenLine.replace("https://members.erank.com:443/",
        "https://members.erank.com:443/api/v1/items")))
    val r = df.collect().head
    assert(r.getAs[Int]("path_depth") === 3)
    assert(r.getAs[String]("path_main_segment") === "api")
  }

  test("lenient timestamp parses the pandas-parseable form table") {
    import org.apache.spark.sql.functions.col
    // (input, expected UTC instant as "yyyy-MM-dd HH:mm:ss[.f]") —
    // every row is accepted by pd.to_datetime. RFC-1123 and asctime,
    // inexpressible in Spark's pattern dialect, parse through the
    // codegen'd JavaTimeTimestamp branch.
    val table = Seq(
      "2024-03-05T10:11:12.123456Z" -> "2024-03-05 10:11:12.123456",
      "2024-03-05T10:11:12Z" -> "2024-03-05 10:11:12.0",
      "2024-03-05T10:11:12+00:00" -> "2024-03-05 10:11:12.0",
      "2024-03-05T10:11:12.123+02:00" -> "2024-03-05 08:11:12.123",
      "2024-03-05 10:11:12" -> "2024-03-05 10:11:12.0",
      "2024-03-05 10:11:12.123" -> "2024-03-05 10:11:12.123",
      "2024-03-05" -> "2024-03-05 00:00:00.0",
      "2024-03-05T10:11:12.123Z" -> "2024-03-05 10:11:12.123",
      "2024-03-05T10:11:12.123456789Z" -> "2024-03-05 10:11:12.123456",
      "2024/03/05 10:11:12" -> "2024-03-05 10:11:12.0",
      "20240305" -> "2024-03-05 00:00:00.0",
      "03/05/2024" -> "2024-03-05 00:00:00.0",
      "03/05/2024 10:11:12" -> "2024-03-05 10:11:12.0",
      // RFC-1123 / HTTP-date: named zone, offset, and 1-digit day
      "Tue, 05 Mar 2024 10:11:12 GMT" -> "2024-03-05 10:11:12.0",
      "Tue, 05 Mar 2024 10:11:12 +0200" -> "2024-03-05 08:11:12.0",
      "Fri, 1 Mar 2024 00:00:30 GMT" -> "2024-03-01 00:00:30.0",
      // asctime, incl. the double-space single-digit-day form
      "Tue Mar  5 10:11:12 2024" -> "2024-03-05 10:11:12.0",
      "Tue Mar 05 10:11:12 2024" -> "2024-03-05 10:11:12.0")
    import spark.implicits._
    val got = table.map(_._1).toDF("s")
      .select(graft.functions.ElbColumns.parseLenientTime(col("s")))
      .collect().map(_.getTimestamp(0).toString)
    table.zip(got).foreach { case ((in, want), g) =>
      assert(g === want, s"for input: $in")
    }
    val bad = Seq("not a date").toDF("s")
      .select(graft.functions.ElbColumns.parseLenientTime(col("s")))
    assert(bad.collect().head.isNullAt(0))
  }
}
