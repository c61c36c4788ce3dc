package graft

import org.apache.spark.sql.functions._

import graft.operators.Aggregates

/** Null-group-key semantics: pandas groupby(dropna=True) drops rows
  * whose group key is null; the grouped reports must match.
  */
class AggregatesSpec extends SparkSpec {
  import spark.implicits._

  test("grouped reports drop null-keyed rows like pandas dropna") {
    val rows = Seq(
      // (countryName, city, isp) — one fully-keyed, one null city, one null country
      (Some("Country-1"), Some("City-1"), Some("ISP-1")),
      (Some("Country-1"), None, Some("ISP-1")),
      (None, Some("City-2"), None)
    ).toDF("countryName", "city", "isp")
      .withColumn("request_year", lit(2025))
      .withColumn("request_month", lit(1))
      .withColumn("request_day", lit(1))
      .withColumn("request_hour", lit(0))
      .withColumn("client_ip", lit("1.1.1.1"))
      .withColumn("total_processing_time", lit(0.1))
      .withColumn("sent_bytes", lit(10L))
      .withColumn("received_bytes", lit(1L))
      .withColumn("status_code_type", lit("2xx_Success"))
      .withColumn("is_bot", lit(true))

    assert(Aggregates.hourlyAggregates(rows).count() === 1)
    val bots = Aggregates.botOriginSummary(rows)
    assert(bots.count() === 1)
    // null CITY doesn't matter for bot keys (country, isp): rows 1+2
    // both count; only the null-country/null-isp row drops
    assert(bots.head().getLong(2) === 2)
  }
}
