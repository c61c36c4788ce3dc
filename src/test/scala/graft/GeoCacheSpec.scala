package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.GeoCache
import graft.sources.StaticGeoProvider

class GeoCacheSpec extends SparkSpec {
  import spark.implicits._

  def t(s: String): Timestamp = Timestamp.valueOf(s)
  val clock: Timestamp = t("2026-01-01 00:00:00")

  test("load of a missing path yields an empty, correctly-typed cache") {
    val df = GeoCache.load(spark, "/tmp/graft-no-such-cache")
    assert(df.count() === 0)
    assert(df.schema === GeoCache.schema)
  }

  test("load of a CORRUPT cache rethrows instead of silently emptying") {
    val dir = java.nio.file.Files.createTempDirectory("graft-corrupt-cache")
    java.nio.file.Files.writeString(
      dir.resolve("part-00000.parquet"), "this is not parquet")
    try intercept[Exception] {
      GeoCache.load(spark, dir.toString).count()
    } finally {
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("fetch fans out for a pure provider, single task for rate-limited") {
    val ips = spark.range(0, 64, 1, 8)
      .select(concat(lit("10.0.0."), $"id" % 250).as("v")).as[String]
    val pure = GeoCache.fetch(ips, StaticGeoProvider(clock))
    assert(pure.rdd.getNumPartitions === 8,
      "pure provider must keep upstream partitioning")
    val limited = GeoCache.fetch(ips, new graft.sources.HttpGeoProvider())
    assert(limited.rdd.getNumPartitions === 1,
      "rate-limited provider must run as one task")
  }

  test("upsert keeps the newest row per key; timestamp ties keep the old side") {
    val old = Seq(
      ("1.1.1.1", "US", t("2025-01-01 00:00:00")),
      ("2.2.2.2", "DE", t("2025-06-01 00:00:00"))
    ).toDF("client_ip", "countryCode", "api_fetch_timestamp")
    val fresh = Seq(
      ("1.1.1.1", "CA", t("2025-12-01 00:00:00")),  // newer → wins
      ("2.2.2.2", "FR", t("2025-06-01 00:00:00")),  // tie → old (DE) wins
      ("3.3.3.3", "JP", t("2025-12-01 00:00:00"))   // brand new
    ).toDF("client_ip", "countryCode", "api_fetch_timestamp")
    val out = GeoCache.upsert(old, fresh)
      .orderBy("client_ip").select("client_ip", "countryCode")
      .as[(String, String)].collect()
    assert(out.toSeq === Seq(
      ("1.1.1.1", "CA"), ("2.2.2.2", "DE"), ("3.3.3.3", "JP")))
  }

  test("newIps finds only uncached distinct IPs") {
    val logs = Seq("1.1.1.1", "1.1.1.1", "9.9.9.9", "8.8.8.8")
      .toDF("client_ip")
    val cache = Seq(("1.1.1.1", "US", clock))
      .toDF("client_ip", "countryCode", "api_fetch_timestamp")
    val out = GeoCache.newIps(logs, cache).as[String].collect().sorted
    assert(out.toSeq === Seq("8.8.8.8", "9.9.9.9"))
  }

  test("static provider: formula geo, error sentinel on d%97==0 and bad IPs") {
    val p = StaticGeoProvider(clock)
    val g = p.lookup("10.7.13.42")
    assert(g.countryCode === "C2")       // 42 % 5
    assert(g.regionName === "R3")        // 13 % 10
    assert(g.city === "City-15")         // (13+42) % 20
    assert(g.isp === "ISP-1")            // 7 % 3
    assert(g.lat === Some(-47.5) && g.lon === Some(-166.75))
    assert(p.lookup("10.0.0.0").countryCode === "Error")   // d=0 → sentinel
    assert(p.lookup("garbage").countryCode === "Error")
    assert(p.lookup("1.2.3").countryCode === "Error")
  }

  test("enrich preserves row count (1:<=1 join) and attaches geo columns") {
    val logs = Seq(("1.1.1.1", 1L), ("1.1.1.1", 2L), ("7.7.7.7", 3L))
      .toDF("client_ip", "id")
    val cache = Seq(("1.1.1.1", "US", clock))
      .toDF("client_ip", "countryCode", "api_fetch_timestamp")
    val out = GeoCache.enrich(logs, cache)
    assert(out.count() === 3)
    assert(out.where($"id" === 3).select("countryCode").collect().head.isNullAt(0))
  }
}
