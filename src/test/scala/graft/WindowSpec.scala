package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{Rolling, Sessionize}

class WindowSpecSuite extends SparkSpec {
  import spark.implicits._

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("rolling 5-min frame is left-open like pandas: exact edge excluded") {
    // two events exactly 300 s apart: pandas (t-5min, t] excludes the first
    val df = Seq(
      ("a", ts("2024-01-01 00:00:00"), 1L),
      ("a", ts("2024-01-01 00:05:00"), 2L),   // exactly +300 s
      ("a", ts("2024-01-01 00:09:59"), 3L)    // +299 s after the second
    ).toDF("ip", "time", "id")
    val out = Rolling.addRollingFeaturesChunked(df, "ip", "time", "id", "id")
      .orderBy("id")
      .select("rolling_5min_request_count").as[Long].collect()
    assert(out.toSeq === Seq(1L, 1L, 2L))
  }

  test("sessionize: 30-min gap starts a new session; id format ip_sN") {
    val df = Seq(
      ("a", ts("2024-01-01 00:00:00"), 1L),
      ("a", ts("2024-01-01 00:29:00"), 2L),   // 29 min — same session
      ("a", ts("2024-01-01 01:00:00"), 3L),   // 31 min gap — new session
      ("b", ts("2024-01-01 00:00:00"), 4L)
    ).toDF("ip", "time", "id")
    val out = Sessionize.sessionize(df, "ip", "time", col("id"))
      .orderBy("id")
      .select("session_id", "new_session").as[(String, Boolean)].collect()
    assert(out.toSeq === Seq(
      ("a_s0", false), ("a_s0", false), ("a_s1", true), ("b_s0", false)))
  }

  test("sessionize: gap of exactly 30 min does NOT start a session (strict >)") {
    val df = Seq(
      ("a", ts("2024-01-01 00:00:00"), 1L),
      ("a", ts("2024-01-01 00:30:00"), 2L)
    ).toDF("ip", "time", "id")
    val out = Sessionize.sessionize(df, "ip", "time", col("id"))
      .orderBy("id").select("session_number").as[Long].collect()
    assert(out.toSeq === Seq(0L, 0L))
  }

  test("rolling avg ignores nulls like pandas mean") {
    val df = Seq(
      ("a", ts("2024-01-01 00:00:00"), Some(2.0), 1L),
      ("a", ts("2024-01-01 00:10:00"), None, 2L),
      ("a", ts("2024-01-01 00:20:00"), Some(4.0), 3L)
    ).toDF("ip", "time", "v", "id")
    val out = Rolling.addRollingFeaturesChunked(df, "ip", "time", "id", "v")
      .orderBy("id").select("rolling_1h_avg_processing").as[Option[Double]].collect()
    assert(out.toSeq === Seq(Some(2.0), Some(2.0), Some(3.0)))
  }

  test("chunked trailing frames equal the single-partition window under a mega-key") {
    import graft.operators.Rolling
    // one hot key with 2000 events at 90 s spacing (frames straddle
    // every hour-block boundary repeatedly) + a sprinkle of cold keys,
    // including rows landing EXACTLY on block boundaries
    val rows = (0 until 2000).map { i =>
      (i.toLong, 0L, java.sql.Timestamp.valueOf("2025-05-26 00:00:00")
        .toInstant.plusSeconds(i * 90L), (i % 7 + 1).toDouble)
    } ++ (0 until 50).map { i =>
      (10000L + i, 1L + i % 3,
        java.sql.Timestamp.valueOf("2025-05-26 00:00:00").toInstant
          .plusSeconds(i * 3600L), 2.5) // exact hour marks
    }
    val df = rows.toDF("event_id", "user_id", "ts", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val plain = df
      .withColumn("c5", count(col("event_id"))
        .over(Rolling.trailing(col("user_id"), col("ts"), Rolling.FiveMinutes)))
      .withColumn("a1", avg(col("value"))
        .over(Rolling.trailing(col("user_id"), col("ts"), Rolling.OneHour)))
      .select("event_id", "c5", "a1")
    val chunked = Rolling.trailingChunked(
      df, col("user_id"), col("ts"), Rolling.OneHour)(
      (Rolling.FiveMinutes, w => count(col("event_id")).over(w), "c5"),
      (Rolling.OneHour, w => avg(col("value")).over(w), "a1"))
      .select("event_id", "c5", "a1")
    assert(chunked.count() === df.count()) // carries filtered out
    // the Δ ≤ blockSpan exactness invariant is machine-checked
    intercept[IllegalArgumentException] {
      Rolling.trailingChunked(df, col("user_id"), col("ts"),
        Rolling.FiveMinutes)(
        (Rolling.OneHour, w => count(col("event_id")).over(w), "c1h"))
    }
    val diff = plain.join(chunked.withColumnRenamed("c5", "c5b")
        .withColumnRenamed("a1", "a1b"), "event_id")
      .where(col("c5") =!= col("c5b") ||
        abs(col("a1") - col("a1b")) > 1e-12)
    assert(diff.count() === 0, "chunked frames must be exact")
  }

  test("ewmaLast: hand-computed weights, short head, null exclusion") {
    // depth=4 -> weights newest-first 8,4,2,1.
    val df = Seq(
      ("a", 1L, Some(100L)),
      ("a", 2L, Some(200L)),
      ("a", 3L, None),       // null value: excluded from num AND den
      ("a", 4L, Some(400L)),
      ("b", 1L, Some(50L))
    ).toDF("k", "t", "cents")
    val out = Rolling.ewmaLast(df, "k", "t", "t", "cents", depth = 4)
      .select(col("k"), col("t"), col("ewma_num"), col("ewma_den"), col("ewma"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), if (r.isNullAt(4)) None else Some(r.getDouble(4)))))
      .toMap
    // t=1: frame [100] -> num 100*8, den 8
    assert(out(("a", 1L)) == ((800L, 8L, Some(100.0))))
    // t=2: [100,200] -> 200*8 + 100*4 = 2000, den 12
    assert(out(("a", 2L)) == ((2000L, 12L, Some(2000.0 / 12))))
    // t=3: current null -> [_,200@lag1,100@lag2] = 200*4 + 100*2, den 6
    assert(out(("a", 3L)) == ((1000L, 6L, Some(1000.0 / 6))))
    // t=4: [400@0, null@1, 200@2, 100@3] -> 3200 + 400 + 100, den 8+2+1
    assert(out(("a", 4L)) == ((3700L, 11L, Some(3700.0 / 11))))
    assert(out(("b", 1L)) == ((400L, 8L, Some(50.0))))
  }

  test("ewmaLast plans one Window node on one exchange") {
    val df = Seq(("a", 1L, 1L)).toDF("k", "t", "cents")
    val plan = Rolling.ewmaLast(df, "k", "t", "t", "cents")
      .queryExecution.executedPlan.toString
    def cnt(sub: String) = plan.sliding(sub.length).count(_ == sub)
    assert(cnt("Window") === 1, plan)
    assert(cnt("Exchange hashpartitioning") === 1, plan)
  }
}
