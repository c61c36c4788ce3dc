package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.functions._

import graft.operators.Analytics

/** Hand-built golden cases for the analytics operators' semantic
  * corners — the oracle proves them on the generated tables; these pin
  * the rules a fixture could satisfy by accident, against the REAL
  * operator code.
  */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("funnel: a click BEFORE the first view does not advance the funnel") {
    // user 1: click at 10:00 precedes the view → stage stops at 1
    // user 2: view, click, purchase in order → stage 3
    // user 3: no view at all → stage 0 even though click+purchase exist
    val events = Seq(
      (1L, 1L, ts("2026-01-01 10:00:00"), "click"),
      (2L, 1L, ts("2026-01-01 11:00:00"), "view"),
      (3L, 1L, ts("2026-01-01 12:00:00"), "purchase"),
      (4L, 2L, ts("2026-01-01 09:00:00"), "view"),
      (5L, 2L, ts("2026-01-01 09:30:00"), "click"),
      (6L, 2L, ts("2026-01-01 09:45:00"), "purchase"),
      (7L, 3L, ts("2026-01-01 08:00:00"), "click"),
      (8L, 3L, ts("2026-01-01 08:30:00"), "purchase")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val got = Analytics.funnel(events, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .select("user_id", "stage").as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 3L, 3L -> 0L))
    // ...and user 1's purchase also doesn't count (click never followed
    // the view), so purchase_ts must be null while view_ts is set
    val u1 = Analytics.funnel(events.where(col("user_id") === 1),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
      .select("view_ts", "click_ts", "purchase_ts").head()
    assert(!u1.isNullAt(0) && u1.isNullAt(1) && u1.isNullAt(2))
  }

  test("scd2: consecutive same-status runs compress; a return is a NEW row") {
    val orders = Seq(
      (1L, 10L, "O", Date.valueOf("2026-01-01")),
      (2L, 10L, "O", Date.valueOf("2026-01-05")), // same status → compressed
      (3L, 10L, "F", Date.valueOf("2026-01-10")), // change
      (4L, 10L, "O", Date.valueOf("2026-01-20"))  // change back → new row, not merged
    ).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
    val got = Analytics.scd2(orders, "o_custkey", "o_orderstatus",
        Seq("o_orderdate", "o_orderkey"))
      .select(col("o_orderstatus"), col("valid_from").cast("string"),
        col("valid_to").cast("string"), col("is_current"))
      .as[(String, String, Option[String], Boolean)].collect().sortBy(_._2).toSeq
    assert(got === Seq(
      ("O", "2026-01-01", Some("2026-01-10"), false),
      ("F", "2026-01-10", Some("2026-01-20"), false),
      ("O", "2026-01-20", None, true)))
  }

  test("scd2: a transition INTO a null attribute opens its own interval") {
    val orders = Seq(
      (1L, 10L, Option("O"), Date.valueOf("2026-01-01")),
      (2L, 10L, Option.empty[String], Date.valueOf("2026-01-05")), // → null: new run
      (3L, 10L, Option.empty[String], Date.valueOf("2026-01-08")), // null run compresses
      (4L, 10L, Option("F"), Date.valueOf("2026-01-10"))           // null → F: new run
    ).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
    val got = Analytics.scd2(orders, "o_custkey", "o_orderstatus",
        Seq("o_orderdate", "o_orderkey"))
      .select(col("o_orderstatus"), col("valid_from").cast("string"),
        col("is_current"))
      .as[(Option[String], String, Boolean)].collect().sortBy(_._2).toSeq
    assert(got === Seq(
      (Some("O"), "2026-01-01", false),
      (None, "2026-01-05", false),
      (Some("F"), "2026-01-10", true)))
  }

  test("concurrency sweep: touching intervals count as concurrent at the boundary") {
    // [1:00, 2:00] and [2:00, 3:00] — both active at exactly 2:00 → peak 2;
    // a third interval on another day sweeps independently → peak 1
    val intervals = Seq(
      (ts("2026-01-01 01:00:00"), ts("2026-01-01 02:00:00")),
      (ts("2026-01-01 02:00:00"), ts("2026-01-01 03:00:00")),
      (ts("2026-01-02 09:00:00"), ts("2026-01-02 10:00:00"))
    ).toDF("st", "en")
    val got = Analytics.concurrencyPeak(intervals, "st", "en")
      .select(col("day").cast("string"), col("peak_concurrency"))
      .as[(String, Long)].collect().toMap
    assert(got === Map("2026-01-01" -> 2L, "2026-01-02" -> 1L))
  }

  test("concurrency sweep: a midnight-spanning interval carries into the next day") {
    val intervals = Seq(
      (ts("2026-01-01 23:00:00"), ts("2026-01-02 01:00:00")),
      (ts("2026-01-02 00:30:00"), ts("2026-01-02 00:45:00"))
    ).toDF("st", "en")
    val got = Analytics.concurrencyPeak(intervals, "st", "en")
      .select(col("day").cast("string"), col("peak_concurrency"))
      .as[(String, Long)].collect().toMap
    // Jan 2 sees the carried-over interval overlap the short one
    assert(got === Map("2026-01-01" -> 1L, "2026-01-02" -> 2L))
  }

  test("gap_fill: zero-filled days carry the last ACTIVE day's payload") {
    val daily = Seq(
      (1L, Date.valueOf("2026-01-01"), 2L, 10.0),
      // Jan 2–3 missing
      (1L, Date.valueOf("2026-01-04"), 1L, 40.0)
    ).toDF("user_id", "day", "n_events", "day_value")
    val got = Analytics.gapFillDaily(daily, "user_id", "day", "n_events", "day_value")
      .select(col("day").cast("string"), col("n_events"), col("ff_day_value"))
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      ("2026-01-01", 2L, 10.0),
      ("2026-01-02", 0L, 10.0), // gap: zero events, carried value
      ("2026-01-03", 0L, 10.0),
      ("2026-01-04", 1L, 40.0)))
  }

  test("gap_fill: the single-pass IGNORE-NULLS variant matches the join form") {
    val daily = Seq(
      (1L, Date.valueOf("2026-01-01"), 2L, 10.0),
      (1L, Date.valueOf("2026-01-04"), 1L, 40.0),
      (2L, Date.valueOf("2026-01-02"), 5L, 7.5),
      // count=0 head row: both forms must keep it with a null fill
      (3L, Date.valueOf("2026-01-01"), 0L, 0.0),
      (3L, Date.valueOf("2026-01-03"), 2L, 9.0)
    ).toDF("user_id", "day", "n_events", "day_value")
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("day").cast("string"), col("n_events"),
        col("last_active_day").cast("string"), col("ff_day_value"))
      .as[(Long, String, Long, Option[String], Option[Double])]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    val joinForm = norm(Analytics.gapFillDaily(
      daily, "user_id", "day", "n_events", "day_value"))
    val ffForm = norm(Analytics.gapFillDailyFF(
      daily, "user_id", "day", "n_events", "day_value"))
    assert(joinForm === ffForm)
    assert(joinForm.size === 4 + 1 + 3) // spans densified per user
  }

  test("gap_fill: days before the first ACTIVE day survive with a null fill") {
    // input already carries a count=0 row before any active day — the
    // payload re-attach must not drop it (left join, null forward-fill)
    val daily = Seq(
      (1L, Date.valueOf("2026-01-01"), 0L, 0.0),
      (1L, Date.valueOf("2026-01-02"), 3L, 30.0)
    ).toDF("user_id", "day", "n_events", "day_value")
    val got = Analytics.gapFillDaily(daily, "user_id", "day", "n_events", "day_value")
      .select(col("day").cast("string"), col("n_events"),
        col("ff_day_value"))
      .as[(String, Long, Option[Double])].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      ("2026-01-01", 0L, None), // no prior active day → null, not dropped
      ("2026-01-02", 3L, Some(30.0))))
  }

  test("anomaly z-score: a planted spike is the only flagged row") {
    // 19 calm readings around 10.00 ± 0.05, one 100.00 spike in the
    // middle. Only the spike deviates by > 2σ from its trailing window.
    val base = (1 to 20).map { i =>
      val v = if (i == 15) 100.00 else 10.00 + (i % 3) * 0.05
      (i.toLong, 1L, Timestamp.valueOf(f"2026-01-01 00:$i%02d:00"), v)
    }
    val df = base.toDF("event_id", "user_id", "ts", "value")
    val got = Analytics.anomalyZscore(
      df, "user_id", "ts", "event_id", "value",
      lookback = 20, minN = 8, k = 2)
      .select("event_id").as[Long].collect().toSeq
    assert(got === Seq(15L))
  }

  test("anomaly z-score: constant series never flags (zero variance, exact zero)") {
    val df = (1 to 30).map(i =>
      (i.toLong, 1L, Timestamp.valueOf(f"2026-01-01 00:$i%02d:00"), 42.42))
      .toDF("event_id", "user_id", "ts", "value")
    val got = Analytics.anomalyZscore(
      df, "user_id", "ts", "event_id", "value",
      lookback = 20, minN = 8, k = 2).count()
    assert(got === 0L)
  }

  test("snapshot diff classifies added/removed/changed incl. null transitions") {
    val old = Seq((1L, Some("a")), (2L, Some("b")), (3L, None), (4L, Some("d")))
      .toDF("k", "v")
    val neu = Seq((1L, Some("a")), (3L, Some("c")), (4L, None), (5L, Some("e")))
      .toDF("k", "v")
    val got = Analytics.snapshotDiff(old, neu, Seq("k"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (2L, "removed"),
      (3L, "changed"), // null -> 'c' must register (null-safe compare)
      (4L, "changed"), // 'd' -> null likewise
      (5L, "added")))  // k=1 unchanged and absent
  }

  test("exact-moment corr matches builtin corr to FP tolerance and is layout-invariant") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 500).map { _ =>
      val x = rnd.nextInt(5000) / 100.0
      ("g", x, math.round((3 * x + rnd.nextInt(1000) / 100.0) * 100) / 100.0)
    }.toDF("g", "x", "y")
    val got = Analytics.corrExact(df, Seq("g"), "x", "y")
      .select("cov_pop", "corr").as[(Double, Double)].head()
    val builtin = df.groupBy("g")
      .agg(covar_pop($"x", $"y").as("c"), corr($"x", $"y").as("r"))
      .select("c", "r").as[(Double, Double)].head()
    assert(math.abs(got._1 - builtin._1) < 1e-6 * math.abs(builtin._1))
    assert(math.abs(got._2 - builtin._2) < 1e-9)
    // exact moments ⇒ bit-identical under any partitioning (builtin is not)
    val a = Analytics.corrExact(df.repartition(1), Seq("g"), "x", "y")
      .select("corr").as[Double].head()
    val b = Analytics.corrExact(df.repartition(17), Seq("g"), "x", "y")
      .select("corr").as[Double].head()
    assert(a == b)
  }

  test("exact-moment OLS recovers a planted line and is layout-invariant") {
    val rnd = new scala.util.Random(13)
    // y = 3x + 7 with bounded 2-decimal noise: the fit must land close
    val df = (1 to 500).map { _ =>
      val x = rnd.nextInt(5000) / 100.0
      ("g", x, math.round((3 * x + 7 + rnd.nextInt(200) / 100.0) * 100) / 100.0)
    }.toDF("g", "x", "y")
    val (slope, intercept, r2) = Analytics.olsExact(df, Seq("g"), "x", "y")
      .select("slope", "intercept", "r2").as[(Double, Double, Double)].head()
    assert(math.abs(slope - 3.0) < 0.05, s"slope=$slope")
    // noise is uniform on [0,2) so the fitted intercept centers near 8
    assert(math.abs(intercept - 8.0) < 0.6, s"intercept=$intercept")
    assert(r2 > 0.99, s"r2=$r2")
    val a = Analytics.olsExact(df.repartition(1), Seq("g"), "x", "y")
      .select("slope", "intercept", "r2").as[(Double, Double, Double)].head()
    val b = Analytics.olsExact(df.repartition(17), Seq("g"), "x", "y")
      .select("slope", "intercept", "r2").as[(Double, Double, Double)].head()
    assert(a == b)
  }

  test("market basket: supports, confidence and lift on a hand-counted corpus") {
    val rows = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "b"), (3L, "b"), // duplicate (basket,item) must not double count
      (4L, "b"), (4L, "c"),
      (5L, "a")).toDF("basket", "item")
    val got = graft.operators.Basket.frequentPairs(
      rows, "basket", "item", minItemSupport = 2L, minPairSupport = 2L,
      maxBasketItems = 16)
      .select("item_a", "item_b", "pair_support", "support_a", "support_b",
        "confidence_a_b", "lift")
      .as[(String, String, Long, Long, Long, Double, Double)]
      .collect().sortBy(r => (r._1, r._2))
    // supports: a=4, b=4, c=2; pairs: (a,b)=3, (b,c)=2, (a,c)=1 pruned
    assert(got.toSeq === Seq(
      ("a", "b", 3L, 4L, 4L, 0.75, 0.9375),  // lift = 3*5/(4*4)
      ("b", "c", 2L, 4L, 2L, 0.5, 1.25)))    // lift = 2*5/(4*2)
  }

  test("market basket: oversized baskets are dropped, infrequent items pruned first") {
    val degenerate = (1 to 20).map(i => (99L, s"x$i"))
    val rows = (Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b")) ++ degenerate)
      .toDF("basket", "item")
    val got = graft.operators.Basket.frequentPairs(
      rows, "basket", "item", minItemSupport = 1L, minPairSupport = 1L,
      maxBasketItems = 16)
      .select("item_a", "item_b", "pair_support")
      .as[(String, String, Long)].collect().toSeq
    // basket 99 has 20 items > cap: contributes nothing
    assert(got === Seq(("a", "b", 2L)))
  }

  test("market basket: session artifact builds once and matches the direct path") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/lineitem.parquet").exists)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val direct = rows(graft.operators.Basket.frequentPairs(
      Tables.lineitem(spark, sf)
        .select($"l_orderkey".as("basket"), $"l_partkey".as("item")),
      "basket", "item",
      minItemSupport = 8L, minPairSupport = 2L, maxBasketItems = 16))
    val before = Artifacts.count("basket_index")
    val viaIndex = rows(graft.queries.AnalyticsQueries.marketBasket(spark, sf))
    assert(viaIndex === direct)
    val built = Artifacts.count("basket_index")
    assert(built <= before + 1)
    graft.queries.AnalyticsQueries.marketBasket(spark, sf).count()
    assert(Artifacts.count("basket_index") == built,
      "second run must reuse the artifact, not rebuild")
  }

  test("scd2 lookup: facts hit the containing version; same-date flips and pre-history facts") {
    import java.sql.Date
    def d(s: String) = Date.valueOf(s)
    // key 1: status A from 01-05; SAME-DAY double flip on 01-10 (B then C
    // with ascending orderkey — B's interval is empty [10,10)); C holds on
    val dim = Seq(
      (1L, "A", d("2026-01-05"), 100L),
      (1L, "B", d("2026-01-10"), 200L),
      (1L, "C", d("2026-01-10"), 300L),
      (1L, "C", d("2026-01-15"), 400L)
    ).toDF("user_id", "st", "od", "ok")
    val versions = Analytics.scd2(dim, "user_id", "st", Seq("od", "ok"))
      .select($"user_id", $"st".as("status"), $"valid_from", $"ok")
    val facts = Seq(
      (10L, 1L, d("2026-01-03")),  // before any history -> null
      (11L, 1L, d("2026-01-05")),  // inclusive valid_from boundary -> A
      (12L, 1L, d("2026-01-10")),  // flip day: C wins, not empty B
      (13L, 1L, d("2026-01-31")),  // open current version -> C
      (14L, 9L, d("2026-01-10"))   // key with no history at all -> null
    ).toDF("event_id", "user_id", "d")
    val got = graft.operators.AsOfJoin.asOf(facts, versions,
        "user_id", "d", "valid_from", col("ok"), Seq("status"))
      .select($"event_id", $"status").as[(Long, Option[String])]
      .collect().toMap
    assert(got === Map(10L -> None, 11L -> Some("A"), 12L -> Some("C"),
      13L -> Some("C"), 14L -> None))
  }

  test("changeset apply: upsert/delete routing, latest-op-wins, absent-key delete no-op") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (1L, 1L, "U", "a2"),   // update existing
      (2L, 1L, "U", "b2"),   // update...
      (2L, 2L, "D", "b2"),   // ...then delete at a later seq -> gone
      (3L, 2L, "U", "c3"),   // two updates: seq 2 wins
      (3L, 1L, "U", "cX"),
      (4L, 1L, "I", "d"),    // insert new key
      (9L, 1L, "D", "zz")    // delete for a key base never had -> no-op
    ).toDF("k", "seq", "op", "v")
    val got = Analytics.applyChangeset(base, changes, Seq("k"), "seq", "op")
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "a2", 3L -> "c3", 4L -> "d"))
  }

  test("burst compaction: chained gaps extend a burst; heads and lengths are exact") {
    def ts(s: Int) = Timestamp.valueOf(f"2026-01-01 00:${s / 60}%02d:${s % 60}%02d")
    // user 1 type a: events at 0s, 200s, 390s (chain: each gap <= 300 ->
    // ONE burst of 3, even though 390s > 300s from the head), then 800s
    // (new burst). user 1 type b: independent stream, never merged.
    val rows = Seq(
      (1L, 1L, "a", ts(0)), (2L, 1L, "a", ts(200)), (3L, 1L, "a", ts(390)),
      (4L, 1L, "a", ts(800)),
      (5L, 1L, "b", ts(10))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val got = Analytics.burstCompact(rows, Seq("user_id", "event_type"),
        "ts", "event_id", gapMicros = 300000000L)
      .select($"event_id", $"burst_len").as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 4L -> 1L, 5L -> 1L))
    val plan = Analytics.burstCompact(rows, Seq("user_id", "event_type"),
      "ts", "event_id", 300000000L).queryExecution.executedPlan.toString
    val exchanges = plan.sliding("Exchange".length).count(_ == "Exchange")
    assert(exchanges === 1, s"expected the windows and collapse to share one exchange:\n$plan")
  }

  test("rolling median: hand-computed frames incl. even-count interpolation; one exchange") {
    def ts(s: Int) = Timestamp.valueOf(f"2026-01-01 00:00:$s%02d")
    // values in dollars -> cents: 10, 31, 22, 5, 40
    val rows = Seq(
      (1L, 7L, ts(1), 0.10), (2L, 7L, ts(2), 0.31), (3L, 7L, ts(3), 0.22),
      (4L, 7L, ts(4), 0.05), (5L, 7L, ts(5), 0.40)
    ).toDF("event_id", "user_id", "ts", "value")
    val out = Analytics.rollingMedian(rows, "user_id", "ts", "event_id", "value", 2)
    val got = out.select($"event_id", $"n", $"med_cents")
      .as[(Long, Long, Double)].collect()
      .map { case (id, n, med) => id -> ((n, med)) }.toMap
    // frames: [10] [10,31] [10,31,22] [31,22,5] [22,5,40]
    assert(got === Map(1L -> ((1L, 10.0)), 2L -> ((2L, 20.5)),
      3L -> ((3L, 22.0)), 4L -> ((3L, 22.0)), 5L -> ((3L, 22.0))))
    val plan = out.queryExecution.executedPlan.toString
    val exchanges = plan.sliding("Exchange".length).count(_ == "Exchange")
    assert(exchanges === 1, s"expected one exchange:\n$plan")
  }

  test("anomaly z-score plans a single window exchange") {
    val df = Seq((1L, 1L, Timestamp.valueOf("2026-01-01 00:00:00"), 1.0))
      .toDF("event_id", "user_id", "ts", "value")
    val plan = Analytics.anomalyZscore(
      df, "user_id", "ts", "event_id", "value", 20, 8, 2)
      .queryExecution.executedPlan.toString
    val exchanges = plan.sliding("Exchange".length).count(_ == "Exchange")
    assert(exchanges === 1, s"expected one exchange:\n$plan")
  }

  test("cusum: planted level shift is flagged, stationary key is not") {
    // key 1: ten 1.00 rows then ten 101.00 rows. S=102000 cents, n=20;
    //   dev_k = n·P_k − k·S ramps to min −10⁶ at k=10, back to 0 at k=20
    //   → excursion (0 − (−10⁶))/(100·20) = 500.0 exactly.
    // key 2: constant 50.00 → dev ≡ 0 → excursion 0, never flagged.
    val rows = (1 to 20).map { k =>
      (1L, k.toLong, k.toLong, if (k <= 10) 100L else 10100L)
    } ++ (1 to 20).map { k => (2L, k.toLong, k.toLong, 5000L) }
    val df = rows.toDF("user_id", "ts", "event_id", "cents")
    val out = Analytics.cusumExcursions(
        df, "user_id", "ts", "event_id", "cents", threshold = 400.0)
      .select("user_id", "n", "max_dev", "min_dev", "excursion")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(out.toSeq === Seq((1L, 20L, 0L, -1000000L, 500.0)),
      s"got ${out.toSeq}")
  }

  test("cusum: n·P − k·S stays exact past the int64 wrap point") {
    // One key, three rows of 4.6e9 dollars in cents: S ≈ 1.38e12,
    // P_3·n ≈ 4.1e12 — fine — but scale cents by 1e7 more via many rows
    // is impractical in a unit test, so instead verify the decimal path
    // directly: with cents ≈ 2³¹·10², long math for n·P − k·S would
    // overflow once n·P_k > 2⁶³ (here n·P and k·S reach ~4×10¹²·10⁷
    // when cents ~ 4.6e16, i.e. 9.2e18 > 2⁶³ wraps). Plant exactly that.
    val big = 4600000000000000L // 4.6e15 cents per row
    val df = (1 to 3).map(k => (1L, k.toLong, k.toLong, big))
      .toDF("user_id", "ts", "event_id", "cents")
    // stationary by construction (all equal) → dev ≡ 0 even though the
    // long-math intermediates n·P_k = 3·k·4.6e15 (max 4.14e16) are fine,
    // asymmetric rows are the wrap case: 2 rows of +big, 1 of −big.
    val df2 = Seq((1L, 1L, 1L, big), (1L, 2L, 2L, big), (1L, 3L, 3L, -big))
      .toDF("user_id", "ts", "event_id", "cents")
    val out = Analytics.cusumExcursions(
        df2, "user_id", "ts", "event_id", "cents", threshold = 0.0)
      .select("max_dev", "min_dev").as[(Long, Long)].collect()
    // S = big, n = 3: dev_1 = 3·big − big = 2·big; dev_2 = 6·big − 2·big
    //   = 4·big (1.84e16 — long-safe here, decimal-exact regardless);
    //   dev_3 = 3·big − 3·big = 0. max = 4·big, min = 0.
    assert(out.toSeq === Seq((4 * big, 0L)), s"got ${out.toSeq}")
    // the stationary big-cents key flags nothing at threshold 0
    val none = Analytics.cusumExcursions(
      df, "user_id", "ts", "event_id", "cents", threshold = 0.0).count()
    assert(none === 0L)
  }

  test("featureAssoc: perfect association and independence, hand-checked") {
    // perfect: x=a always pairs y=0, x=b always y=1 (10 rows each)
    //   cell(a,0): n_xy=10, n_x=10, n_y=10, N=20
    //   pmi_q = ilog2(200) - ilog2(100) = 7 - 6 = 1  (lift = 2)
    //   leverage = 500000 - (500000*500000)//1e6 = 250000
    val perfect = (Seq.fill(10)(("a", 0L)) ++ Seq.fill(10)(("b", 1L)))
      .toDF("x", "y")
    val p = Analytics.featureAssoc(perfect, col("x"), col("y"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(6), r.getLong(7)))).toMap
    assert(p(("a", 0L)) == ((10L, 1L, 250000L)), s"${p(("a", 0L))}")
    assert(p(("b", 1L)) == ((10L, 1L, 250000L)))
    assert(p.size == 2, "unobserved cells don't appear")

    // independent: balanced 2x2, every cell 5 of 20
    //   pmi_q = ilog2(100) - ilog2(100) = 0; leverage = 250000-250000 = 0
    val indep = (for (x <- Seq("a", "b"); y <- Seq(0L, 1L); _ <- 1 to 5)
      yield (x, y)).toDF("x", "y")
    val i = Analytics.featureAssoc(indep, col("x"), col("y"))
      .collect().map(r => (r.getLong(6), r.getLong(7))).toSeq.distinct
    assert(i == Seq((0L, 0L)), s"$i")
  }

  test("featureAssoc marginals are consistent and layout-independent") {
    val df = (0 until 400).map(i => (s"t${i % 3}", (i * 7 % 5).toLong, i))
      .toDF("x", "y", "r")
    val out = Analytics.featureAssoc(df, col("x"), col("y")).collect()
    assert(out.map(_.getLong(2)).sum == 400L, "cells partition the rows")
    out.groupBy(_.getString(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(2)).sum == rows.head.getLong(3),
        "n_x = sum of its cells")
    }
    assert(out.forall(_.getLong(5) == 400L))
    val again = Analytics.featureAssoc(
      df.repartition(11, col("r")), col("x"), col("y")).collect()
    assert(out.toSet == again.toSet)
  }

  test("intervalUnion merges overlaps and touches, splits on strict gaps") {
    // key a: [0,10] [5,20] (overlap) [20,30] (touch -> same island),
    //        [40,50] (gap -> new island)
    // key b: one interval
    val iv = Seq(
      ("a", 0L, 10L), ("a", 5L, 20L), ("a", 20L, 30L), ("a", 40L, 50L),
      ("b", 100L, 101L)
    ).toDF("k", "st", "en")
    val out = Analytics.intervalUnion(iv, "k", "st", "en")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out("a") == ((2L, 4L, 40L, 50L)),
      s"a: islands [0,30]+[40,50] -> covered 40 of span 50: ${out("a")}")
    assert(out("b") == ((1L, 1L, 1L, 1L)))
  }

  test("intervalUnion fails loudly on an inverted interval") {
    // en < st would silently corrupt island segmentation — and the
    // oracle replays the same logic, so the hash gate can't see it;
    // the operator-boundary guard must raise instead
    val iv = Seq(("a", 0L, 10L), ("a", 30L, 20L)).toDF("k", "st", "en")
    val ex = intercept[Exception] {
      Analytics.intervalUnion(iv, "k", "st", "en").collect()
    }
    assert(ex.getMessage != null)
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c =>
      c.getMessage != null && c.getMessage.contains("inverted interval")),
      s"expected the inverted-interval raise_error, got: ${ex.getMessage}")
  }

  test("intervalUnion: containment and duplicates don't inflate coverage") {
    val iv = Seq(
      ("a", 0L, 100L), ("a", 10L, 20L), ("a", 10L, 20L), ("a", 0L, 100L)
    ).toDF("k", "st", "en")
    val r = Analytics.intervalUnion(iv, "k", "st", "en").head()
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((1L, 4L, 100L)))
  }

  test("intervalUnion is layout-independent") {
    val iv = (0 until 500).map { i =>
      (s"u${i % 9}", (i * 37 % 1000).toLong, (i * 37 % 1000 + i % 50 + 1).toLong)
    }.toDF("k", "st", "en")
    val a = Analytics.intervalUnion(iv, "k", "st", "en").collect().toSet
    val b = Analytics.intervalUnion(iv.repartition(13), "k", "st", "en")
      .collect().toSet
    assert(a == b)
  }

  test("intervalUnion matches a driver-side merge on random interval sets") {
    val rnd = new scala.util.Random(1414)
    (1 to 10).foreach { trial =>
      val rows = (0 until 40 + rnd.nextInt(150)).map { _ =>
        val st = rnd.nextInt(500).toLong
        (s"k${rnd.nextInt(4)}", st, st + 1 + rnd.nextInt(60))
      }
      val expected = rows.groupBy(_._1).map { case (k, rs) =>
        val sorted = rs.map(r => (r._2, r._3)).sortBy(identity)
        val islands = sorted.tail.foldLeft(List(sorted.head)) {
          case (acc @ ((ist, ien) :: rest), (st, en)) =>
            if (st > ien) (st, en) :: acc
            else (ist, math.max(ien, en)) :: rest
          case (acc, _) => acc
        }
        k -> ((islands.size.toLong, rs.size.toLong,
          islands.map(i => i._2 - i._1).sum,
          sorted.map(_._2).max - sorted.map(_._1).min))
      }
      val got = Analytics.intervalUnion(rows.toDF("k", "st", "en"),
          "k", "st", "en")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(got == expected, s"trial $trial: $got vs $expected")
    }
  }
}
