package graft

/** Plan-shape regression tests: the scale claims in SCALE.md, asserted
  * against the actual physical plans so a future refactor can't
  * silently reintroduce a shuffle or lose the broadcast.
  */
class PlanSpec extends SparkSpec {

  val sf = "/root/testdata/sf0.001"

  def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  def countOccurrences(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)

  test("enrichment joins broadcast the small side") {
    assert(plan("join_enrich").contains("BroadcastHashJoin"))
    assert(plan("geo_enrichment").contains("BroadcastHashJoin"))
    // the geo cache parquet artifact must still broadcast into the
    // report pipeline — a file-scan build side is no excuse to shuffle
    // the log table
    assert(plan("elb_hourly_geo").contains("BroadcastHashJoin"))
  }

  test("rolling windows share one exchange; sessionize uses exactly one") {
    val rolling = plan("rolling_window")
    assert(countOccurrences(rolling, "Exchange hashpartitioning") === 1,
      s"rolling_window should shuffle once:\n$rolling")
    val sess = plan("sessionize")
    assert(countOccurrences(sess, "Exchange hashpartitioning") === 1,
      s"sessionize should shuffle once:\n$sess")
  }

  test("the parse pipeline is shuffle-free") {
    val p = plan("elb_parse")
    assert(!p.contains("Exchange hashpartitioning"),
      s"elb_parse should be a narrow pipeline:\n$p")
  }

  test("hourly aggregate does partial (map-side) aggregation") {
    val p = plan("hourly_agg")
    // partial + final pairs around each exchange
    assert(p.contains("Exchange hashpartitioning"))
    assert(countOccurrences(p, "HashAggregate") >= 2, p)
  }

  test("brute-force top-k never shuffles the corpus side") {
    val p = plan("similarity_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("pair-generating queries never plan a cartesian product") {
    for (q <- Seq("dedup_ngram_jaccard", "decontaminate", "dedup_minhash",
        "dedup_clusters", "dedup_embedding_lsh")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q must block candidates, not cross-join:\n$p")
    }
  }

  test("n-gram Jaccard broadcasts the candidate pair list into the intersection joins") {
    assert(plan("dedup_ngram_jaccard").contains("BroadcastHashJoin"))
  }

  test("bucketed_join query plans with zero exchanges") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("bucketed_join")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join should be co-located, no shuffle:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed_join tables are session artifacts: one ingest per sf dir") {
    // round-17 directive: the bench used to pay the two bucketed
    // ingests on EVERY run — the exact cost the operator exists to
    // amortize. Constructing the query twice must write once.
    val before = Artifacts.count("bucketed_join")
    graft.queries.JoinQueries.bucketedJoin(spark, "/root/testdata/sf0.001")
    val built = Artifacts.count("bucketed_join")
    assert(built <= before + 1, "first call builds at most one pair")
    graft.queries.JoinQueries.bucketedJoin(spark, "/root/testdata/sf0.001")
    assert(Artifacts.count("bucketed_join") == built,
      "second call must reuse the bucketed tables, not re-ingest")
  }

  test("mixture sampling broadcasts the per-group fractions, never shuffles the data") {
    val p = plan("mixture_sample")
    assert(p.contains("BroadcastHashJoin"),
      s"group fractions must broadcast into the membership filter:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus side must not shuffle to join its group stats:\n$p")
  }

  test("incremental dedup is a band equi-join, not all-pairs") {
    val p = plan("dedup_incremental")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fresh-vs-base matching must block on band hashes:\n$p")
  }

  test("k-means assignment is a map-only kernel pass — no join, no argmin exchange") {
    val p = plan("kmeans_assign")
    // round 18: driver-held centroids ride inside the codegen'd
    // IvfNearestPacked kernel; the corpus is neither joined nor
    // shuffled to be assigned (the only exchange left is
    // Tables.distributed's round-robin spread of the fixture)
    assert(!p.contains("Join"),
      s"the corpus must not join its centroids:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"assignment must not shuffle the corpus:\n$p")
    assert(p.contains("ivfnearestpacked"),
      s"assignment should route through the packed-argmin kernel:\n$p")
  }

  test("top-k ranking is a bounded-heap aggregate, not a |Q|-partition window") {
    for (q <- Seq("similarity_topk", "similarity_lsh", "vocab_topk")) {
      val p = plan(q)
      assert(!p.contains("Window"),
        s"$q should rank via TopKByScore, not a row_number window:\n$p")
      // partial (map-side) + final object hash aggregate pair: the
      // exchange between them carries k-entry buffers, never scored rows
      assert(countOccurrences(p, "ObjectHashAggregate") >= 2,
        s"$q should do two-phase object hash aggregation:\n$p")
    }
  }

  test("profile_columns sketches distinct counts — no Expand, two-phase object agg") {
    val p = plan("profile_columns")
    // multi-column exact count(DISTINCT) plans through Expand (rows ×
    // profiled columns through the exchange, carrying every distinct
    // value); the KMV rewrite must keep that shape out for good
    assert(!p.contains("Expand"),
      s"profile_columns must not fan rows out per column via Expand:\n$p")
    assert(countOccurrences(p, "ObjectHashAggregate") >= 2,
      s"per-column KMV sketches should aggregate partial+final:\n$p")
  }

  test("funnel and ranking windows ride one user-keyed exchange each") {
    val f = plan("funnel_steps")
    assert(countOccurrences(f, "Exchange hashpartitioning") === 1,
      s"cascaded funnel windows + terminal groupBy must share one shuffle:\n$f")
    val w = plan("window_funcs")
    assert(countOccurrences(w, "Exchange hashpartitioning") === 1,
      s"identical window specs must share one exchange:\n$w")
  }

  test("single-pass gap-fill plans strictly fewer exchanges than the join form") {
    import org.apache.spark.sql.functions._
    val daily = graft.Tables.events(spark, sf)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 3).as("day_value"))
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      countOccurrences(df.queryExecution.executedPlan.toString,
        "Exchange hashpartitioning")
    val joinForm = exchanges(graft.operators.Analytics.gapFillDaily(
      daily, "user_id", "day", "n_events", "day_value"))
    val ffForm = exchanges(graft.operators.Analytics.gapFillDailyFF(
      daily, "user_id", "day", "n_events", "day_value"))
    assert(ffForm < joinForm,
      s"last(_, ignoreNulls) fill should drop the re-attach join's " +
        s"exchanges: ff=$ffForm join=$joinForm")
  }

  test("pivot with pinned values is one hash aggregate, no discovery job") {
    val p = plan("pivot_wide")
    assert(countOccurrences(p, "Exchange hashpartitioning") === 1, p)
    assert(countOccurrences(p, "HashAggregate") >= 2,
      s"pivot should partially aggregate map-side:\n$p")
  }

  test("as-of joins ride exactly one exchange, all three directions") {
    for (q <- Seq("asof_join", "asof_join_fwd", "asof_join_nearest")) {
      val p = plan(q)
      assert(countOccurrences(p, "Exchange hashpartitioning") === 1,
        s"$q must be one union-sort window pass, not a join cascade:\n$p")
      // nearest computes BOTH direction frames inside the same Window
      // operator over the one sort — no second pass
      assert(countOccurrences(p, "Window") === 1,
        s"$q should plan a single Window operator:\n$p")
    }
  }

  test("tpch_q1 pushes the date filter into the parquet scan and partially aggregates") {
    val p = plan("tpch_q1")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"shipdate filter must reach the scan:\n$p")
    assert(countOccurrences(p, "HashAggregate") >= 2, p)
  }

  /** The automatic gate over EVERY registered query: no scale-killer
    * join may land silently. BroadcastNestedLoopJoin is allowed only
    * for the pinned set below — each one a deliberate broadcast-of-tiny
    * fan-out (k centroids / one totals row / the require-guarded O(n²)
    * exactness baseline). CartesianProduct is never allowed. The
    * comparison is EXACT set equality, so removing a crossJoin later
    * must also prune this list — the allowlist can't rot.
    *
    * streaming_* queries are excluded: invoking them RUNS the stream
    * (their batch twins are covered above and by the oracle), and the
    * stream-stream join's state shape is asserted in StreamingSpec.
    */
  test("plan gate: no unexpected cartesian or nested-loop join in any registered query") {
    val bnlAllowed = Map(
      "dedup_embedding" -> "O(n^2) exactness baseline over a ~4096-row md5-capped sample (identity at this SF)",
      // round 18: the kmeans_*, dedup_semantic, cluster_balanced_sample
      // and similarity_ivf* / similarity_rrf entries are GONE — nearest-
      // centroid assignment and probe routing now run map-only through
      // the driver-held IvfNearestPacked/IvfProbeCells kernels (no
      // broadcast fan-out join left in those plans; ClusteringSpec and
      // the kmeans_assign pin above assert the new shape).
      "market_basket" -> "crossJoin of the single broadcast n_baskets row",
      // kmv_set_algebra's 1-row crossJoin no longer appears here: its
      // result is localCheckpointed (cache-release fix), so the gate
      // sees only the materialized RDD scan.
      "drift_detect" -> "crossJoin of the single broadcast (mn,mx) time-bounds row",
      "feature_assoc" -> "crossJoin of the single broadcast n_tot row (marginals join broadcast-hash)",
      "feature_bins" -> "crossJoin of the single broadcast n_total row",
      // kcenter_coreset / mmr_diversify don't appear although they DO
      // broadcast-fan-out (newest-center row / query pool): their
      // iterative stages run eagerly behind localCheckpoint, so the
      // final plan the gate sees is a LogicalRDD scan — the
      // kmv_set_algebra situation. Their fan-out shapes are pinned by
      // CoresetSpec instead.
      "mixture_sample" -> "crossJoin of the single global-totals row",
      "similarity_pq" -> "broadcast codebook fan-out for encoding + broadcast per-query ADC LUTs",
      // audited from the executed plan: 4 BNLJs, all BuildRight/Cross over
      // IdentityBroadcastMode builds of the ≤16-row trained-centroid
      // (cell routing) and ≤16-row PQ codebook (code assign + LUT)
      // frames; the scoring join is a BroadcastHashJoin on `cell`.
      "skyline_pareto" -> "broadcast candidate dominance anti-join over tiny local skylines",
      // similarity_recall / similarity_mrr no longer appear: the
      // ladder arms execute eagerly inside the pool threads behind
      // per-arm localCheckpoints (round 18), so the registered plans
      // are unions of RDD scans + the batched recall/MRR tail — the
      // arms' broadcast theta-joins remain visible (and allowlisted)
      // through their standalone queries (similarity_topk,
      // similarity_ivf*, similarity_pq, similarity_ivfpq).
      "similarity_topk" -> "broadcast query-set fan-out, bounded-heap rank",
      // round 17: the single-pass MMR no longer localCheckpoints its
      // pool, so the pool builder's broadcast |Q|-row !=-theta-join
      // (the similarity_topk device, BuildRight over the 10-query
      // side) is now visible in the final plan instead of running
      // behind an eager materialization — same join, same audit
      "mmr_diversify" -> "broadcast query fan-out of the candidate-pool builder (post-checkpoint-removal visibility)",
      "hybrid_retrieval" -> "inherited from its dense arm (similarity_topk's broadcast 1-query fan-out)",
      "split_temporal" -> "crossJoin of the single broadcast (min,max) bounds row",
      "t_closeness" -> "crossJoin of the broadcast ≤m-row sensitive-domain list (the class × value EMD grid) + the broadcast 1-row global total",
      "dp_quantile" -> "crossJoin of the single broadcast n-total row onto the ≤m-row value domain",
      "decayed_topk" -> "crossJoin of the single broadcast anchor-day row onto the (key, day) cell table",
      "negative_sample" -> "broadcast L-label !=-join builds the negative pool",
      "hard_negatives" -> "broadcast anchor-set cross-label scoring fan-out")
    val hits = scala.collection.mutable.Map.empty[String, List[String]]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if !name.startsWith("streaming_")) {
      val p = fn(spark, sf).queryExecution.executedPlan.toString
      val tags = Seq("CartesianProduct", "BroadcastNestedLoopJoin").filter(p.contains)
      if (tags.nonEmpty) hits(name) = tags.toList
    }
    val cartesian = hits.filter(_._2.contains("CartesianProduct")).keys.toSeq.sorted
    assert(cartesian.isEmpty, s"CartesianProduct is never allowed: $cartesian")
    val bnl = hits.keySet.toSet
    assert(bnl === bnlAllowed.keySet,
      s"BNL join set drifted. unexpected=${(bnl -- bnlAllowed.keySet).toSeq.sorted} " +
        s"stale-allowlist=${(bnlAllowed.keySet -- bnl).toSeq.sorted}")
  }
}
