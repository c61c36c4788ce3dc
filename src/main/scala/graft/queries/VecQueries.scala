package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Clustering, Quantize, Similarity}

/** Driver-contract queries for similarity search over `embeddings`:
  * vectors with vec_id < 10 act as queries against the full corpus.
  */
object VecQueries {

  private def corpus(spark: SparkSession, sfDir: String): DataFrame =
    Tables.distributed(spark, sfDir, "embeddings").select("vec_id", "embedding")

  def topkBrute(spark: SparkSession, sfDir: String): DataFrame = {
    val c = corpus(spark, sfDir)
    Similarity.bruteForceTopK(c, c.where(col("vec_id") < 10),
      "vec_id", "embedding", k = 5)
  }

  def topkLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val c = corpus(spark, sfDir)
    Similarity.lshTopK(c, c.where(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, bits = 8, dims = 64)
  }

  def topkIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val c = corpus(spark, sfDir)
    Similarity.ivfTopK(c, c.where(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, nCentroids = 16)
  }

  def topkIvfMp(spark: SparkSession, sfDir: String): DataFrame = {
    val c = corpus(spark, sfDir)
    Similarity.ivfMultiProbeTopK(c, c.where(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, nCentroids = 16, probes = 4)
  }

  /** The nprobe=8 rung of the recall ladder: same 16-cell index, the
    * query side probes half the cells — measured only through
    * [[similarityRecall]] (registering it standalone would duplicate
    * similarity_ivf_mp's surface).
    */
  private def topkIvfMp8(spark: SparkSession, sfDir: String): DataFrame = {
    val c = corpus(spark, sfDir)
    Similarity.ivfMultiProbeTopK(c, c.where(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, nCentroids = 16, probes = 8)
  }

  /** The SHIPPABLE ANN default (round-9): trained IVF — 16-cell Lloyd
    * coarse quantizer (2 rounds = one update), 12 probes. The measured
    * config that clears recall@5 ≥ 0.8 on the synthetic corpus at BOTH
    * sf0.001 (0.88) and sf0.01 (0.96) — full recall ladder in
    * BASELINE.md. On near-uniform synthetic embeddings any cell index
    * needs a large probe fraction; on real (clustered) embeddings the
    * trained quantizer gets the same recall at far fewer probes.
    */
  def topkIvfTrain(spark: SparkSession, sfDir: String): DataFrame = {
    val c = corpus(spark, sfDir)
    Similarity.ivfTrainedTopK(c, c.where(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, nCentroids = 16, probes = 12,
      trainRounds = 2)
  }

  def topkLshMp(spark: SparkSession, sfDir: String): DataFrame = {
    val c = corpus(spark, sfDir)
    Similarity.lshMultiProbeTopK(c, c.where(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, bits = 8, dims = 64)
  }

  /** Recall@5 of each ANN path against the brute-force ground truth —
    * the measurement that justifies an approximate index at 100 TB
    * (the judge of the recall/latency tradeoff, computed inside the
    * engine). Pure composition: both engines derive truth and
    * candidates with their own already-verified query logic, so recall
    * matches exactly, zero-hit queries included.
    */
  def similarityRecall(spark: SparkSession, sfDir: String): DataFrame = {
    // The shared CORPUS subtree is NOT persisted: caching it was
    // measured SLOWER (10.3 s vs 5.6 s at sf0.1) — the methods' scans
    // are cheap columnar reads, and the InMemoryRelation write + lost
    // scan-level optimizations cost more than the re-reads save. The
    // TRUTH frame is different: every unionByName arm joins it, so
    // without a cut the brute-force scoring pass re-runs once per
    // method — localCheckpoint materializes the |Q|·k-row result once
    // and the arms join the tiny cached RDD.
    val truth = topkBrute(spark, sfDir).select("query_id", "neighbor_id")
      .localCheckpoint()
    val qs = truth.select("query_id").distinct()
    // the eight arms are INDEPENDENT: each one's whole job chain runs
    // inside a pool thread ([[parallelArmsSeq]]), materializing its
    // tiny (query_id, neighbor_id) candidate frame. The recall TAIL is
    // then computed ONCE over the tagged union — one truth join + one
    // (method, query_id) aggregate + one fan-out of the query universe
    // — instead of per arm (round 18: the per-arm join→agg→left-join
    // tail was 3 AQE stages × 8 arms of pure scheduler latency at
    // bench SF). Row SET is identical to the per-arm composition (the
    // harness compares sorted rows): same hits per (method, query),
    // same zero-fill universe (every method × every query with truth
    // rows).
    val arms: Seq[(String, () => DataFrame)] = Seq(
      "lsh" -> (() => topkLsh(spark, sfDir)),
      "ivf" -> (() => topkIvf(spark, sfDir)),
      "lsh_mp" -> (() => topkLshMp(spark, sfDir)),
      "ivf_mp" -> (() => topkIvfMp(spark, sfDir)),
      "ivf_mp8" -> (() => topkIvfMp8(spark, sfDir)),
      "ivf_train" -> (() => topkIvfTrain(spark, sfDir)),
      "pq" -> (() => topkPq(spark, sfDir)),
      "ivfpq" -> (() => topkIvfPq(spark, sfDir)))
    val tagged = parallelArmsSeq(arms.map { case (m, build) => () =>
      build().select(lit(m).as("method"), col("query_id"),
        col("neighbor_id"))
    })
    val hits = tagged.reduce(_ unionByName _)
      .join(truth, Seq("query_id", "neighbor_id"))
      .groupBy("method", "query_id").agg(count(lit(1)).as("hits"))
    // methods × queries via a generate, not a crossJoin (a 10-row BNLJ
    // would trip the plan gate for nothing)
    val mq = qs.select(col("query_id"),
      explode(array(arms.map(a => lit(a._1)): _*)).as("method"))
    mq.join(hits, Seq("method", "query_id"), "left")
      .select(col("method"), col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)).cast("double") / 5).as("recall_at_5"))
  }

  /** Construct AND EXECUTE independent ladder arms concurrently. Each
    * thread materializes its arm's (tiny, ≤ |Q|·k-row) frame with an
    * eager localCheckpoint, so the arm's ENTIRE job chain — planning,
    * codegen compilation, broadcast builds, AQE stages — runs inside
    * its own thread and overlaps the other arms' (guide §2.6). Round
    * 17 overlapped only the CONSTRUCTION-time eager jobs (training
    * collects), leaving all execution serialized inside the union's
    * single AQE loop — the measured residual (59 jobs, par_eff 0.46 at
    * sf0.1) was the per-arm stage chains draining one scheduler
    * round-trip at a time. Results are identical: each arm is
    * self-contained and the checkpoint only materializes what the
    * consumer would have computed. Pool size 4: enough in-flight job
    * chains to keep the driver's planning/codegen busy, few enough
    * that arms don't starve each other.
    *
    * Returns the arm frames (materialized) in input order, whatever
    * order they finished in.
    */
  private def parallelArmsSeq(builds: Seq[() => DataFrame]): Seq[DataFrame] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.DurationInt
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val futs = builds.map(build => Future(build().localCheckpoint()))
      futs.map(Await.result(_, 15.minutes))
    } finally pool.shutdown()
  }

  /** Reciprocal rank of each ANN method's FIRST true neighbor per
    * query — the ranking-quality complement of [[similarityRecall]]'s
    * set overlap (recall@5 can't see whether hits sit at rank 1 or 5;
    * MRR is what a retrieval consumer feels). Methods: the shippable
    * trained-IVF default, both PQ rungs, and LSH-MP. Same composition
    * discipline as the recall ladder: checkpointed shared truth,
    * memoized index state, exact integer ranks, one double divide.
    */
  def similarityMrr(spark: SparkSession, sfDir: String): DataFrame = {
    val truth = topkBrute(spark, sfDir).select("query_id", "neighbor_id")
      .localCheckpoint()
    val qs = truth.select("query_id").distinct()
    // same overlapped-arms + batched-tail device as [[similarityRecall]]
    val arms: Seq[(String, () => DataFrame)] = Seq(
      "ivf_train" -> (() => topkIvfTrain(spark, sfDir)),
      "pq" -> (() => topkPq(spark, sfDir)),
      "ivfpq" -> (() => topkIvfPq(spark, sfDir)),
      "lsh_mp" -> (() => topkLshMp(spark, sfDir)))
    val tagged = parallelArmsSeq(arms.map { case (m, build) => () =>
      build().select(lit(m).as("method"), col("query_id"),
        col("neighbor_id"), col("rank"))
    })
    val firstHit = tagged.reduce(_ unionByName _)
      .join(truth, Seq("query_id", "neighbor_id"))
      .groupBy("method", "query_id").agg(min(col("rank")).as("first_hit_rank"))
    val mq = qs.select(col("query_id"),
      explode(array(arms.map(a => lit(a._1)): _*)).as("method"))
    mq.join(firstHit, Seq("method", "query_id"), "left")
      .select(col("method"), col("query_id"),
        coalesce(col("first_hit_rank"), lit(0)).as("first_hit_rank"),
        when(col("first_hit_rank").isNull, lit(0.0))
          .otherwise(lit(1.0) / col("first_hit_rank")).as("rr"))
  }

  /** Reciprocal-rank fusion of the two multi-probe ANN rankings
    * (LSH-MP and IVF-MP) — the standard hybrid-retrieval finisher.
    * Both input rankings are the already-verified registered queries;
    * the fusion itself is one tiny full-outer join + per-query window
    * (see [[Similarity.rrfFuse]] for the bit-determinism argument).
    */
  def topkRrf(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.rrfFuse(topkLshMp(spark, sfDir), topkIvfMp(spark, sfDir), k = 5)

  /** Deterministic class-negative draws (k = 4 per anchor) over the
    * labeled embedding table — the contrastive-pair builder; see
    * [[graft.operators.Sampling.negativeSample]] for the
    * rejection-free md5-indexing scheme and its class-count pricing.
    */
  def negativeSample(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Sampling.negativeSample(
      Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label")),
      idCol = "vec_id", labelCol = "label", k = 4, salt = "graft-neg-r9")

  /** Hybrid sparse+dense retrieval for query document 0 — the
    * production "more-like-this" shape: BM25 over the query doc's own
    * top-8 tokens ([[graft.operators.TextAnalysis.bm25MoreLikeThis]])
    * and cosine neighbors of its embedding ([[Similarity
    * .bruteForceTopK]]; IVF is the scale path), each top-20, fused by
    * reciprocal-rank fusion to a final top-10. Both rankers exclude
    * the query document itself. 100 TB shape: the sparse side is a
    * broadcast 8-term semi-join (corpus streams once), the dense side
    * a broadcast-query scoring pass with a bounded heap, and the
    * fusion a ≤ 2k-row join — no ranker result ever range-sorts the
    * corpus. The sparse rank window orders 20 localCheckpointed rows.
    */
  def hybridRetrieval(spark: SparkSession, sfDir: String): DataFrame = {
    // NOT overlapped like the recall/MRR ladders: measured 3.33 s vs
    // 2.96 s serial at sf0.1 (round 17) — the sparse arm's internal
    // chain dominates and the 2-arm overlap only added pool overhead
    val docs = Tables.distributed(spark, sfDir, "documents")
      .select("doc_id", "text")
    val sparse = graft.operators.TextAnalysis
      .bm25MoreLikeThis(docs, "doc_id", "text", queryId = 0L, nTerms = 8,
        k = 20)
      .select(lit(0L).as("query_id"), col("doc_id").as("neighbor_id"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score_micro").desc, col("doc_id").asc))
          .cast("long").as("rank"))
    val emb = corpus(spark, sfDir)
    val dense = Similarity
      .bruteForceTopK(emb, emb.where(col("vec_id") === 0L),
        "vec_id", "embedding", k = 20)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    Similarity.rrfFuse(sparse, dense, k = 10)
  }

  /** Top-5 most-similar cross-label neighbors per anchor (vec_id < 10)
    * — see [[Similarity.hardNegatives]].
    */
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.distributed(spark, sfDir, "embeddings")
      .select("vec_id", "embedding", "label")
    Similarity.hardNegatives(c, c.where(col("vec_id") < 10),
      "vec_id", "embedding", "label", k = 5)
  }

  /** PQ-compressed ADC top-5 per query — see [[Similarity.pqTopK]].
    * FAISS-standard fine config: 16 subspaces × 4 dims, 256 codes
    * (16 one-byte codes per vector), codebook Lloyd-trained for 2
    * per-subspace update rounds — recall@5 vs brute force is 0.70 at
    * sf0.01 / 0.62 at sf0.1 (0.50 untrained at the same capacity,
    * 0.10 at the old untrained 8×16 config).
    */
  def topkPq(spark: SparkSession, sfDir: String): DataFrame = {
    val c = corpus(spark, sfDir)
    Similarity.pqTopK(c, c.where(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, subspaces = 16, dims = 64,
      codebookSize = 256, trainRounds = 3)
  }

  /** IVF+PQ composed ANN (trained 16-cell router, 12 probes, trained
    * 16×256 PQ codes — the same codebook config as [[topkPq]]) — see
    * [[Similarity.ivfPqTopK]]: per query only the probed cells' codes
    * are ADC-scored (12/16 of the corpus here; the probe fraction is
    * the dial — production would run 8-32 probes over thousands of
    * cells).
    */
  def topkIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    val c = corpus(spark, sfDir)
    Similarity.ivfPqTopK(c, c.where(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, nCentroids = 16, probes = 12,
      trainRounds = 2, subspaces = 16, dims = 64, codebookSize = 256,
      pqTrainRounds = 3)
  }

  /** MMR-diversified top-5 from each query's 20-candidate pool
    * (λ = 0.7) — see [[Similarity.mmrDiversify]].
    */
  def topkMmr(spark: SparkSession, sfDir: String): DataFrame = {
    val c = corpus(spark, sfDir)
    Similarity.mmrDiversify(c, c.where(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, poolSize = 20, lambda10 = 7)
  }

  /** Streaming twin of [[topkIvfTrain]]: the query set STREAMS through
    * the engine and probes the static trained-IVF index — identical
    * dials (16 trained cells, 12 probes, k = 5), so the oracle is the
    * similarity_ivf_train SQL verbatim. See
    * [[graft.streaming.StreamingPipeline.annStream]] for the
    * stream-safe routing/join/rank shape.
    */
  def streamingAnn(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.streaming.StreamingPipeline
    val c = corpus(spark, sfDir)
    val cents = Clustering.lloydCentroids(c, "vec_id", "embedding", 16, 2)
    val rows = cents.select(col("cluster").cast("long"), col("cq"), col("cn2"))
      .collect().sortBy(_.getLong(0))
    val cellsArr = rows.map(_.getLong(0))
    val centsArr = rows.map(_.getSeq[Long](1).toArray)
    val cn2Arr = rows.map(_.getLong(2))
    val index = Clustering.assign(c, "vec_id", "embedding", cents)
      .select(col("cluster").cast("long").as("cell"),
        col("vec_id").as("neighbor_id"), col("q").as("qc"))
      .withColumn("n2c", graft.operators.Dedup.squaredNorm(col("qc")))
    val stream = StreamingPipeline.readEmbeddings(spark, sfDir)
      .where(col("vec_id") < 10)
    val grouped = StreamingPipeline.annStream(stream, index,
      cellsArr, centsArr, cn2Arr, probes = 12, k = 5)
    StreamingPipeline.runToMemory(grouped, "graft_stream_ann")
      .select(col("query_id"),
        posexplode(col("topk")).as(Seq("pos", "nc")))
      .select(col("query_id"), col("nc.neighbor_id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("nc.cosine").as("cosine"))
  }

  /** Streaming INGEST half of the ANN index lifecycle (the query half
    * is [[streamingAnn]]): vectors with vec_id < 50 stream in and get
    * their trained-IVF home cell AND their 16 PQ codes in one
    * stateless Append-mode projection — both trained tables ride
    * driver-side inside the codegen'd kernels, so index maintenance
    * needs no state store and no shuffle. The oracle re-derives cells
    * and codes from the trained-router + trained-codebook CTE chains.
    */
  def streamingPqEncode(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.streaming.StreamingPipeline
    val c = corpus(spark, sfDir)
    val cents = Clustering.lloydCentroids(c, "vec_id", "embedding", 16, 2)
    val rows = cents.select(col("cluster").cast("long"), col("cq"), col("cn2"))
      .collect().sortBy(_.getLong(0))
    val cb = Similarity.pqCodebookFor(c, "vec_id", "embedding",
      subspaces = 16, dims = 64, codebookSize = 256, trainRounds = 3)
    val stream = StreamingPipeline.readEmbeddings(spark, sfDir)
      .where(col("vec_id") < 50)
    StreamingPipeline.runToMemory(
      StreamingPipeline.pqIngestStream(stream,
        rows.map(_.getLong(0)), rows.map(_.getSeq[Long](1).toArray),
        rows.map(_.getLong(2)), cb, subspaces = 16, dsub = 4),
      "graft_stream_pq_ingest",
      org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** [[topkIvfPq]] against the PERSISTED cell-bucketed index — same
    * dials, so the oracle is the similarity_ivfpq SQL verbatim; see
    * [[Similarity.ivfPqBucketedTopK]] for the bucket-pruning shape.
    */
  def annIndexPruned(spark: SparkSession, sfDir: String): DataFrame = {
    val c = corpus(spark, sfDir)
    Similarity.ivfPqBucketedTopK(c, c.where(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, nCentroids = 16, probes = 12,
      trainRounds = 2, subspaces = 16, dims = 64, codebookSize = 256,
      pqTrainRounds = 3, table = "graft_ann_index", buckets = 16)
  }

  /** Exact second-moment matrix of the embedding corpus — the
    * covariance input of PCA/whitening, via the fixed-size
    * [[graft.functions.VecOuterSum]] matrix aggregate (one ~17 KB
    * buffer per task crosses the exchange; nothing row-shaped ever
    * shuffles). One row per unordered dim pair (i ≤ j) with the exact
    * integer sums and the covariance numerator
    * n·Σxᵢxⱼ − Σxᵢ·Σxⱼ (= n²·cov, exact).
    */
  def embeddingCovariance(spark: SparkSession, sfDir: String): DataFrame = {
    val d = 64
    val prep = corpus(spark, sfDir)
      .select(graft.operators.Dedup.quantize(col("embedding")).as("q"))
    val iCol = (col("idx") / lit(d)).cast("int")
    val jCol = (col("idx") % d).cast("int")
    prep.agg(graft.functions.VecOuterSum.vec_outer_sum(col("q"), d).as("m"))
      .select(col("m.n").as("n"), col("m.sums").as("sums"),
        posexplode(col("m.xy")).as(Seq("idx", "sum_ij")))
      .where(jCol >= iCol)
      .select(iCol.as("i"), jCol.as("j"), col("n"),
        element_at(col("sums"), iCol + 1).as("sum_i"),
        element_at(col("sums"), jCol + 1).as("sum_j"),
        col("sum_ij"),
        (col("n") * col("sum_ij")
          - element_at(col("sums"), iCol + 1)
            * element_at(col("sums"), jCol + 1)).as("cov_num"))
  }

  /** 64→16-dim JL projection with the deterministic ±1 md5 matrix —
    * see [[Similarity.randomProjection]]. The projection array is
    * registered as an `array_join` CSV string (`proj_csv`), per the
    * repo's array-output convention ([[AnalyticsQueries.arrayFuncs]]):
    * the verification harness sorts result rows in pandas, which
    * cannot hash ndarray cells — the CSV carries identical information
    * (exact element values AND order) in a sortable scalar.
    */
  def embeddingProjection(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.randomProjection(corpus(spark, sfDir), "vec_id",
        "embedding", outDims = 16)
      .select(col("vec_id"),
        array_join(transform(col("proj"),
          x => x.cast("string")), ",").as("proj_csv"),
        col("pnorm2"))

  // -- oracle SQL ------------------------------------------------------

  private val qCte: String =
    """q AS (SELECT vec_id,
      |        list_transform(embedding,
       |          x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |      FROM embeddings),
      |n AS (SELECT vec_id, qv,
      |        CAST(list_dot_product(qv, qv) AS BIGINT) AS n2 FROM q)""".stripMargin

  /** Same ±1 hyperplane formula as Similarity.planeSign, in SQL. */
  private[queries] def bucketExpr(qv: String): String = {
    val bitTerms = (0 until 8).map { j =>
      s"""(CASE WHEN CAST(list_dot_product($qv,
         |  list_transform(generate_series(0, 63),
         |    i -> CASE WHEN strpos('89abcdef', substr(md5('$j:' || (i)), 1, 1)) > 0
         |         THEN 1 ELSE -1 END)) AS BIGINT) >= 0
         |  THEN ${1L << j} ELSE 0 END)""".stripMargin
    }
    bitTerms.mkString(" + ")
  }

  /** Query-side multi-probe fan-out over `bk`: own bucket + all eight
    * 1-bit flips, as CTE `mp(vec_id, qv, n2, pbucket)`.
    */
  private val mpCte: String =
    """mp AS (SELECT vec_id, qv, n2,
      |    unnest(list_prepend(CAST(bucket AS BIGINT),
      |      list_transform([1, 2, 4, 8, 16, 32, 64, 128],
      |        m -> xor(CAST(bucket AS BIGINT), CAST(m AS BIGINT))))) AS pbucket
      |  FROM bk WHERE vec_id < 10)""".stripMargin

  /** The ivf_mp CTE chain (cents → asg → qasg), shared by the ivf_mp,
    * recall, and rrf oracles.
    */
  private val ivfMpCtes: String =
    """cents AS (SELECT vec_id AS cent_id, qv AS qcent, n2 AS n2cent FROM n
      |          ORDER BY md5('centroid:' || CAST(vec_id AS VARCHAR)), vec_id
      |          LIMIT 16),
      |asg AS (SELECT vec_id, qv, n2, cell FROM (
      |  SELECT v.vec_id, v.qv, v.n2, c.cent_id AS cell,
      |    row_number() OVER (PARTITION BY v.vec_id
      |      ORDER BY v.n2 + c.n2cent
      |        - 2 * CAST(list_dot_product(v.qv, c.qcent) AS BIGINT),
      |        c.cent_id) AS rn
      |  FROM n v CROSS JOIN cents c) WHERE rn = 1),
      |qasg AS (SELECT vec_id, qv, n2, cell FROM (
      |  SELECT v.vec_id, v.qv, v.n2, c.cent_id AS cell,
      |    row_number() OVER (PARTITION BY v.vec_id
      |      ORDER BY v.n2 + c.n2cent
      |        - 2 * CAST(list_dot_product(v.qv, c.qcent) AS BIGINT),
      |        c.cent_id) AS rn
      |  FROM n v CROSS JOIN cents c WHERE v.vec_id < 10) WHERE rn <= 4)""".stripMargin

  /** Trained-IVF CTE chain: 16 Lloyd-seeded cells (salt 'kmeans', the
    * engine's seedCentroids default), ONE update round with requantized
    * means (the kmeans_assign2 oracle's arithmetic verbatim), corpus
    * assigned to its nearest trained cell (`tasg`), queries probing
    * their 12 nearest (`tqasg`).
    */
  /** PQ encode + per-query subspace distances as chained CTEs — ends
    * with `pqcodes(vec_id, s, cidx)` and `pqd(vec_id, s, cidx, d)`.
    * Mirrors [[Similarity.pqTopK]]'s registered config (16 subspaces
    * × 4 dims, 256 codes, 2 Lloyd update rounds): seeds are the
    * md5-lowest corpus vectors' subvectors, each unrolled round
    * reassigns every subvector to its nearest code and requantizes the
    * per-dim means with the kmeans oracles' exact arithmetic; an empty
    * cell keeps its previous centroid (LEFT JOIN + coalesce). Shared
    * by similarity_pq / similarity_ivfpq / the recall ladder; names
    * are pq-prefixed so they compose with the IVF CTE chains.
    */
  private def pqTrainedCtes(subspaces: Int, dsub: Int, codebookSize: Int,
      updateRounds: Int): String = {
    val seed =
      s"""pqss AS (SELECT unnest(generate_series(0, ${subspaces - 1})) AS s),
         |pqc AS (SELECT cent_id, qcent,
         |    CAST(row_number() OVER (ORDER BY cent_id) AS BIGINT) - 1 AS cidx
         |  FROM (SELECT vec_id AS cent_id, qv AS qcent FROM n
         |        ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR)), vec_id
         |        LIMIT $codebookSize)),
         |pqvsub AS (SELECT vec_id, s,
         |    array_slice(qv, s * $dsub + 1, s * $dsub + $dsub) AS sv
         |  FROM n CROSS JOIN pqss),
         |pqcb0 AS (SELECT cidx, s,
         |    array_slice(qcent, s * $dsub + 1, s * $dsub + $dsub) AS sv
         |  FROM pqc CROSS JOIN pqss)""".stripMargin
    val rounds = (1 to updateRounds).map { t =>
      s"""pqa$t AS (SELECT vec_id, s, cidx, sv FROM (
         |    SELECT v.vec_id, v.s, c.cidx, v.sv,
         |      row_number() OVER (PARTITION BY v.vec_id, v.s
         |        ORDER BY CAST(list_dot_product(v.sv, v.sv) AS BIGINT)
         |          + CAST(list_dot_product(c.sv, c.sv) AS BIGINT)
         |          - 2 * CAST(list_dot_product(v.sv, c.sv) AS BIGINT),
         |          c.cidx) AS rn
         |    FROM pqvsub v JOIN pqcb${t - 1} c ON c.s = v.s) t WHERE rn = 1),
         |pqm$t AS (SELECT s, cidx, i,
         |    CAST(round(round(CAST(sum(sv[i]) AS BIGINT)::DOUBLE
         |        / (count(*) * 10000), 6) * 10000) AS BIGINT) AS cqe
         |  FROM pqa$t, unnest(generate_series(1, $dsub)) t(i)
         |  GROUP BY s, cidx, i),
         |pqup$t AS (SELECT s, cidx, list(cqe ORDER BY i) AS sv
         |  FROM pqm$t GROUP BY s, cidx),
         |pqcb$t AS (SELECT b.cidx, b.s, coalesce(u.sv, b.sv) AS sv
         |  FROM pqcb${t - 1} b
         |  LEFT JOIN pqup$t u ON u.s = b.s AND u.cidx = b.cidx)""".stripMargin
    }
    val tail =
      s"""pqcsub AS (SELECT cidx, s, sv FROM pqcb$updateRounds),
         |pqd AS (SELECT v.vec_id, v.s, c.cidx,
         |    CAST(list_dot_product(v.sv, v.sv) AS BIGINT)
         |      + CAST(list_dot_product(c.sv, c.sv) AS BIGINT)
         |      - 2 * CAST(list_dot_product(v.sv, c.sv) AS BIGINT) AS d
         |  FROM pqvsub v JOIN pqcsub c ON v.s = c.s),
         |pqcodes AS (SELECT vec_id, s, cidx FROM (
         |    SELECT vec_id, s, cidx,
         |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cidx) AS rn
         |    FROM pqd) t
         |  WHERE rn = 1)""".stripMargin
    (seed +: rounds :+ tail).mkString(",\n")
  }

  private val pqCtes: String =
    pqTrainedCtes(subspaces = 16, dsub = 4, codebookSize = 256,
      updateRounds = 2)

  private val ivfTrainCtes: String =
    """tseeds AS (SELECT vec_id, qv, n2,
      |            md5('kmeans:' || CAST(vec_id AS VARCHAR)) AS mk
      |          FROM n ORDER BY mk, vec_id LIMIT 16),
      |tc AS (SELECT CAST(row_number() OVER (ORDER BY mk, vec_id) - 1 AS BIGINT)
      |          AS cell,
      |        qv AS cv, n2 AS cn2 FROM tseeds),
      |ta0 AS (SELECT vec_id, cell FROM (
      |  SELECT v.vec_id, c.cell,
      |    row_number() OVER (PARTITION BY v.vec_id
      |      ORDER BY v.n2 + c.cn2
      |        - 2 * CAST(list_dot_product(v.qv, c.cv) AS BIGINT),
      |        c.cell) AS rn
      |  FROM n v CROSS JOIN tc c) WHERE rn = 1),
      |tu AS (SELECT a.cell, q.qv,
      |        unnest(generate_series(1, len(q.qv))) AS i
      |      FROM ta0 a JOIN q USING (vec_id)),
      |tcm AS (SELECT cell, i,
      |        CAST(round(round(CAST(sum(qv[i]) AS BIGINT)::DOUBLE
      |            / (count(*) * 10000), 6) * 10000) AS BIGINT) AS cqe
      |      FROM tu GROUP BY cell, i),
      |tc2 AS (SELECT cell, list(cqe ORDER BY i) AS cv FROM tcm GROUP BY cell),
      |tc2n AS (SELECT cell, cv,
      |        CAST(list_dot_product(cv, cv) AS BIGINT) AS cn2 FROM tc2),
      |tasg AS (SELECT vec_id, qv, n2, cell FROM (
      |  SELECT v.vec_id, v.qv, v.n2, c.cell,
      |    row_number() OVER (PARTITION BY v.vec_id
      |      ORDER BY v.n2 + c.cn2
      |        - 2 * CAST(list_dot_product(v.qv, c.cv) AS BIGINT),
      |        c.cell) AS rn
      |  FROM n v CROSS JOIN tc2n c) WHERE rn = 1),
      |tqasg AS (SELECT vec_id, qv, n2, cell FROM (
      |  SELECT v.vec_id, v.qv, v.n2, c.cell,
      |    row_number() OVER (PARTITION BY v.vec_id
      |      ORDER BY v.n2 + c.cn2
      |        - 2 * CAST(list_dot_product(v.qv, c.cv) AS BIGINT),
      |        c.cell) AS rn
      |  FROM n v CROSS JOIN tc2n c WHERE v.vec_id < 10) WHERE rn <= 12)""".stripMargin

  /** The MMR greedy unrolled as chained CTEs: selᵗ = argmax of
    * λ₁₀·rel − (10−λ₁₀)·max-sim-to-selected over the not-yet-selected
    * pool, ties to the smaller id — identical integer objective to
    * [[Similarity.mmrDiversify]] (floor'd scaled cosines).
    */
  private def mmrOracle(k: Int, pool: Int, lam: Int): String = {
    val sim = (a: String, b: String) =>
      s"CAST(floor(CAST(list_dot_product($a.qv, $b.qv) AS BIGINT)::DOUBLE" +
        s" / sqrt($a.n2::DOUBLE * $b.n2::DOUBLE) * 1000000) AS BIGINT)"
    val base =
      s"""WITH $qCte,
         |scored AS (SELECT a.vec_id AS query_id, b.vec_id AS cid,
         |    ${sim("a", "b")} AS rel
         |  FROM n a JOIN n b ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
         |pool AS (SELECT query_id, cid, rel FROM (
         |    SELECT query_id, cid, rel, row_number() OVER (PARTITION BY query_id
         |      ORDER BY rel DESC, cid) AS rn FROM scored) t WHERE rn <= $pool),
         |pv AS (SELECT p.query_id, p.cid, p.rel, n.qv, n.n2
         |  FROM pool p JOIN n ON n.vec_id = p.cid),
         |pp AS (SELECT x.query_id, x.cid AS a, y.cid AS b, ${sim("x", "y")} AS sab
         |  FROM pv x JOIN pv y ON x.query_id = y.query_id AND x.cid <> y.cid),
         |sel1 AS (SELECT query_id, cid, rel, CAST(0 AS BIGINT) AS pen FROM (
         |    SELECT query_id, cid, rel, row_number() OVER (PARTITION BY query_id
         |      ORDER BY rel DESC, cid) AS rn FROM pool) t WHERE rn = 1),
         |selu1 AS (SELECT query_id, cid FROM sel1)""".stripMargin
    val steps = (2 to k).map { t =>
      s"""pen$t AS (SELECT p.query_id, p.cid, p.rel, max(pp.sab) AS pen
         |  FROM pool p
         |  JOIN pp ON pp.query_id = p.query_id AND pp.a = p.cid
         |  JOIN selu${t - 1} s ON s.query_id = pp.query_id AND s.cid = pp.b
         |  WHERE NOT EXISTS (SELECT 1 FROM selu${t - 1} z
         |    WHERE z.query_id = p.query_id AND z.cid = p.cid)
         |  GROUP BY p.query_id, p.cid, p.rel),
         |sel$t AS (SELECT query_id, cid, rel, pen FROM (
         |    SELECT query_id, cid, rel, pen,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY $lam * rel - ${10 - lam} * pen DESC, cid) AS rn
         |    FROM pen$t) t WHERE rn = 1),
         |selu$t AS (SELECT query_id, cid FROM selu${t - 1}
         |  UNION ALL SELECT query_id, cid FROM sel$t)""".stripMargin
    }
    val out =
      ("SELECT query_id, cid AS neighbor_id, CAST(1 AS INT) AS mmr_rank," +
        " rel, pen AS penalty FROM sel1") +:
        (2 to k).map(t =>
          s"SELECT query_id, cid, CAST($t AS INT), rel, pen FROM sel$t")
    (base +: steps).mkString(",\n") + "\n" + out.mkString("\nUNION ALL\n")
  }

  private lazy val ivfPqOracle: String =
    s"""WITH $qCte,
       |$ivfTrainCtes,
       |$pqCtes,
       |cand AS (SELECT qp.vec_id AS query_id, cx.vec_id AS neighbor_id
       |  FROM tasg cx JOIN tqasg qp ON qp.cell = cx.cell
       |  WHERE qp.vec_id <> cx.vec_id),
       |adc AS (SELECT c.query_id, c.neighbor_id,
       |    CAST(sum(qd.d) AS BIGINT) AS adc_dist
       |  FROM cand c
       |  JOIN pqcodes x ON x.vec_id = c.neighbor_id
       |  JOIN pqd qd ON qd.vec_id = c.query_id
       |    AND qd.s = x.s AND qd.cidx = x.cidx
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, rank, adc_dist FROM (
       |  SELECT query_id, neighbor_id, adc_dist,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist, neighbor_id) AS INT) AS rank
       |  FROM adc) t
       |WHERE rank <= 5""".stripMargin

  val entries: Seq[(String, Query)] = Seq(
    "embedding_projection" -> Query(embeddingProjection, {
      val dots = (0 until 16).map { j =>
        s"""CAST(list_dot_product(qv,
           |      list_transform(generate_series(0, 63),
           |        i -> CASE WHEN strpos('89abcdef',
           |               substr(md5('$j:' || (i)), 1, 1)) > 0
           |             THEN 1 ELSE -1 END)) AS BIGINT)""".stripMargin
      }
      s"""WITH $qCte,
         |p AS (SELECT vec_id,
         |    list_value(${dots.mkString(",\n")}) AS proj
         |  FROM q)
         |SELECT vec_id,
         |  array_to_string(proj, ',') AS proj_csv,
         |  CAST(list_dot_product(proj, proj) AS BIGINT) AS pnorm2
         |FROM p""".stripMargin
    }),
    "embedding_covariance" -> Query(embeddingCovariance,
      s"""WITH $qCte,
         |dim AS (SELECT d.i, CAST(sum(qv[d.i+1]) AS BIGINT) AS s
         |  FROM q, unnest(generate_series(0, 63)) d(i) GROUP BY d.i),
         |cnt AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM q),
         |xy AS (SELECT a.i, b.j,
         |    CAST(sum(qv[a.i+1] * qv[b.j+1]) AS BIGINT) AS sxy
         |  FROM q, unnest(generate_series(0, 63)) a(i),
         |    unnest(generate_series(0, 63)) b(j)
         |  WHERE b.j >= a.i GROUP BY 1, 2)
         |SELECT CAST(xy.i AS INT) AS i, CAST(xy.j AS INT) AS j,
         |  cnt.nv AS n, di.s AS sum_i, dj.s AS sum_j, xy.sxy AS sum_ij,
         |  CAST(cnt.nv * xy.sxy - di.s * dj.s AS BIGINT) AS cov_num
         |FROM xy, cnt, dim di, dim dj
         |WHERE di.i = xy.i AND dj.i = xy.j""".stripMargin),
    "mmr_diversify" -> Query(topkMmr, mmrOracle(5, 20, 7)),
    "similarity_pq" -> Query(topkPq,
      s"""WITH $qCte,
         |$pqCtes,
         |adc AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
         |    CAST(sum(q.d) AS BIGINT) AS adc_dist
         |  FROM pqcodes x JOIN pqd q ON q.s = x.s AND q.cidx = x.cidx
         |  WHERE q.vec_id < 10 AND q.vec_id <> x.vec_id
         |  GROUP BY 1, 2)
         |SELECT query_id, neighbor_id, rank, adc_dist FROM (
         |  SELECT query_id, neighbor_id, adc_dist,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc_dist, neighbor_id) AS INT) AS rank
         |  FROM adc) t
         |WHERE rank <= 5""".stripMargin),
    "similarity_ivfpq" -> Query(topkIvfPq, ivfPqOracle),
    "similarity_mrr" -> Query(similarityMrr,
      s"""WITH $qCte,
         |truth AS (SELECT query_id, neighbor_id FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |        / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) DESC, b.vec_id ASC) AS rank
         |  FROM n a, n b WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id)
         |  WHERE rank <= 5),
         |qs AS (SELECT DISTINCT query_id FROM truth),
         |$ivfTrainCtes,
         |ivftr AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |        / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) DESC, b.vec_id ASC) AS rank
         |  FROM tqasg a JOIN tasg b ON a.cell = b.cell AND b.vec_id <> a.vec_id)
         |  WHERE rank <= 5),
         |$pqCtes,
         |pqadc AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
         |    CAST(sum(q.d) AS BIGINT) AS adc
         |  FROM pqcodes x JOIN pqd q ON q.s = x.s AND q.cidx = x.cidx
         |  WHERE q.vec_id < 10 AND q.vec_id <> x.vec_id GROUP BY 1, 2),
         |pqr AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc, neighbor_id) AS rank FROM pqadc)
         |  WHERE rank <= 5),
         |ipqcand AS (SELECT qp.vec_id AS query_id, cx.vec_id AS neighbor_id
         |  FROM tasg cx JOIN tqasg qp ON qp.cell = cx.cell
         |  WHERE qp.vec_id <> cx.vec_id),
         |ipqadc AS (SELECT c.query_id, c.neighbor_id,
         |    CAST(sum(qd.d) AS BIGINT) AS adc
         |  FROM ipqcand c
         |  JOIN pqcodes x ON x.vec_id = c.neighbor_id
         |  JOIN pqd qd ON qd.vec_id = c.query_id
         |    AND qd.s = x.s AND qd.cidx = x.cidx
         |  GROUP BY 1, 2),
         |ipqr AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc, neighbor_id) AS rank FROM ipqadc)
         |  WHERE rank <= 5),
         |bk AS (SELECT vec_id, qv, n2,
         |         CAST(${bucketExpr("qv")} AS BIGINT) AS bucket FROM n),
         |$mpCte,
         |lshmpr AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |        / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) DESC, b.vec_id ASC) AS rank
         |  FROM mp a JOIN bk b ON b.bucket = a.pbucket AND b.vec_id <> a.vec_id)
         |  WHERE rank <= 5),
         |fh1 AS (SELECT r.query_id, min(r.rank) AS fh FROM ivftr r
         |  JOIN truth t ON t.query_id = r.query_id
         |    AND t.neighbor_id = r.neighbor_id GROUP BY 1),
         |fh2 AS (SELECT r.query_id, min(r.rank) AS fh FROM pqr r
         |  JOIN truth t ON t.query_id = r.query_id
         |    AND t.neighbor_id = r.neighbor_id GROUP BY 1),
         |fh3 AS (SELECT r.query_id, min(r.rank) AS fh FROM ipqr r
         |  JOIN truth t ON t.query_id = r.query_id
         |    AND t.neighbor_id = r.neighbor_id GROUP BY 1),
         |fh4 AS (SELECT r.query_id, min(r.rank) AS fh FROM lshmpr r
         |  JOIN truth t ON t.query_id = r.query_id
         |    AND t.neighbor_id = r.neighbor_id GROUP BY 1)
         |SELECT 'ivf_train' AS method, qs.query_id,
         |  CAST(coalesce(fh, 0) AS INT) AS first_hit_rank,
         |  CASE WHEN fh IS NULL THEN CAST(0.0 AS DOUBLE)
         |       ELSE CAST(1.0 AS DOUBLE) / fh END AS rr
         |FROM qs LEFT JOIN fh1 USING (query_id)
         |UNION ALL
         |SELECT 'pq', qs.query_id, CAST(coalesce(fh, 0) AS INT),
         |  CASE WHEN fh IS NULL THEN CAST(0.0 AS DOUBLE)
         |       ELSE CAST(1.0 AS DOUBLE) / fh END
         |FROM qs LEFT JOIN fh2 USING (query_id)
         |UNION ALL
         |SELECT 'ivfpq', qs.query_id, CAST(coalesce(fh, 0) AS INT),
         |  CASE WHEN fh IS NULL THEN CAST(0.0 AS DOUBLE)
         |       ELSE CAST(1.0 AS DOUBLE) / fh END
         |FROM qs LEFT JOIN fh3 USING (query_id)
         |UNION ALL
         |SELECT 'lsh_mp', qs.query_id, CAST(coalesce(fh, 0) AS INT),
         |  CASE WHEN fh IS NULL THEN CAST(0.0 AS DOUBLE)
         |       ELSE CAST(1.0 AS DOUBLE) / fh END
         |FROM qs LEFT JOIN fh4 USING (query_id)""".stripMargin),
    // the persisted bucket-pruned index runs the identical dials, so
    // its rows are the composed query's rows
    "ann_index_pruned" -> Query(annIndexPruned, ivfPqOracle),
    "hard_negatives" -> Query(hardNegatives,
      s"""WITH $qCte
         |SELECT query_id, anchor_label, neighbor_id, neg_label, rank, cosine
         |FROM (
         |  SELECT a.vec_id AS query_id, ea.label AS anchor_label,
         |    b.vec_id AS neighbor_id, eb.label AS neg_label,
         |    CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |      / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) AS cosine,
         |    CAST(row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |        / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) DESC, b.vec_id ASC)
         |      AS INT) AS rank
         |  FROM n a, n b, embeddings ea, embeddings eb
         |  WHERE ea.vec_id = a.vec_id AND eb.vec_id = b.vec_id
         |    AND a.vec_id < 10 AND b.vec_id <> a.vec_id
         |    AND eb.label <> ea.label)
         |WHERE rank <= 5""".stripMargin),
    "negative_sample" -> Query(negativeSample,
      """WITH lab AS (SELECT DISTINCT label AS alab FROM embeddings),
        |pool AS (
        |  SELECT l.alab, e.vec_id AS nid, e.label AS nlab,
        |    row_number() OVER (PARTITION BY l.alab ORDER BY e.vec_id) - 1 AS r
        |  FROM lab l JOIN embeddings e ON e.label <> l.alab
        |), m AS (SELECT alab, count(*) AS m FROM pool GROUP BY 1),
        |d AS (
        |  SELECT e.vec_id AS anchor_id, e.label AS alab,
        |    CAST(t.j AS INT) AS j,
        |    ('0x' || substring(md5('graft-neg-r9:'
        |        || CAST(e.vec_id AS VARCHAR) || ':' || CAST(t.j AS VARCHAR)),
        |      1, 15))::BIGINT % m.m AS idx
        |  FROM embeddings e JOIN m ON m.alab = e.label,
        |    unnest(range(1, 5)) t(j)
        |)
        |SELECT d.anchor_id, d.j, p.nid AS neg_id,
        |  d.alab AS anchor_label, p.nlab AS neg_label
        |FROM d JOIN pool p ON p.alab = d.alab AND p.r = d.idx""".stripMargin),
    // the ingest twin's cells and codes re-derive from the trained
    // router (tasg) + trained codebook (pqcodes) chains directly
    "streaming_pq_encode" -> Query(streamingPqEncode,
      s"""WITH $qCte,
         |$ivfTrainCtes,
         |$pqCtes
         |SELECT t.vec_id, CAST(t.cell AS BIGINT) AS cell,
         |  CAST(p.s AS INT) AS s, CAST(p.cidx AS BIGINT) AS cidx
         |FROM tasg t JOIN pqcodes p ON p.vec_id = t.vec_id
         |WHERE t.vec_id < 50""".stripMargin),
    // the streaming twin probes the identical trained index with the
    // identical dials, so its oracle is the similarity_ivf_train SQL
    // verbatim — the streaming engine must land on the same rows
    "streaming_ann" -> Query(streamingAnn,
      s"""WITH $qCte,
         |$ivfTrainCtes
         |SELECT query_id, neighbor_id, rank, cosine FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |      / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) AS cosine,
         |    CAST(row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |        / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) DESC, b.vec_id ASC) AS INT) AS rank
         |  FROM tqasg a JOIN tasg b ON a.cell = b.cell AND b.vec_id <> a.vec_id)
         |WHERE rank <= 5""".stripMargin),
    "similarity_ivf_train" -> Query(topkIvfTrain,
      s"""WITH $qCte,
         |$ivfTrainCtes
         |SELECT query_id, neighbor_id, rank, cosine FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |      / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) AS cosine,
         |    CAST(row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |        / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) DESC, b.vec_id ASC) AS INT) AS rank
         |  FROM tqasg a JOIN tasg b ON a.cell = b.cell AND b.vec_id <> a.vec_id)
         |WHERE rank <= 5""".stripMargin),
    // hybrid: the bm25_topk CTE chain (query terms from doc 0, doc 0
    // excluded from candidates) + the similarity_topk cosine mirror
    // for query vector 0 + the similarity_rrf fusion formula.
    "hybrid_retrieval" -> Query(hybridRetrieval,
      s"""WITH $qCte,
         |t AS (SELECT doc_id, token FROM (
         |       SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |       FROM documents)
         |     WHERE token <> ''),
         |s AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         |             (SELECT count(*) FROM t)::DOUBLE AS ntok),
         |qt AS (SELECT token FROM (
         |        SELECT token, count(*) AS cnt FROM t WHERE doc_id = 0
         |        GROUP BY 1 ORDER BY cnt DESC, token ASC LIMIT 8)),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM t
         |       WHERE token IN (SELECT token FROM qt) AND doc_id <> 0
         |       GROUP BY 1, 2),
         |dfreq AS (SELECT token, count(*) AS dfc FROM tf GROUP BY 1),
         |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
         |c AS (SELECT tf.doc_id,
         |        CAST(round(ln((n - dfc + 0.5) / (dfc + 0.5) + 1.0)
         |          * (tf * 2.2)
         |          / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (ntok / n)))
         |          * 1000000.0) AS BIGINT) AS contrib
         |      FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id), s),
         |sp AS (SELECT CAST(0 AS BIGINT) AS query_id, doc_id AS neighbor_id,
         |         CAST(row_number() OVER (
         |           ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
         |       FROM (SELECT doc_id, sum(contrib) AS score_micro FROM c
         |             GROUP BY 1 ORDER BY score_micro DESC, doc_id ASC
         |             LIMIT 20)),
         |de AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |        / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) DESC, b.vec_id ASC)
         |      AS BIGINT) AS rank
         |  FROM n a, n b WHERE a.vec_id = 0 AND b.vec_id <> 0)
         |  WHERE rank <= 20),
         |f AS (SELECT query_id, neighbor_id,
         |    coalesce(CAST(1.0 AS DOUBLE) / CAST(60 + a.rank AS DOUBLE), CAST(0.0 AS DOUBLE))
         |      + coalesce(CAST(1.0 AS DOUBLE) / CAST(60 + b.rank AS DOUBLE), CAST(0.0 AS DOUBLE)) AS rrf
         |  FROM sp a FULL OUTER JOIN de b USING (query_id, neighbor_id))
         |SELECT query_id, neighbor_id, rrf, fused_rank FROM (
         |  SELECT query_id, neighbor_id, rrf,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf DESC, neighbor_id ASC) AS BIGINT) AS fused_rank
         |  FROM f)
         |WHERE fused_rank <= 10""".stripMargin),
    "similarity_rrf" -> Query(topkRrf,
      s"""WITH $qCte,
         |bk AS (SELECT vec_id, qv, n2,
         |         CAST(${bucketExpr("qv")} AS BIGINT) AS bucket FROM n),
         |$mpCte,
         |lshmp AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |        / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) DESC, b.vec_id ASC) AS rank
         |  FROM mp a JOIN bk b ON b.bucket = a.pbucket AND b.vec_id <> a.vec_id)
         |  WHERE rank <= 5),
         |$ivfMpCtes,
         |ivfmp AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |        / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) DESC, b.vec_id ASC) AS rank
         |  FROM qasg a JOIN asg b ON a.cell = b.cell AND b.vec_id <> a.vec_id)
         |  WHERE rank <= 5),
         |f AS (SELECT query_id, neighbor_id,
         |    coalesce(CAST(1.0 AS DOUBLE) / CAST(60 + a.rank AS DOUBLE), CAST(0.0 AS DOUBLE))
         |      + coalesce(CAST(1.0 AS DOUBLE) / CAST(60 + b.rank AS DOUBLE), CAST(0.0 AS DOUBLE)) AS rrf
         |  FROM lshmp a FULL OUTER JOIN ivfmp b USING (query_id, neighbor_id))
         |SELECT query_id, neighbor_id, rrf, fused_rank FROM (
         |  SELECT query_id, neighbor_id, rrf,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf DESC, neighbor_id ASC) AS BIGINT) AS fused_rank
         |  FROM f)
         |WHERE fused_rank <= 5""".stripMargin),
    "embedding_zscore" -> Query((s, dir) =>
      Quantize.zscore(Tables.embeddings(s, dir), "vec_id", "embedding"),
      s"""WITH $qCte,
         |e AS (SELECT vec_id,
         |        CAST(unnest(generate_series(1, len(qv))) AS BIGINT) AS dim,
         |        unnest(qv) AS x
         |      FROM q),
         |m AS (SELECT dim, CAST(count(*) AS HUGEINT) AS n,
         |        CAST(sum(x) AS HUGEINT) AS s,
         |        CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q2
         |      FROM e GROUP BY dim)
         |SELECT e.vec_id, e.dim,
         |  CASE WHEN (n * q2 - s * s) <= 0 THEN NULL
         |       ELSE CAST(n * e.x - s AS DOUBLE) / sqrt(CAST(n * q2 - s * s AS DOUBLE))
         |  END AS z
         |FROM e JOIN m USING (dim)""".stripMargin),
    "embedding_quantize" -> Query((s, dir) =>
      Quantize.int8(Tables.embeddings(s, dir), "embedding", Seq("vec_id")),
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |s AS (SELECT vec_id, qv,
        |    list_min(qv) AS mn_q, list_max(qv) AS mx_q FROM q),
        |c AS (SELECT vec_id, qv, mn_q, mx_q,
        |    list_transform(qv, v -> CASE WHEN mx_q = mn_q THEN CAST(0 AS BIGINT)
        |      ELSE ((v - mn_q) * 255) // (mx_q - mn_q) END) AS codes
        |  FROM s)
        |SELECT vec_id, mn_q, mx_q,
        |  CAST(COALESCE(list_sum(codes), 0) AS BIGINT) AS code_sum,
        |  CAST(COALESCE(list_sum(list_transform(codes,
        |    (x, i) -> x * CAST(i AS BIGINT))), 0) AS BIGINT) AS code_wsum,
        |  CAST(COALESCE(list_sum(list_transform(qv, (v, i) ->
        |    abs(v - (mn_q + (codes[i] * (mx_q - mn_q)) // 255)))), 0) AS BIGINT)
        |    AS abs_err_q
        |FROM c""".stripMargin),
    "similarity_lsh_mp" -> Query(topkLshMp,
      s"""WITH $qCte,
         |bk AS (SELECT vec_id, qv, n2,
         |         CAST(${bucketExpr("qv")} AS BIGINT) AS bucket FROM n),
         |$mpCte
         |SELECT query_id, neighbor_id, rank, cosine FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |      / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) AS cosine,
         |    CAST(row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |        / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) DESC, b.vec_id ASC) AS INT) AS rank
         |  FROM mp a JOIN bk b ON b.bucket = a.pbucket AND b.vec_id <> a.vec_id)
         |WHERE rank <= 5""".stripMargin),
    "similarity_recall" -> Query(similarityRecall,
      s"""WITH $qCte,
         |truth AS (SELECT query_id, neighbor_id FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |        / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) DESC, b.vec_id ASC) AS rank
         |  FROM n a, n b WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id)
         |  WHERE rank <= 5),
         |bk AS (SELECT vec_id, qv, n2,
         |         CAST(${bucketExpr("qv")} AS BIGINT) AS bucket FROM n),
         |lsh AS (SELECT query_id, neighbor_id FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |        / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) DESC, b.vec_id ASC) AS rank
         |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND b.vec_id <> a.vec_id
         |  WHERE a.vec_id < 10) WHERE rank <= 5),
         |cents AS (SELECT vec_id AS cent_id, qv AS qcent, n2 AS n2cent FROM n
         |          ORDER BY md5('centroid:' || CAST(vec_id AS VARCHAR)), vec_id
         |          LIMIT 16),
         |asg AS (SELECT vec_id, qv, n2, cell FROM (
         |  SELECT v.vec_id, v.qv, v.n2, c.cent_id AS cell,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY v.n2 + c.n2cent
         |        - 2 * CAST(list_dot_product(v.qv, c.qcent) AS BIGINT),
         |        c.cent_id) AS rn
         |  FROM n v CROSS JOIN cents c) WHERE rn = 1),
         |qasg AS (SELECT vec_id, qv, n2, cell FROM (
         |  SELECT v.vec_id, v.qv, v.n2, c.cent_id AS cell,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY v.n2 + c.n2cent
         |        - 2 * CAST(list_dot_product(v.qv, c.qcent) AS BIGINT),
         |        c.cent_id) AS rn
         |  FROM n v CROSS JOIN cents c WHERE v.vec_id < 10) WHERE rn <= 4),
         |qasg8 AS (SELECT vec_id, qv, n2, cell FROM (
         |  SELECT v.vec_id, v.qv, v.n2, c.cent_id AS cell,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY v.n2 + c.n2cent
         |        - 2 * CAST(list_dot_product(v.qv, c.qcent) AS BIGINT),
         |        c.cent_id) AS rn
         |  FROM n v CROSS JOIN cents c WHERE v.vec_id < 10) WHERE rn <= 8),
         |ivfmp8 AS (SELECT query_id, neighbor_id FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |        / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) DESC, b.vec_id ASC) AS rank
         |  FROM qasg8 a JOIN asg b ON a.cell = b.cell AND b.vec_id <> a.vec_id)
         |  WHERE rank <= 5),
         |ivfmp AS (SELECT query_id, neighbor_id FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |        / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) DESC, b.vec_id ASC) AS rank
         |  FROM qasg a JOIN asg b ON a.cell = b.cell AND b.vec_id <> a.vec_id)
         |  WHERE rank <= 5),
         |ivf AS (SELECT query_id, neighbor_id FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |        / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) DESC, b.vec_id ASC) AS rank
         |  FROM asg a JOIN asg b ON a.cell = b.cell AND b.vec_id <> a.vec_id
         |  WHERE a.vec_id < 10) WHERE rank <= 5),
         |$mpCte,
         |lshmp AS (SELECT query_id, neighbor_id FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |        / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) DESC, b.vec_id ASC) AS rank
         |  FROM mp a JOIN bk b ON b.bucket = a.pbucket AND b.vec_id <> a.vec_id)
         |  WHERE rank <= 5),
         |qs AS (SELECT DISTINCT query_id FROM truth),
         |hl AS (SELECT query_id, count(*) AS hits FROM truth
         |       JOIN lsh USING (query_id, neighbor_id) GROUP BY query_id),
         |hi AS (SELECT query_id, count(*) AS hits FROM truth
         |       JOIN ivf USING (query_id, neighbor_id) GROUP BY query_id),
         |hm AS (SELECT query_id, count(*) AS hits FROM truth
         |       JOIN lshmp USING (query_id, neighbor_id) GROUP BY query_id),
         |hp AS (SELECT query_id, count(*) AS hits FROM truth
         |       JOIN ivfmp USING (query_id, neighbor_id) GROUP BY query_id),
         |hp8 AS (SELECT query_id, count(*) AS hits FROM truth
         |       JOIN ivfmp8 USING (query_id, neighbor_id) GROUP BY query_id),
         |$ivfTrainCtes,
         |tivf AS (SELECT query_id, neighbor_id FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |        / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) DESC, b.vec_id ASC) AS rank
         |  FROM tqasg a JOIN tasg b ON a.cell = b.cell AND b.vec_id <> a.vec_id)
         |  WHERE rank <= 5),
         |ht AS (SELECT query_id, count(*) AS hits FROM truth
         |       JOIN tivf USING (query_id, neighbor_id) GROUP BY query_id),
         |$pqCtes,
         |pqadc AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
         |    CAST(sum(q.d) AS BIGINT) AS adc
         |  FROM pqcodes x JOIN pqd q ON q.s = x.s AND q.cidx = x.cidx
         |  WHERE q.vec_id < 10 AND q.vec_id <> x.vec_id GROUP BY 1, 2),
         |pqtop AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc, neighbor_id) AS rank FROM pqadc)
         |  WHERE rank <= 5),
         |ipqcand AS (SELECT qp.vec_id AS query_id, cx.vec_id AS neighbor_id
         |  FROM tasg cx JOIN tqasg qp ON qp.cell = cx.cell
         |  WHERE qp.vec_id <> cx.vec_id),
         |ipqadc AS (SELECT c.query_id, c.neighbor_id,
         |    CAST(sum(qd.d) AS BIGINT) AS adc
         |  FROM ipqcand c
         |  JOIN pqcodes x ON x.vec_id = c.neighbor_id
         |  JOIN pqd qd ON qd.vec_id = c.query_id
         |    AND qd.s = x.s AND qd.cidx = x.cidx
         |  GROUP BY 1, 2),
         |ipqtop AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc, neighbor_id) AS rank FROM ipqadc)
         |  WHERE rank <= 5),
         |hpq AS (SELECT query_id, count(*) AS hits FROM truth
         |       JOIN pqtop USING (query_id, neighbor_id) GROUP BY query_id),
         |hipq AS (SELECT query_id, count(*) AS hits FROM truth
         |       JOIN ipqtop USING (query_id, neighbor_id) GROUP BY query_id)
         |SELECT 'lsh' AS method, query_id,
         |  CAST(coalesce(hl.hits, 0) AS BIGINT) AS hits,
         |  CAST(coalesce(hl.hits, 0) AS DOUBLE) / 5 AS recall_at_5
         |FROM qs LEFT JOIN hl USING (query_id)
         |UNION ALL
         |SELECT 'ivf' AS method, query_id,
         |  CAST(coalesce(hi.hits, 0) AS BIGINT) AS hits,
         |  CAST(coalesce(hi.hits, 0) AS DOUBLE) / 5 AS recall_at_5
         |FROM qs LEFT JOIN hi USING (query_id)
         |UNION ALL
         |SELECT 'lsh_mp' AS method, query_id,
         |  CAST(coalesce(hm.hits, 0) AS BIGINT) AS hits,
         |  CAST(coalesce(hm.hits, 0) AS DOUBLE) / 5 AS recall_at_5
         |FROM qs LEFT JOIN hm USING (query_id)
         |UNION ALL
         |SELECT 'ivf_mp' AS method, query_id,
         |  CAST(coalesce(hp.hits, 0) AS BIGINT) AS hits,
         |  CAST(coalesce(hp.hits, 0) AS DOUBLE) / 5 AS recall_at_5
         |FROM qs LEFT JOIN hp USING (query_id)
         |UNION ALL
         |SELECT 'ivf_mp8' AS method, query_id,
         |  CAST(coalesce(hp8.hits, 0) AS BIGINT) AS hits,
         |  CAST(coalesce(hp8.hits, 0) AS DOUBLE) / 5 AS recall_at_5
         |FROM qs LEFT JOIN hp8 USING (query_id)
         |UNION ALL
         |SELECT 'ivf_train' AS method, query_id,
         |  CAST(coalesce(ht.hits, 0) AS BIGINT) AS hits,
         |  CAST(coalesce(ht.hits, 0) AS DOUBLE) / 5 AS recall_at_5
         |FROM qs LEFT JOIN ht USING (query_id)
         |UNION ALL
         |SELECT 'pq' AS method, query_id,
         |  CAST(coalesce(hpq.hits, 0) AS BIGINT) AS hits,
         |  CAST(coalesce(hpq.hits, 0) AS DOUBLE) / 5 AS recall_at_5
         |FROM qs LEFT JOIN hpq USING (query_id)
         |UNION ALL
         |SELECT 'ivfpq' AS method, query_id,
         |  CAST(coalesce(hipq.hits, 0) AS BIGINT) AS hits,
         |  CAST(coalesce(hipq.hits, 0) AS DOUBLE) / 5 AS recall_at_5
         |FROM qs LEFT JOIN hipq USING (query_id)""".stripMargin),
    "similarity_topk" -> Query(topkBrute,
      s"""WITH $qCte
         |SELECT query_id, neighbor_id, rank, cosine FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |      / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) AS cosine,
         |    CAST(row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |        / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) DESC, b.vec_id ASC) AS INT) AS rank
         |  FROM n a, n b
         |  WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id)
         |WHERE rank <= 5""".stripMargin),
    "similarity_ivf_mp" -> Query(topkIvfMp,
      s"""WITH $qCte,
         |cents AS (SELECT vec_id AS cent_id, qv AS qcent, n2 AS n2cent FROM n
         |          ORDER BY md5('centroid:' || CAST(vec_id AS VARCHAR)), vec_id
         |          LIMIT 16),
         |asg AS (SELECT vec_id, qv, n2, cell FROM (
         |  SELECT v.vec_id, v.qv, v.n2, c.cent_id AS cell,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY v.n2 + c.n2cent
         |        - 2 * CAST(list_dot_product(v.qv, c.qcent) AS BIGINT),
         |        c.cent_id) AS rn
         |  FROM n v CROSS JOIN cents c) WHERE rn = 1),
         |qasg AS (SELECT vec_id, qv, n2, cell FROM (
         |  SELECT v.vec_id, v.qv, v.n2, c.cent_id AS cell,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY v.n2 + c.n2cent
         |        - 2 * CAST(list_dot_product(v.qv, c.qcent) AS BIGINT),
         |        c.cent_id) AS rn
         |  FROM n v CROSS JOIN cents c WHERE v.vec_id < 10) WHERE rn <= 4)
         |SELECT query_id, neighbor_id, rank, cosine FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |      / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) AS cosine,
         |    CAST(row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |        / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) DESC, b.vec_id ASC) AS INT) AS rank
         |  FROM qasg a JOIN asg b ON a.cell = b.cell AND b.vec_id <> a.vec_id)
         |WHERE rank <= 5""".stripMargin),
    "similarity_ivf" -> Query(topkIvf,
      s"""WITH $qCte,
         |cents AS (SELECT vec_id AS cent_id, qv AS qcent, n2 AS n2cent FROM n
         |          ORDER BY md5('centroid:' || CAST(vec_id AS VARCHAR)), vec_id
         |          LIMIT 16),
         |asg AS (SELECT vec_id, qv, n2, cell FROM (
         |  SELECT v.vec_id, v.qv, v.n2, c.cent_id AS cell,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY v.n2 + c.n2cent
         |        - 2 * CAST(list_dot_product(v.qv, c.qcent) AS BIGINT),
         |        c.cent_id) AS rn
         |  FROM n v CROSS JOIN cents c) WHERE rn = 1)
         |SELECT query_id, neighbor_id, rank, cosine, cell FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, a.cell,
         |    CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |      / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) AS cosine,
         |    CAST(row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |        / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) DESC, b.vec_id ASC) AS INT) AS rank
         |  FROM asg a JOIN asg b ON a.cell = b.cell AND b.vec_id <> a.vec_id
         |  WHERE a.vec_id < 10)
         |WHERE rank <= 5""".stripMargin),
    "similarity_lsh" -> Query(topkLsh,
      s"""WITH $qCte,
         |bk AS (SELECT vec_id, qv, n2,
         |         CAST(${bucketExpr("qv")} AS BIGINT) AS bucket FROM n)
         |SELECT query_id, neighbor_id, rank, cosine, bucket FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, a.bucket,
         |    CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |      / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) AS cosine,
         |    CAST(row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY CAST(list_dot_product(a.qv, b.qv) AS BIGINT)::DOUBLE
         |        / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) DESC, b.vec_id ASC) AS INT) AS rank
         |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND b.vec_id <> a.vec_id
         |  WHERE a.vec_id < 10)
         |WHERE rank <= 5""".stripMargin)
  )
}
