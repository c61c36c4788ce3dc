package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PqCodec

/** Approximate-nearest-neighbor search over an `Array[Float]` embedding
  * column: brute-force exact top-k as the correctness baseline, and a
  * random-hyperplane LSH bucketing as the scale path.
  *
  * All similarity math runs on quantized integer vectors
  * (see [[Dedup.quantize]]): dot products are exact, so rankings are
  * total and reproducible across engines — no last-ulp ties.
  *
  * Scale posture: brute force is O(|Q|·N) with the query side broadcast
  * (fine for |Q| in the thousands against billions of rows — one scan,
  * no shuffle of the big side, map-side top-k via the window's partial
  * sort). The LSH variant buckets both sides by hyperplane signs and
  * joins bucket-to-bucket, cutting the candidate set by ~2^bits; recall
  * is tuned by bits (fewer bits → bigger buckets → higher recall).
  */
object Similarity {

  /** Deterministic ±1 hyperplane signs shared with any SQL oracle:
    * sign(plane j, dim i) = +1 iff the first md5 nibble of "j:i" has its
    * high bit set. Public-formula, engine-agnostic.
    */
  def planeSign(j: Int, i: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$j:$i".getBytes("UTF-8"))
    if ((hex(0) & 0x80) != 0) 1 else -1
  }

  /** LSH bucket id from `bits` hyperplanes over a quantized vector:
    * bit j set iff Σᵢ sign(j,i)·qᵢ ≥ 0. Exact integer dots.
    *
    * Each plane's dot is the codegen'd [[graft.functions.LongArrayDot]]
    * against a constant ±1 literal array — NOT the
    * `aggregate(zip_with(...))` builtin chain, which evaluates
    * interpreted lambdas per element per row (bits × dims of them) and
    * allocates an intermediate array per plane. Same rewrite that took
    * dedup_embedding 41.2→2.2 s; null/length-mismatch semantics are
    * identical (both yield NULL → bit contributes 0).
    */
  def lshBucket(q: Column, bits: Int, dims: Int): Column = {
    val bitCols = (0 until bits).map { j =>
      val signs = typedLit((0 until dims).map(i => planeSign(j, i).toLong))
      val dot = graft.functions.LongArrayDot.long_dot(q, signs)
      when(dot >= 0, lit(1L << j)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  private def prepared(df: DataFrame, idCol: String, embCol: String,
      keep: Seq[String] = Nil): DataFrame = {
    // every top-k path feeds ids through TopKByScore via cast("long"):
    // a non-ANSI cast of a string id would null out and the aggregate
    // would silently return ZERO neighbors for every query — fail loud
    // (dense-rank/hash string ids to longs, or use TopKStringByScore)
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType
         | org.apache.spark.sql.types.ShortType
         | org.apache.spark.sql.types.IntegerType
         | org.apache.spark.sql.types.LongType => ()
      case dt => throw new IllegalArgumentException(
        s"similarity ids must be integral; '$idCol' is $dt")
    }
    df.select(col(idCol) +: keep.map(col) :+
        Dedup.quantize(col(embCol)).as("q"): _*)
      .withColumn("n2", Dedup.squaredNorm(col("q")))
  }

  /** Turn a per-query best-first top-k struct array into
    * (rank, neighbor_id, cosine) rows; rank is 1-based and int like the
    * row_number it replaces.
    */
  private def rankRows(grouped: DataFrame, keep: Seq[String]): DataFrame =
    grouped
      .select(keep.map(col) :+ posexplode(col("topk")).as(Seq("pos", "nc")): _*)
      .withColumn("neighbor_id", col("nc.neighbor_id"))
      .withColumn("rank", (col("pos") + 1).cast("int"))
      .withColumn("cosine", col("nc.cosine"))

  /** Exact top-k cosine neighbors for each query vector. `queries` is
    * expected to be small (it is broadcast); ranking ties break by
    * neighbor id for total determinism.
    *
    * Ranking is a bounded-heap aggregate ([[graft.functions.TopKByScore]]),
    * NOT a `row_number` window: the window would shuffle all |Q|·N scored
    * rows into |Q| partitions (a |Q|-task stage no matter the cluster),
    * while the aggregate's partial mode keeps ≤ k candidates per (task,
    * query) map-side, so the only exchange carries tiny k-entry buffers.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, embCol: String, k: Int): DataFrame = {
    val c = prepared(corpus, idCol, embCol)
      .select(col(idCol).as("neighbor_id"), col("q").as("qc"), col("n2").as("n2c"))
    val qs = prepared(queries, idCol, embCol)
      .select(col(idCol).as("query_id"), col("q").as("qq"), col("n2").as("n2q"))
    val grouped = c.join(broadcast(qs), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        Dedup.quantizedCosine(col("qq"), col("qc"), col("n2q"), col("n2c")))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore
        .top_k_by(col("cosine"), col("neighbor_id").cast("long"), k).as("topk"))
    rankRows(grouped, Seq("query_id"))
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Hard-negative mining for contrastive training: each anchor's
    * top-k most-similar CROSS-label vectors — the "looks alike, isn't"
    * pairs InfoNCE training actually learns from (uniform class
    * negatives are [[Sampling.negativeSample]]'s job; this is the
    * similarity-weighted complement that stays priced at any label
    * count).
    *
    * Execution discipline is [[bruteForceTopK]]'s: anchors broadcast,
    * the label-disjointness predicate rides the scoring join (same-
    * label pairs are never scored), ranking is the map-side
    * bounded-heap aggregate. The negative's own label re-attaches by
    * broadcasting the |anchors|·k result back onto the corpus label
    * projection — the corpus streams, never shuffles.
    */
  def hardNegatives(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, embCol: String, labelCol: String, k: Int): DataFrame = {
    val c = prepared(corpus, idCol, embCol, Seq(labelCol))
      .select(col(idCol).as("neighbor_id"), col(labelCol).as("nlab"),
        col("q").as("qc"), col("n2").as("n2c"))
    val qs = prepared(queries, idCol, embCol, Seq(labelCol))
      .select(col(idCol).as("query_id"), col(labelCol).as("anchor_label"),
        col("q").as("qq"), col("n2").as("n2q"))
    val grouped = c.join(broadcast(qs),
        col("query_id") =!= col("neighbor_id") &&
          col("anchor_label") =!= col("nlab"))
      .withColumn("cosine",
        Dedup.quantizedCosine(col("qq"), col("qc"), col("n2q"), col("n2c")))
      .groupBy(col("query_id"), col("anchor_label"))
      .agg(graft.functions.TopKByScore
        .top_k_by(col("cosine"), col("neighbor_id").cast("long"), k).as("topk"))
    val ranked = rankRows(grouped, Seq("query_id", "anchor_label"))
      .select("query_id", "anchor_label", "neighbor_id", "rank", "cosine")
    corpus.select(col(idCol).as("neighbor_id"), col(labelCol).as("neg_label"))
      .join(broadcast(ranked), "neighbor_id")
      .select(col("query_id"), col("anchor_label"), col("neighbor_id"),
        col("neg_label"), col("rank"), col("cosine"))
  }

  /** IVF (inverted-file) ANN with a deterministic coarse quantizer:
    * `nCentroids` vectors are chosen as centroids by md5 order (a
    * reproducible pseudo-random sample — production would k-means, but
    * the INDEX STRUCTURE, not centroid quality, is what matters for the
    * execution shape), every vector is assigned to its nearest centroid
    * by EXACT integer squared-L2 (`n2v + n2c − 2·dot`, ties by centroid
    * id), and search probes only the query's cell.
    *
    * Scale posture: the centroid table is tiny and broadcast — the
    * corpus never shuffles for assignment (narrow map over a broadcast
    * nested loop + partial-aggregating argmin). The only corpus-wide
    * exchange is the cell join, keyed by centroid id; ranking is the
    * bounded-heap aggregate like every other top-k here. Recall is
    * tuned by nCentroids (fewer → bigger cells → higher recall).
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, embCol: String, k: Int,
      nCentroids: Int = 16): DataFrame = {
    require(nCentroids > 0 && nCentroids < (1 << 20),
      s"nCentroids must be in (0, 2^20), got $nCentroids")
    val prep = prepared(corpus, idCol, embCol)
    // dense 0-based index in cent_id order: the argmin packs (dist, idx)
    // into ONE long; idx order = cent_id order, so ties still break to
    // the smaller cent_id. Bound: dist < 2⁴³ (unit-scale embeddings
    // quantized at 1e4 stay ≪ that). Round 18: the router state is the
    // DRIVER-HELD md5-draw memo and assignment is the map-only
    // [[graft.functions.IvfRoute.ivf_nearest_packed]] kernel — the
    // crossJoin fan-out, the corpus-sized groupBy(id) argmin exchange
    // and the cidx→cent_id join all disappear from the plan (guide
    // §2.4); packed values, tie-breaks and the cell mapping (now an
    // element_at over the literal cent_id array) are unchanged.
    val mult = 1L << 20
    val rows = md5CentroidRows(prep, idCol, nCentroids)
    val cidx = Array.tabulate(rows.length)(_.toLong)
    val vecs = rows.map(_._2)
    val n2s = rows.map(_._3)
    val centIds = typedLit(rows.map(_._1).toSeq)
    val idType = prep.schema(idCol).dataType

    def assign(df: DataFrame): DataFrame =
      df.withColumn("_best", graft.functions.IvfRoute
          .ivf_nearest_packed(col("q"), cidx, vecs, n2s))
        .select(col(idCol),
          element_at(centIds, (col("_best") % mult).cast("int") + 1)
            .cast(idType).as("cell"),
          col("q"), col("n2"))

    val c = assign(prep)
      .select(col("cell"), col(idCol).as("neighbor_id"),
        col("q").as("qc"), col("n2").as("n2c"))
    val qs = assign(prepared(queries, idCol, embCol))
      .select(col("cell"), col(idCol).as("query_id"),
        col("q").as("qq"), col("n2").as("n2q"))
    val grouped = c.join(qs, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        Dedup.quantizedCosine(col("qq"), col("qc"), col("n2q"), col("n2c")))
      .groupBy(col("query_id"), col("cell"))
      .agg(graft.functions.TopKByScore
        .top_k_by(col("cosine"), col("neighbor_id").cast("long"), k).as("topk"))
    rankRows(grouped, Seq("query_id", "cell"))
      .select("query_id", "neighbor_id", "rank", "cosine", "cell")
  }

  /** Multi-probe IVF: the query probes its `probes` NEAREST cells
    * instead of only the closest one — the standard IVF recall lever
    * (FAISS nprobe): a true neighbor on the far side of a Voronoi
    * boundary lives in the second- or third-closest cell, so probing
    * them recovers it with the index unchanged. Mirrors what
    * [[lshMultiProbeTopK]] does for hyperplane buckets.
    *
    * Cost shape: the corpus stays indexed exactly once (one cell per
    * vector, so probe candidates can't duplicate); only the query side
    * fans out ×probes. Query cell ranking is a row_number window over
    * the |Q|×nCentroids broadcast product — 16 rows per query key, so
    * the window partition is constant-size at any |Q|; the packed-long
    * ordering keeps ties exact (no double rounding of the distance).
    * The per-query top-k then spans cells, so the bounded-heap
    * aggregate groups by query alone.
    */
  def ivfMultiProbeTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, embCol: String, k: Int,
      nCentroids: Int = 16, probes: Int = 4): DataFrame = {
    require(probes >= 1 && probes <= nCentroids,
      s"probes must be in [1, $nCentroids], got $probes")
    val prep = prepared(corpus, idCol, embCol)
    val mult = 1L << 20
    // same driver-held router state + map-only kernels as [[ivfTopK]]
    // (round 18): corpus argmin and query probe ranking both run
    // inside the scan stage — the probe ranking reuses the STREAMING
    // router [[graft.functions.IvfRoute.ivf_probe_cells]], whose
    // packed total order is the window ranking's verbatim (pinned by
    // StreamingSpec against the batch router).
    val rows = md5CentroidRows(prep, idCol, nCentroids)
    val cidx = Array.tabulate(rows.length)(_.toLong)
    val vecs = rows.map(_._2)
    val n2s = rows.map(_._3)
    val centIds = typedLit(rows.map(_._1).toSeq)
    val idType = prep.schema(idCol).dataType

    // corpus: nearest cell only (the index) — map-only packed argmin
    val c = prep
      .withColumn("_best", graft.functions.IvfRoute
        .ivf_nearest_packed(col("q"), cidx, vecs, n2s))
      .select(
        element_at(centIds, (col("_best") % mult).cast("int") + 1)
          .cast(idType).as("cell"),
        col(idCol).as("neighbor_id"), col("q").as("qc"), col("n2").as("n2c"))
    // queries: the `probes` nearest cells each (a corpus smaller than
    // nCentroids draws fewer cells — every cell is probed, exactly the
    // rows the old row_number ≤ probes filter kept)
    val qs = prepared(queries, idCol, embCol)
      .select(col(idCol).as("query_id"), col("q").as("qq"),
        col("n2").as("n2q"),
        explode(graft.functions.IvfRoute.ivf_probe_cells(
          col("q"), cidx, vecs, n2s, math.min(probes, rows.length)))
          .as("_cidx"))
      .select(element_at(centIds, col("_cidx").cast("int") + 1)
          .cast(idType).as("cell"),
        col("query_id"), col("qq"), col("n2q"))
    val grouped = c.join(qs, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        Dedup.quantizedCosine(col("qq"), col("qc"), col("n2q"), col("n2c")))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore
        .top_k_by(col("cosine"), col("neighbor_id").cast("long"), k).as("topk"))
    rankRows(grouped, Seq("query_id"))
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Multi-probe IVF over a TRAINED coarse quantizer: the centroids are
    * `trainRounds`-iteration Lloyd k-means output
    * ([[Clustering.lloydCentroids]]) instead of a random corpus sample.
    * This is the full FAISS-style IVF recipe: random centroids in high
    * dimension make cell membership nearly uncorrelated with the
    * query's cell (measured: recall@5 ≈ probes/nCentroids — no better
    * than scanning a random probes/nCentroids slice), while trained
    * centroids align cell boundaries with the data's actual density so
    * the same probe budget recovers most true neighbors.
    *
    * Cost shape at 100 TB: training is `trainRounds` broadcast-assign +
    * k×dims-row update passes (the Lloyd loop's documented shape, tiny
    * exchanges); the index assignment is one broadcast argmin per
    * vector (no corpus shuffle); search is identical to
    * [[ivfMultiProbeTopK]] — corpus indexed once, query side fans out
    * ×probes, one cell-keyed join.
    */
  def ivfTrainedTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, embCol: String, k: Int,
      nCentroids: Int = 16, probes: Int = 4, trainRounds: Int = 2): DataFrame = {
    require(probes >= 1 && probes <= nCentroids,
      s"probes must be in [1, $nCentroids], got $probes")
    // trained router state straight off the lloydCentroids driver memo
    // — map-only assignment + probe routing, the [[ivfTopK]] round-18
    // shape (cluster ids pack directly: they are < 2²⁰ by the Lloyd
    // contract, so no cidx→cell mapping is needed here)
    val rows = Clustering
      .lloydCentroidRows(corpus, idCol, embCol, nCentroids, trainRounds)
    val cells = rows.map(_._1)
    val vecs = rows.map(_._2)
    val n2s = rows.map(_._3)
    val mult = 1L << 20

    // corpus: nearest trained cell only (the index)
    val c = prepared(corpus, idCol, embCol)
      .withColumn("_best", graft.functions.IvfRoute
        .ivf_nearest_packed(col("q"), cells, vecs, n2s))
      .select((col("_best") % mult).as("cell"),
        col(idCol).as("neighbor_id"), col("q").as("qc"), col("n2").as("n2c"))
    // queries: the `probes` nearest trained cells each
    val qs = prepared(queries, idCol, embCol)
      .select(col(idCol).as("query_id"), col("q").as("qq"),
        col("n2").as("n2q"),
        explode(graft.functions.IvfRoute.ivf_probe_cells(
          col("q"), cells, vecs, n2s, math.min(probes, cells.length)))
          .as("cell"))
      .select(col("cell"), col("query_id"), col("qq"), col("n2q"))
    val grouped = c.join(qs, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        Dedup.quantizedCosine(col("qq"), col("qc"), col("n2q"), col("n2c")))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore
        .top_k_by(col("cosine"), col("neighbor_id").cast("long"), k).as("topk"))
    rankRows(grouped, Seq("query_id"))
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** LSH-bucketed ANN: candidates restricted to the query's bucket; then
    * exact cosine top-k within it. One shuffle on the bucket id, then the
    * same bounded-heap ranking as [[bruteForceTopK]] (bucket rides along
    * in the grouping key — it is functionally dependent on query_id).
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, embCol: String, k: Int,
      bits: Int = 8, dims: Int = 64): DataFrame = {
    val c = prepared(corpus, idCol, embCol)
      .withColumn("bucket", lshBucket(col("q"), bits, dims))
      .select(col("bucket"), col(idCol).as("neighbor_id"),
        col("q").as("qc"), col("n2").as("n2c"))
    val qs = prepared(queries, idCol, embCol)
      .withColumn("bucket", lshBucket(col("q"), bits, dims))
      .select(col("bucket"), col(idCol).as("query_id"),
        col("q").as("qq"), col("n2").as("n2q"))
    val grouped = c.join(qs, "bucket")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        Dedup.quantizedCosine(col("qq"), col("qc"), col("n2q"), col("n2c")))
      .groupBy(col("query_id"), col("bucket"))
      .agg(graft.functions.TopKByScore
        .top_k_by(col("cosine"), col("neighbor_id").cast("long"), k).as("topk"))
    rankRows(grouped, Seq("query_id", "bucket"))
      .select("query_id", "neighbor_id", "rank", "cosine", "bucket")
  }

  /** Multi-probe LSH ANN: each query probes its own bucket PLUS the
    * `bits` buckets at Hamming distance 1 (single-bit flips) — the
    * classic multi-probe recall lever (Lv et al., VLDB'07): a true
    * neighbor straddling one hyperplane lands one bit away, so probing
    * the flip recovers it without rebuilding the index or shrinking
    * `bits`.
    *
    * Cost shape: the CORPUS is still bucketed exactly once (no
    * duplication — the index is unchanged); only the tiny query side
    * fans out ×(bits+1) before the same bucket equi-join. Candidates
    * can't duplicate (a corpus vector lives in exactly one bucket and
    * probe buckets are distinct), so the per-query top-k is one
    * bounded-heap aggregate over the union of probes — map-side
    * partial, k-entry buffers on the wire, same as every top-k here.
    */
  def lshMultiProbeTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, embCol: String, k: Int,
      bits: Int = 8, dims: Int = 64): DataFrame = {
    val c = prepared(corpus, idCol, embCol)
      .withColumn("bucket", lshBucket(col("q"), bits, dims))
      .select(col("bucket"), col(idCol).as("neighbor_id"),
        col("q").as("qc"), col("n2").as("n2c"))
    val probeList = (0 until bits).map(j => col("_b0").bitwiseXOR(lit(1L << j)))
    val qs = prepared(queries, idCol, embCol)
      .withColumn("_b0", lshBucket(col("q"), bits, dims))
      .withColumn("bucket", explode(array(col("_b0") +: probeList: _*)))
      .select(col("bucket"), col(idCol).as("query_id"),
        col("q").as("qq"), col("n2").as("n2q"))
    val grouped = c.join(qs, "bucket")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        Dedup.quantizedCosine(col("qq"), col("qc"), col("n2q"), col("n2c")))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore
        .top_k_by(col("cosine"), col("neighbor_id").cast("long"), k).as("topk"))
    rankRows(grouped, Seq("query_id"))
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Reciprocal-rank fusion of two retrieval rankings (Cormack et al.):
    * fused score = Σ 1/(c + rank) over the lists that returned the
    * (query, neighbor) pair, then a fresh top-`k` per query by
    * (score desc, neighbor_id). The two contributions combine in ONE
    * fixed two-term float addition (IEEE addition is commutative, so
    * a full-outer join + coalesce is bit-deterministic where an N-way
    * union-and-sum would be reduction-order-dependent) — the same
    * score an oracle computes from the same ranks.
    *
    * Inputs are (query_id, neighbor_id, rank) frames — any mix of
    * retrieval methods. One (query, neighbor) shuffle join over the
    * already-tiny rankings, then a per-query window on ≤ 2k rows.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, c: Int = 60): DataFrame = {
    val lhs = a.select(col("query_id"), col("neighbor_id"),
      col("rank").cast("long").as("_ra"))
    val rhs = b.select(col("query_id"), col("neighbor_id"),
      col("rank").cast("long").as("_rb"))
    val fused = lhs.join(rhs, Seq("query_id", "neighbor_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0d) / (lit(c.toLong) + col("_ra")), lit(0.0d))
          + coalesce(lit(1.0d) / (lit(c.toLong) + col("_rb")), lit(0.0d)))
    fused
      .withColumn("fused_rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("rrf").desc, col("neighbor_id"))).cast("long"))
      .filter(col("fused_rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rrf"),
        col("fused_rank"))
  }

  /** Maximal Marginal Relevance re-ranking: from each query's
    * `poolSize` most-similar candidates, greedily select `k` that
    * balance relevance against redundancy — pick t maximizes
    * λ·sim(q, d) − (1−λ)·max_{s∈selected} sim(d, s). The standard
    * diversify-the-retrieval finisher (RAG context packing, dedup-aware
    * search UIs) and, run with the query as a topic centroid, a
    * per-topic diverse-exemplar selector for curation.
    *
    * Determinism: similarities are the quantized integer cosine scaled
    * to 1e6 and FLOORED to a BIGINT (floor, not cast — Spark's
    * double→long truncates while DuckDB's CAST rounds; floor is the
    * same function in both). λ enters as the integer pair
    * (lambda10, 10−lambda10), so the greedy objective
    * `lambda10·rel − (10−lambda10)·pen` is exact integer arithmetic
    * with ties to the smaller candidate id.
    *
    * Shape: the pool build is [[bruteForceTopK]]'s broadcast scan
    * (swap in any ANN pool upstream); everything after runs on
    * |Q|·poolSize rows — per-query windows over ≤poolSize rows, k−1
    * bounded joins (the selected set never exceeds k), lineage cut per
    * round. The greedy is inherently sequential in k; it is NOT
    * sequential in |Q| — every query advances in the same k−1 passes.
    */
  def mmrDiversify(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, embCol: String, k: Int = 5,
      poolSize: Int = 20, lambda10: Int = 7): DataFrame = {
    require(k >= 1 && poolSize >= k,
      s"need poolSize >= k >= 1, got k=$k poolSize=$poolSize")
    // the greedy loop frames stay un-checkpointed (see the loop note);
    // that assumption is only sound with bounded lineage, so bound k
    // like kCenterCoreset does — a deeper MMR wants per-round
    // checkpoints, not a silent quadratic plan-analysis blowup
    require(k <= 32, s"k must be <= 32 (un-checkpointed greedy lineage), got $k")
    require(lambda10 >= 0 && lambda10 <= 10, s"lambda10 in [0,10], got $lambda10")
    import graft.functions.LongArrayDot.long_dot
    def simc(dotC: Column, n2a: Column, n2b: Column): Column =
      floor(dotC.cast("double")
        / sqrt(n2a.cast("double") * n2b.cast("double")) * lit(1e6)).cast("long")

    val c = prepared(corpus, idCol, embCol)
      .select(col(idCol).as("neighbor_id"), col("q").as("qc"), col("n2").as("n2c"))
    val qs = prepared(queries, idCol, embCol)
      .select(col(idCol).as("query_id"), col("q").as("qq"), col("n2").as("n2q"))
    val pool = rankRows(
      c.join(broadcast(qs), col("query_id") =!= col("neighbor_id"))
        .withColumn("rel",
          simc(long_dot(col("qq"), col("qc")), col("n2q"), col("n2c")))
        .groupBy(col("query_id"))
        .agg(graft.functions.TopKByScore
          .top_k_by(col("rel").cast("double"), col("neighbor_id").cast("long"),
            poolSize).as("topk")),
      Seq("query_id"))
      .select(col("query_id"), col("neighbor_id").as("cid"),
        col("cosine").cast("long").as("rel"))

    // ONE grouped pass replaces the k-round DataFrame loop (round 17):
    // a query's pool is ≤ poolSize candidates BY CONSTRUCTION, so the
    // within-pool pairwise sims (≤ poolSize² ≤ 1024 values) and the
    // greedy selection fit trivially in one task — the k iterations of
    // joins/windows/anti-joins were 30+ scheduler round-trips of fixed
    // overhead per call (sf0.1: 31 jobs, wall 4.9 s against 16 task-
    // seconds) for work a single pass does in microseconds, and at any
    // scale the per-query state this pass holds is the same bounded
    // pool the old loop shuffled k times. The corpus scan, the TopK
    // pool aggregate, and the one query_id exchange stay the codegen
    // hot path; only the bounded per-group greedy runs as a closure.
    // Arithmetic is the SAME expression sequence (exact Long dot,
    // sqrt of the double norm product, floor(·1e6)) with the SAME
    // tie-breaks (first pick rel desc → cid asc; later picks score
    // desc → cid asc), so the output is bit-identical to the loop's.
    val pv = c.join(broadcast(pool), col("neighbor_id") === col("cid"))
      .select(col("query_id").cast("long").as("_1"),
        col("cid").cast("long").as("_2"), col("rel").as("_3"),
        col("qc").as("_4"), col("n2c").as("_5"))
    val session = corpus.sparkSession
    import session.implicits._
    val lam = lambda10.toLong
    pv.as[(Long, Long, Long, Array[Long], Long)]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cands = it.toArray // ≤ poolSize rows by pool construction
        val n = cands.length
        def dot(a: Array[Long], b: Array[Long]): Long = {
          var s = 0L; var i = 0
          while (i < a.length) { s += a(i) * b(i); i += 1 }
          s
        }
        // same value as simc: floor(dot / sqrt(n2a·n2b) · 1e6)
        def sab(i: Int, j: Int): Long =
          math.floor(dot(cands(i)._4, cands(j)._4).toDouble
            / math.sqrt(cands(i)._5.toDouble * cands(j)._5.toDouble)
            * 1e6).toLong
        val out = scala.collection.mutable
          .ArrayBuffer.empty[(Long, Long, Int, Long, Long)]
        if (n > 0) {
          val selected = new Array[Int](math.min(k, n))
          val isSel = new Array[Boolean](n)
          var best = -1
          var i = 0
          while (i < n) { // first pick: rel desc, cid asc
            if (best < 0 || cands(i)._3 > cands(best)._3 ||
                (cands(i)._3 == cands(best)._3 && cands(i)._2 < cands(best)._2))
              best = i
            i += 1
          }
          selected(0) = best; isSel(best) = true
          out += ((qid, cands(best)._2, 1, cands(best)._3, 0L))
          var nSel = 1
          var t = 2
          while (t <= k && nSel < n) {
            var bi = -1; var bScore = 0L; var bPen = 0L
            var ci = 0
            while (ci < n) {
              if (!isSel(ci)) {
                var pen = Long.MinValue
                var si = 0
                while (si < nSel) {
                  val p = sab(ci, selected(si))
                  if (p > pen) pen = p
                  si += 1
                }
                val score = lam * cands(ci)._3 - (10L - lam) * pen
                if (bi < 0 || score > bScore ||
                    (score == bScore && cands(ci)._2 < cands(bi)._2)) {
                  bi = ci; bScore = score; bPen = pen
                }
              }
              ci += 1
            }
            selected(nSel) = bi; isSel(bi) = true; nSel += 1
            out += ((qid, cands(bi)._2, t, cands(bi)._3, bPen))
            t += 1
          }
        }
        out.iterator
      }
      .toDF("query_id", "neighbor_id", "mmr_rank", "rel", "penalty")
  }

  /** Product-quantization ADC search — the memory-side ANN lever IVF
    * doesn't give: each vector is compressed to `subspaces` one-byte
    * codes (argmin centroid per subvector), and query↔vector distance
    * is approximated asymmetrically as Σₛ d(queryₛ, centroid[codeₛ]) —
    * a table lookup per subspace, no touching the original floats. At
    * 100 TB this is what makes the candidate scan cheap: the scanned
    * index row is `subspaces` bytes, not `dims` floats (64× smaller at
    * 8 subspaces over 64 float dims), and the per-query lookup tables
    * (subspaces × codebookSize longs) broadcast for free.
    *
    * Determinism discipline: codebooks seed from the md5-lowest
    * `codebookSize` corpus vectors' subvectors (same public-formula
    * seeding as the IVF coarse quantizer) and optionally take
    * `trainRounds − 1` per-subspace Lloyd updates ([[pqCodebook]]);
    * all distances are exact integer L2² over quantized vectors
    * (bounded ≪ 2⁴³, so the packed argmin and the double-cast ADC sum
    * are both exact); argmin ties break to the smaller centroid index.
    *
    * Shape: the trained codebook (a few thousand longs) lives on the
    * DRIVER and ships to executors inside the codegen'd
    * [[graft.functions.PqCodec]] expressions — encoding the corpus is
    * ONE map pass (`pq_codes`: a tight subspace×code×dim loop per
    * row, no join fan-out, no exchange), the ≤|Q| lookup tables are a
    * map over the query side (`pq_lut`), and scoring is the broadcast
    * code-table scan + `pq_adc` lookups + bounded-heap top-k. This is
    * the FAISS kernel shape: at 100 TB nothing but the |Q|-row LUT
    * frame ever crosses the wire beyond the code table itself.
    */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, embCol: String, k: Int,
      subspaces: Int = 8, dims: Int = 64, codebookSize: Int = 16,
      trainRounds: Int = 1): DataFrame = {
    require(dims % subspaces == 0, s"dims=$dims not divisible by subspaces=$subspaces")
    require(codebookSize >= 2 && codebookSize <= 256,
      s"codebookSize in [2,256], got $codebookSize")
    val dsub = dims / subspaces

    val prep = prepared(corpus, idCol, embCol)
    val cb = pqCodebook(prep, idCol, subspaces, dsub, codebookSize,
      trainRounds)

    val codes = prep.select(col(idCol),
      PqCodec.pq_codes(col("q"), cb, subspaces, dsub).as("_codes"))
    val luts = prepared(queries, idCol, embCol)
      .select(col(idCol).as("query_id"),
        PqCodec.pq_lut(col("q"), cb, subspaces, dsub).as("_luts"))
    val scored = codes
      .join(broadcast(luts), col("query_id") =!= col(idCol))
      .withColumn("adc_dist", PqCodec.pq_adc(col("_codes"), col("_luts")))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore
        .top_k_by(-col("adc_dist").cast("double"), col(idCol).cast("long"), k)
        .as("topk"))
    rankRows(scored, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        (-col("cosine")).cast("long").as("adc_dist"))
  }

  /** Deterministic PQ codebook, optionally Lloyd-TRAINED per subspace.
    *
    * Seeds are the md5-lowest `codebookSize` corpus vectors,
    * cidx-labeled in id order. Each of the `trainRounds − 1` update
    * rounds then runs one Lloyd step INDEPENDENTLY in every subspace —
    * assign each corpus subvector to its nearest code (exact integer
    * L2², ties to the smaller cidx) and requantize the per-dim means
    * with [[Clustering.lloydUpdate]]'s exact arithmetic
    * (round(round(Σq/(n·10⁴), 6)·10⁴)) so the trained geometry stays
    * integer-reproducible at any parallelism. A subspace cell that
    * goes empty keeps its previous centroid (cidx stays dense).
    *
    * The codebook lives on the DRIVER (subspaces × codebookSize
    * subvectors — ≤128 KB at production dials), so each training round
    * is ONE narrow aggregate over the corpus: a single map pass
    * assigns every row its codes via the codegen'd
    * [[graft.functions.PqCodec]] kernel (no join fan-out), a
    * (subspace, code, dim) hash-aggregate sums the per-dim totals
    * (≤ subspaces·codebookSize·dsub = dims·codebookSize groups —
    * map-side combine reduces the exchange to one tiny buffer per
    * task), and the mean/requantize arithmetic runs on the collected
    * group totals driver-side with the exact same IEEE/HALF_UP ops
    * Spark's `round` performs. (At 100 TB you'd additionally train on
    * a deterministic md5-threshold sample of the corpus — the codebook
    * only needs ~100·k points per subspace to converge; the
    * full-corpus pass here keeps the oracle exactly mirrorable.)
    *
    * Output layout: `cb(s * k + c)` = the dsub-long subvector of code
    * c in subspace s (k may be smaller than `codebookSize` on corpora
    * with fewer vectors).
    */
  private def pqCodebook(prep: DataFrame, idCol: String, subspaces: Int,
      dsub: Int, codebookSize: Int, trainRounds: Int = 1): Array[Array[Long]] = {
    require(trainRounds >= 1, s"trainRounds must be >= 1, got $trainRounds")
    // a graft.Artifacts state value like Clustering.lloydCentroids: the
    // codebook is index state, trained once per (corpus plan, dials)
    // and reused by every caller (pq + ivfpq share one training here)
    graft.Artifacts.state(prep.sparkSession, "pq_codebook", prep, idCol,
        subspaces, dsub, codebookSize, trainRounds) {
      pqCodebookUncached(prep, idCol, subspaces, dsub, codebookSize,
        trainRounds)
    }
  }

  /** Memoized md5-draw coarse centroids for the UNTRAINED IVF paths —
    * (cent_id, qcent, n2cent, cidx), cidx dense in cent_id order. The
    * same bounded-driver-state discipline as [[Clustering
    * .lloydCentroids]]: the draw is index state (nCentroids × dims
    * longs), selected once per (session, corpus plan, n) and rebuilt
    * as a LocalRelation per call — without the memo every ivf/ivf_mp
    * execution re-ran the corpus-wide TakeOrdered + the cidx window as
    * its own plan subtree (round 18: 2 extra stages per ladder arm at
    * bench SF, pure scheduler latency).
    */
  private def md5CentroidRows(prep: DataFrame, idCol: String,
      nCentroids: Int): Array[(Long, Array[Long], Long)] = {
    // sorted by cent_id — position IS the dense cidx label the old
    // row_number window assigned
    graft.Artifacts.state(prep.sparkSession, "md5_centroids", prep, idCol,
        nCentroids) {
      prep
        .orderBy(md5(concat(lit("centroid:"), col(idCol).cast("string"))),
          col(idCol))
        .limit(nCentroids)
        .select(col(idCol).cast("long").as("cent_id"), col("q"), col("n2"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
        .sortBy(_._1)
    }
  }

  /** [[ivfPqTopK]] against a PERSISTED index — the full lifecycle the
    * composed query path skips: the (id, cell, codes) table writes
    * once, BUCKETED AND SORTED BY CELL, and each query batch then
    * reads ONLY its probed cells' buckets (the `cell IN (…)` literal
    * prunes at the file level — `SelectedBucketsCount` in the scan,
    * asserted by PartitioningSpec). This is the claim "at 100 TB the
    * static side is the cell-bucketed code table" made physical:
    * index build pays one shuffle at write time; a query batch
    * probing p/nCells of the cells reads ~p/nCells of the index
    * files, forever, with no exchange on the index side (the query
    * frame broadcasts).
    *
    * Results are row-for-row [[ivfPqTopK]]'s (same trained router,
    * same codebook — both memoized — same ADC and tie order).
    * The probed-cell literal COLLECTS ≤ nCentroids cell ids — bounded
    * driver state, same class as the codebook itself.
    */
  def ivfPqBucketedTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, embCol: String, k: Int,
      nCentroids: Int = 16, probes: Int = 12, trainRounds: Int = 2,
      subspaces: Int = 8, dims: Int = 64, codebookSize: Int = 16,
      pqTrainRounds: Int = 1, table: String = "graft_ann_index",
      buckets: Int = 0): DataFrame = {
    val built = annIndexBuild(corpus, idCol, embCol, nCentroids,
      trainRounds, subspaces, dims, codebookSize, pqTrainRounds, table,
      buckets)
    annIndexProbe(queries, built, idCol, embCol, k, probes)
  }

  /** The trained driver-side state of a persisted ANN index: the
    * coarse router (cell ids/centroids/norms) and the PQ codebook,
    * plus the dials the probe side must reuse. A few KB — the same
    * class of bounded state as the codebook memo.
    */
  case class AnnIndex(table: String, cellIds: Array[Long],
      cellVecs: Array[Array[Long]], cellN2: Array[Long],
      codebook: Array[Array[Long]], subspaces: Int, dsub: Int)

  /** BUILD half of [[ivfPqBucketedTopK]]: trains the coarse router +
    * codebook and writes the (id, cell, codes) table bucketed/sorted
    * by cell. Pays one corpus shuffle, ONCE; at 100 TB this is the
    * amortized index-construction cost, separate from the per-batch
    * probe (the number that prices steady-state serving — see
    * [[annIndexProbe]]). Returns the driver-side index state the
    * probe needs.
    */
  def annIndexBuild(
      corpus: DataFrame, idCol: String, embCol: String,
      nCentroids: Int = 16, trainRounds: Int = 2,
      subspaces: Int = 8, dims: Int = 64, codebookSize: Int = 16,
      pqTrainRounds: Int = 1, table: String = "graft_ann_index",
      buckets: Int = 0): AnnIndex = {
    require(dims % subspaces == 0, s"dims=$dims not divisible by subspaces=$subspaces")
    val dsub = dims / subspaces
    val spark = corpus.sparkSession
    // buckets = 0 → derive: the Buckets dial over the corpus, CAPPED at
    // nCentroids — the table is bucketed by CELL, so counts past the
    // cell count buy nothing (cell-pruning reads whole buckets). The
    // real scale lever is nCentroids itself (the √n rule); the dial
    // just keeps the file layout tracking it. 16 at test SF —
    // layout unchanged.
    val nBuckets =
      if (buckets > 0) buckets
      else math.min(nCentroids, Buckets.artifact(corpus, floor = 16))
    val cents = Clustering
      .lloydCentroids(corpus, idCol, embCol, nCentroids, trainRounds)
      .select(col("cluster").cast("long"), col("cq"), col("cn2"))
      .collect().sortBy(_.getLong(0))
    val (cellIds, cellVecs, cellN2) = (cents.map(_.getLong(0)),
      cents.map(_.getSeq[Long](1).toArray), cents.map(_.getLong(2)))
    val cb = pqCodebook(prepared(corpus, idCol, embCol), idCol, subspaces,
      dsub, codebookSize, pqTrainRounds)

    // build + persist: one row per vector, bucketed/sorted by cell
    Partitioning.dropTable(spark, table)
    Partitioning.writeBucketed(
      prepared(corpus, idCol, embCol)
        .withColumn("cell", element_at(graft.functions.IvfRoute
          .ivf_probe_cells(col("q"), cellIds, cellVecs, cellN2, 1), 1))
        .select(col(idCol), col("cell"),
          PqCodec.pq_codes(col("q"), cb, subspaces, dsub).as("codes")),
      table, "cell", nBuckets)
    AnnIndex(table, cellIds, cellVecs, cellN2, cb, subspaces, dsub)
  }

  /** PROBE half of [[ivfPqBucketedTopK]]: a query batch against an
    * ALREADY-BUILT index — the steady-state serving path. The batch's
    * probed cells (≤ nCentroids, collected like the codebook) become
    * the bucket-pruning `cell IN (…)` literal, so the scan reads only
    * the probed buckets (`SelectedBucketsCount`, PartitioningSpec) and
    * the query frame broadcasts: no exchange on the index side, ever.
    */
  def annIndexProbe(queries: DataFrame, idx: AnnIndex,
      idCol: String, embCol: String, k: Int, probes: Int): DataFrame = {
    val spark = queries.sparkSession
    val index = spark.table(idx.table)
    val qs = prepared(queries, idCol, embCol)
      .select(col(idCol).as("query_id"),
        PqCodec.pq_lut(col("q"), idx.codebook, idx.subspaces, idx.dsub)
          .as("_luts"),
        explode(graft.functions.IvfRoute
          .ivf_probe_cells(col("q"), idx.cellIds, idx.cellVecs,
            idx.cellN2, probes))
          .as("cell"))
    val probedCells = qs.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val scored = index
      .where(col("cell").isin(probedCells: _*))
      .join(broadcast(qs), index("cell") === qs("cell")
        && col("query_id") =!= col(idCol))
      .withColumn("adc_dist", PqCodec.pq_adc(col("codes"), col("_luts")))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore
        .top_k_by(-col("adc_dist").cast("double"), col(idCol).cast("long"), k)
        .as("topk"))
    rankRows(scored, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        (-col("cosine")).cast("long").as("adc_dist"))
  }

  /** Johnson-Lindenstrauss random projection to `outDims` dimensions
    * with the DETERMINISTIC ±1 matrix of [[planeSign]] (row j of the
    * projection = plane j's sign vector — the same public md5 formula
    * the LSH bucketer uses, so any engine regenerates the identical
    * matrix from nothing). Each output coordinate is one exact integer
    * dot of the quantized input against a constant sign literal —
    * `outDims` codegen'd [[graft.functions.LongArrayDot]] columns, a
    * pure narrow map (zero shuffle at any scale). JL distortion is the
    * textbook bound; at 64→16 dims this is the cheap pre-filter in
    * front of exact rescoring, and the integer output feeds every
    * downstream operator that accepts quantized vectors.
    *
    * Output: (id, proj: array<bigint>[outDims], pnorm2) — pnorm2 the
    * exact squared norm of the projection (cosine/L2 in the projected
    * space without re-deriving it).
    */
  def randomProjection(df: DataFrame, idCol: String, embCol: String,
      outDims: Int, dims: Int = 64): DataFrame = {
    require(outDims >= 1 && outDims <= 256,
      s"outDims in [1,256], got $outDims")
    val prep = prepared(df, idCol, embCol)
    val coords = (0 until outDims).map { j =>
      val signs = typedLit((0 until dims).map(i => planeSign(j, i).toLong))
      graft.functions.LongArrayDot.long_dot(col("q"), signs)
    }
    prep.select(col(idCol), array(coords: _*).as("proj"))
      .withColumn("pnorm2", Dedup.squaredNorm(col("proj")))
  }

  /** Public handle on the (memoized) trained codebook — for callers
    * that run the PQ kernels OUTSIDE a top-k query, e.g. the streaming
    * index-ingest path ([[graft.streaming.StreamingPipeline
    * .pqIngestStream]]). Same cache as [[pqTopK]]/[[ivfPqTopK]]: a
    * corpus/dial pair trains exactly once per session.
    */
  def pqCodebookFor(corpus: DataFrame, idCol: String, embCol: String,
      subspaces: Int, dims: Int, codebookSize: Int,
      trainRounds: Int): Array[Array[Long]] = {
    require(dims % subspaces == 0,
      s"dims=$dims not divisible by subspaces=$subspaces")
    pqCodebook(prepared(corpus, idCol, embCol), idCol, subspaces,
      dims / subspaces, codebookSize, trainRounds)
  }

  private def pqCodebookUncached(prep: DataFrame, idCol: String,
      subspaces: Int, dsub: Int, codebookSize: Int,
      trainRounds: Int): Array[Array[Long]] = {
    val seeds = prep
      .orderBy(md5(concat(lit("pq:"), col(idCol).cast("string"))), col(idCol))
      .limit(codebookSize)
      .select(col(idCol).cast("long").as("cent_id"), col("q"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1) // cidx labels codes in id order among the chosen
    val k = seeds.length
    var cb = Array.tabulate(subspaces * k) { idx =>
      java.util.Arrays.copyOfRange(
        seeds(idx % k)._2, (idx / k) * dsub, (idx / k + 1) * dsub)
    }
    var r = 1
    while (r < trainRounds) {
      val totals = prep
        .withColumn("_codes",
          PqCodec.pq_codes(col("q"), cb, subspaces, dsub))
        .select(col("_codes"), posexplode(col("q")).as(Seq("_d64", "_qx")))
        .select(col("_d64").divide(lit(dsub)).cast("int").as("s"),
          element_at(col("_codes"),
            col("_d64").divide(lit(dsub)).cast("int") + 1).as("cidx"),
          (col("_d64") % dsub).as("dim"), col("_qx"))
        .groupBy("s", "cidx", "dim")
        .agg(count(lit(1)).as("n_vecs"), sum(col("_qx")).as("qsum"))
        .collect()
      // requantized mean, Clustering.lloydUpdate's exact arithmetic:
      // round(round(Σq/(n·10⁴), 6)·10⁴) with Spark Round's
      // BigDecimal.valueOf + HALF_UP semantics. Cells with no
      // assigned vectors receive no totals rows and keep their
      // previous centroid (the SQL mirror's LEFT JOIN + coalesce).
      val next = cb.map(_.clone())
      totals.foreach { row =>
        val (s, cidx, dim) = (row.getInt(0), row.getInt(1), row.getInt(2))
        val mean = row.getLong(4).toDouble / (row.getLong(3) * 10000L)
        val r6 = java.math.BigDecimal.valueOf(mean)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        next(s * k + cidx)(dim) = java.math.BigDecimal.valueOf(r6 * 10000.0)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      }
      cb = next
      r += 1
    }
    cb
  }

  /** IVF + PQ composed — the production FAISS shape: queries route
    * through the Lloyd-TRAINED coarse quantizer ([[ivfTrainedTopK]]'s
    * router) and ADC-score ONLY the probed cells' PQ codes
    * ([[pqTopK]]'s scorer). Each lever covers the other's weakness:
    * flat PQ still scans every code per query (a full-corpus pass at
    * 100 TB, however narrow the rows); IVF alone still reads original
    * vectors in the probed cells. Composed, the per-query work is
    * `probes/nCells` of the corpus × `subspaces` bytes per row.
    *
    * Shape: a broadcast-assign argmin gives every corpus vector its
    * cell, and the same projection maps it to its `subspaces` codes
    * with the driver-side codebook kernel ([[graft.functions.PqCodec]]
    * — no join fan-out); the query side fans out ×probes with its
    * `pq_lut` tables attached; scoring is a broadcast-hash join ON THE
    * CELL KEY over the (cell, codes) table + `pq_adc` lookups + the
    * bounded-heap top-k. The corpus crosses one exchange (the cell
    * argmin's aggregate), in narrow rows.
    *
    * Determinism: trained cells, code argmins, ADC sums and ranking
    * ties are all exact integer arithmetic — identical to the
    * unrolled SQL oracle's.
    */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, embCol: String, k: Int,
      nCentroids: Int = 16, probes: Int = 12, trainRounds: Int = 2,
      subspaces: Int = 8, dims: Int = 64, codebookSize: Int = 16,
      pqTrainRounds: Int = 1): DataFrame = {
    require(dims % subspaces == 0, s"dims=$dims not divisible by subspaces=$subspaces")
    require(probes >= 1 && probes <= nCentroids,
      s"probes must be in [1, $nCentroids], got $probes")
    require(codebookSize >= 2 && codebookSize <= 256,
      s"codebookSize in [2,256], got $codebookSize")
    val dsub = dims / subspaces
    val mult = 1L << 20
    import graft.functions.LongArrayDot.long_dot

    // trained coarse quantizer (tiny: nCentroids × dims), driver-held —
    // routing is the map-only round-18 kernel shape of [[ivfTopK]]
    val rows = Clustering
      .lloydCentroidRows(corpus, idCol, embCol, nCentroids, trainRounds)
    val cells = rows.map(_._1)
    val vecs = rows.map(_._2)
    val n2s = rows.map(_._3)

    val prep = prepared(corpus, idCol, embCol)
    val cb = pqCodebook(prep, idCol, subspaces, dsub, codebookSize,
      pqTrainRounds)

    // corpus → its nearest cell (map-only packed argmin) + its codes
    // (driver-codebook kernel, same projection — no exchange at all)
    val codes = prep
      .withColumn("_best", graft.functions.IvfRoute
        .ivf_nearest_packed(col("q"), cells, vecs, n2s))
      .select(col(idCol), (col("_best") % mult).as("cell"),
        PqCodec.pq_codes(col("q"), cb, subspaces, dsub).as("_codes"))

    // queries: `probes` nearest trained cells each, LUTs attached —
    // |Q|·probes rows, broadcast
    val qprep = prepared(queries, idCol, embCol)
    val qprobe = qprep
      .select(col(idCol).as("query_id"),
        explode(graft.functions.IvfRoute.ivf_probe_cells(
          col("q"), cells, vecs, n2s, math.min(probes, cells.length)))
          .as("cell"))
      .select(col("cell"), col("query_id"))
    val luts = qprep.select(col(idCol).as("query_id"),
      PqCodec.pq_lut(col("q"), cb, subspaces, dsub).as("_luts"))
    val qcells = qprobe.join(luts, "query_id")

    // scoring: broadcast-hash join ON cell — only probed cells' codes
    // are touched (scored rows ≈ |Q| · probes/nCells · N, vs |Q|·N
    // for the flat PQ scan)
    val scored = codes
      .join(broadcast(qcells),
        codes("cell") === qcells("cell") && col("query_id") =!= col(idCol))
      .withColumn("adc_dist", PqCodec.pq_adc(col("_codes"), col("_luts")))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore
        .top_k_by(-col("adc_dist").cast("double"), col(idCol).cast("long"), k)
        .as("topk"))
    rankRows(scored, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        (-col("cosine")).cast("long").as("adc_dist"))
  }
}
