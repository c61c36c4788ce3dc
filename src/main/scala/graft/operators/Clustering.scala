package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.LongArrayDot

/** Distributed k-means over an embedding column — the clustering
  * primitive behind semantic dedup, IVF index builds, and
  * cluster-balanced corpus sampling.
  *
  * Shape at 100 TB: centroids are TINY (k × dims); vectors are the
  * 100 TB. So every step keeps the corpus side narrow and streaming:
  * assignment is a MAP-ONLY pass — the k×dims centroid state lives on
  * the driver (the bounded-index-state discipline of
  * [[Similarity.ivfPqBucketedTopK]]'s router and [[kCenterCoreset]])
  * and rides into the scan stage inside the codegen'd
  * [[graft.functions.IvfRoute.ivf_nearest_packed]] kernel, so no
  * corpus row is fanned out or shuffled to be assigned (round 18; the
  * previous broadcast-crossJoin form paid a corpus-sized groupBy
  * exchange to collapse its own k-fold fan-out). The Lloyd centroid
  * update is a posexplode + hash-aggregate whose shuffle carries one
  * row per (cluster, dim) — never per vector.
  *
  * All geometry runs on quantized integers (round(x·10⁴), exact in any
  * engine — see [[Dedup.quantize]]) with the codegen'd
  * [[graft.functions.LongArrayDot]] dot product, so distances are exact
  * longs and argmin ties break deterministically (min over
  * struct(dist, cluster) is a total order).
  *
  * Seeding: the canonical k-means++ draw is sequential and
  * data-order-sensitive; at this scale the reproducible equivalent is a
  * deterministic "random" draw — the k vectors whose md5(salt:id) sort
  * first (same device as [[Sampling]] membership). Pass a different
  * salt for a different draw.
  */
object Clustering {

  /** Quantized corpus projection: (id, q, n2). */
  private def prep(df: DataFrame, idCol: String, embCol: String): DataFrame =
    df.select(col(idCol), Dedup.quantize(col(embCol)).as("q"))
      .withColumn("n2", Dedup.squaredNorm(col("q")))

  /** Deterministic seed centroids, labeled 0..k-1 in draw order:
    * (cluster, cq, cn2). The window ranks only the k surviving rows
    * (TakeOrderedAndProject pushes the limit into the sort), so the
    * single-partition window is over k rows, not the corpus.
    */
  def seedCentroids(df: DataFrame, idCol: String, embCol: String,
      k: Int, salt: String = "kmeans"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(k < (1 << 20),
      s"k must fit the packed-long argmin's 20 cluster bits, got $k")
    val mk = md5(concat(lit(salt), lit(":"), col(idCol).cast("string")))
    prep(df, idCol, embCol)
      .withColumn("_mk", mk)
      .orderBy(col("_mk"), col(idCol))
      .limit(k)
      .withColumn("cluster",
        (row_number().over(Window.orderBy(col("_mk"), col(idCol))) - 1)
          .cast("int"))
      .select(col("cluster"), col("q").as("cq"), col("n2").as("cn2"))
  }

  /** Nearest-centroid assignment: (id, cluster, dist2, q). dist2 is the
    * EXACT squared L2 distance between quantized vectors
    * (‖q‖² + ‖c‖² − 2·q·c, all long arithmetic). Broadcast fan-out,
    * map-side partial argmin — one row per vector reaches the exchange.
    *
    * The argmin is a min over `dist2·2²⁰ + cluster` (one LONG), not over
    * `struct(dist2, cluster)`: a struct min only plans as SortAggregate
    * (struct buffers can't hash-aggregate), which inserts a
    * per-partition sort of the k-fold fan-out; the packed long keeps the
    * whole argmin inside codegen'd HashAggregate. Same total order —
    * dist2 dominates, cluster breaks ties low. Bounds: cluster < 2²⁰
    * and dist2 < 2⁴³ (unit-scale embeddings quantized at 1e4 give
    * dist2 ≤ dims·(2·10⁴)² ≈ 2³⁵ at 64 dims — far inside).
    */
  def assign(df: DataFrame, idCol: String, embCol: String,
      centroids: DataFrame): DataFrame =
    assignPrepped(prep(df, idCol, embCol), idCol, collectCents(centroids))

  /** Collect a (cluster, cq, cn2) centroid table to the driver —
    * k × dims rows by contract, the SAME bytes the old broadcast-build
    * collected to the driver before shipping (guide §3.1: a broadcast
    * is a driver collect plus an executor-side rebuild), so the memory
    * posture is unchanged; what disappears downstream is the k-fold
    * row fan-out and the corpus-sized argmin exchange. The packed-long
    * bounds the old plan asserted per-row on the centroid side are
    * enforced here, eagerly and with the same messages.
    */
  private def collectCents(centroids: DataFrame): Array[(Long, Array[Long], Long)] = {
    val mult = 1L << 20
    val rows = centroids.select(col("cluster").cast("long"), col("cq"), col("cn2"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
      .sortBy(_._1)
    rows.foreach { case (c, _, n2) =>
      require(c >= 0L && c < mult,
        s"centroid cluster id overflows the 20 packed bits, got $c")
      require(n2 >= 0L && n2 < (1L << 41),
        s"centroid squared norm too large for the packed-long argmin, got $n2")
    }
    rows
  }

  /** One Lloyd update from an assignment: per-cluster per-dimension
    * quantized mean — (cluster, dim, n_vecs, centroid). Sums run on the
    * exact quantized integers; the one divide happens at the end (the
    * same device as the `embedding_centroids` prototype op). Shuffle
    * width: one row per (cluster, dim).
    */
  def lloydUpdate(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cluster"), posexplode(col("q")).as(Seq("dim", "qx")))
      .groupBy("cluster", "dim")
      .agg(count(lit(1)).as("n_vecs"), sum(col("qx")).as("qsum"))
      .select(col("cluster"), col("dim"), col("n_vecs"),
        round(col("qsum").cast("double") / (col("n_vecs") * 10000), 6)
          .as("centroid"))

  /** Full Lloyd iteration loop: seed → (assign → update)ⁿ → final
    * assignment. Each round's centroid table is k×dims rows —
    * `localCheckpoint`ed so the lineage stays O(1) across rounds
    * instead of growing a re-derivation chain over the 100 TB corpus
    * (the same device as connectedComponents' label frontier; the
    * corpus itself is never materialized). Empty cells drop out, as in
    * standard Lloyd. Means are re-quantized (round(mean·10⁴)) between
    * rounds, so every round's geometry stays exact-integer and the
    * whole loop is reproducible at any parallelism.
    */
  def lloydIterate(df: DataFrame, idCol: String, embCol: String,
      k: Int, iterations: Int, salt: String = "kmeans"): DataFrame = {
    val data = prep(df, idCol, embCol)
    assignPrepped(data, idCol,
      lloydCentroidRowsPrepped(data, df, idCol, embCol, k, iterations, salt))
  }

  /** The trained centroid table after `iterations − 1` Lloyd updates:
    * (cluster, cq, cn2) in the exact quantized geometry — the coarse
    * quantizer a trained IVF index probes
    * ([[Similarity.ivfTrainedTopK]]). Factored out of [[lloydIterate]]
    * so index construction and assignment share one code path.
    *
    * A [[graft.Artifacts]] state value per (input plan, params): an
    * ANN index's coarse quantizer is built once and probed by every
    * query, so callers that share a corpus (the recall ladder's
    * ivf_train and ivfpq arms, repeated bench iterations) must not
    * re-run the training jobs. The value is the COLLECTED k×dims
    * centroid rows — a few KB of plain driver memory, rebuilt into a
    * LocalRelation per call — never a persisted RDD, because the
    * bench/profile harnesses unpersist stray RDDs between runs and
    * would invalidate a cached checkpoint out from under the registry.
    */
  def lloydCentroids(df: DataFrame, idCol: String, embCol: String,
      k: Int, iterations: Int, salt: String = "kmeans"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    lloydCentroidRows(df, idCol, embCol, k, iterations, salt)
      .map { case (c, q, n2) => (c.toInt, q, n2) }
      .toSeq.toDF("cluster", "cq", "cn2")
  }

  /** The same memoized trained-centroid state as [[lloydCentroids]],
    * handed out as the raw driver arrays the map-only routing kernels
    * ([[graft.functions.IvfRoute]]) consume — (cluster, cq, cn2),
    * sorted by cluster id.
    */
  private[graft] def lloydCentroidRows(df: DataFrame, idCol: String,
      embCol: String, k: Int, iterations: Int,
      salt: String = "kmeans"): Array[(Long, Array[Long], Long)] =
    graft.Artifacts.state(df.sparkSession, "centroids", df, idCol, embCol, k,
        iterations, salt) {
      lloydCentroidRowsPrepped(prep(df, idCol, embCol), df, idCol, embCol,
        k, iterations, salt)
    }

  /** Pre-quantized assignment against DRIVER-HELD centroids: one
    * map-only projection through the codegen'd
    * [[graft.functions.IvfRoute.ivf_nearest_packed]] kernel — same
    * packed-long value (dist²·2²⁰ + cluster, min = argmin with ties to
    * the smaller cluster) the old crossJoin → groupBy(min) computed,
    * with no row fan-out and NO corpus exchange (round 18, guide §2.4:
    * the groupBy(id) argmin shuffled one q-array-carrying row per
    * corpus vector purely to deduplicate the broadcast fan-out). The
    * kernel loops over the k centroids in compiled code, so k is not
    * bounded by expression-tree size; the corpus-side ‖q‖² overflow
    * check fails loudly inside the kernel exactly as the old
    * assert-column did.
    */
  private def assignPrepped(data: DataFrame, idCol: String,
      cents: Array[(Long, Array[Long], Long)]): DataFrame = {
    val mult = 1L << 20
    data
      .withColumn("_best", graft.functions.IvfRoute.ivf_nearest_packed(
        col("q"), cents.map(_._1), cents.map(_._2), cents.map(_._3)))
      .select(col(idCol),
        (col("_best") % mult).cast("int").as("cluster"),
        // integral DIV, not `/`: Divide on longs returns DOUBLE, and
        // packed values reach 2⁵⁵ — past the 53-bit double mantissa
        expr(s"_best DIV ${mult}L").as("dist2"), col("q"))
  }

  /** Re-quantized (cluster, cq, cn2) centroid table from a
    * [[lloydUpdate]] output — the shared inter-round step of every
    * Lloyd loop here.
    */
  private def requantized(update: DataFrame): DataFrame =
    update
      .groupBy("cluster")
      .agg(collect_list(struct(col("dim"), col("centroid"))).as("_dc"))
      .select(col("cluster"),
        transform(array_sort(col("_dc")), x =>
          round(x.getField("centroid") * 10000).cast("long")).as("cq"))
      .withColumn("cn2", Dedup.squaredNorm(col("cq")))

  /** The Lloyd training loop over DRIVER-HELD round state: each round
    * collects its k×dims re-quantized means instead of checkpointing a
    * k-row frame — the round's assignment pass is then the map-only
    * [[assignPrepped]] kernel (no fan-out, no corpus exchange), and
    * the collect replaces the localCheckpoint job one-for-one (the
    * round state crossed to the driver either way: the old plan's
    * broadcast build collected it too).
    */
  private def lloydCentroidRowsPrepped(data: DataFrame, df: DataFrame,
      idCol: String, embCol: String, k: Int, iterations: Int,
      salt: String): Array[(Long, Array[Long], Long)] = {
    require(iterations >= 1, s"need at least one iteration, got $iterations")
    require(k < (1 << 20),
      s"k must fit the packed-long argmin's 20 cluster bits, got $k")
    var cents = collectCents(seedCentroids(df, idCol, embCol, k, salt))
    var i = 0
    while (i < iterations - 1) {
      cents = collectCents(requantized(lloydUpdate(
        assignPrepped(data, idCol, cents))))
      i += 1
    }
    cents
  }

  /** Per-round within-cluster SSE over `rounds` Lloyd rounds: one row
    * per round — (round, n_vecs, sse), exact integer sums. The rounds
    * SHARE one seed draw, one quantized-corpus cache, and each round's
    * assignment (round t's assignment both yields SSEₜ and feeds the
    * round-t Lloyd update), where the previous formulation re-ran the
    * whole seed → assign ladder per round (round 18: two seed
    * TakeOrdered jobs and a duplicate full assignment pass for
    * rounds = 2). Values are bit-identical to `lloydIterate(…, round)`
    * aggregated per round: same seed, same argmin, same re-quantize.
    */
  def lloydSse(df: DataFrame, idCol: String, embCol: String,
      k: Int, rounds: Int, salt: String = "kmeans"): DataFrame = {
    require(rounds >= 1, s"need at least one round, got $rounds")
    val data = prep(df, idCol, embCol).persist()
    var cents = collectCents(seedCentroids(df, idCol, embCol, k, salt))
    var out: DataFrame = null
    var r = 1
    while (r <= rounds) {
      val a = assignPrepped(data, idCol, cents).persist()
      // 1-row eager checkpoint: materializes the cached assignment the
      // update below re-reads, and frees it for release next round
      val sse = a.agg(count(lit(1)).as("n_vecs"), sum(col("dist2")).as("sse"))
        .select(lit(r).cast("int").as("round"), col("n_vecs"), col("sse"))
        .localCheckpoint()
      out = if (out == null) sse else out.unionByName(sse)
      if (r < rounds) cents = collectCents(requantized(lloydUpdate(a)))
      a.unpersist(blocking = false)
      r += 1
    }
    data.unpersist(blocking = false)
    out
  }

  /** Greedy k-center (farthest-point) coreset selection — the diversity
    * dial of training-data curation: pick the point farthest from the
    * already-chosen set, k times. The output is the classic 2-approx
    * cover: a maximally-spread subset plus the radius sequence (each
    * pick's distance at selection time, monotone non-increasing — the
    * k-center objective after each step).
    *
    * Execution: the chosen set never exceeds k rows, so each round is
    * ONE broadcast of the newest center + a map-only `least()` update
    * of the per-row min-distance column + a TakeOrdered(1) argmax — k
    * scans total, no shuffle of the corpus, O(1) driver state. That is
    * the scale-correct shape (the textbook sequential greedy is the
    * same k passes; nothing cheaper is exact). min-distances persist
    * between rounds with lineage cuts so round t costs one update, not
    * t replays.
    *
    * Determinism: seed = md5-lowest id (public-formula draw), all
    * distances exact integer L2² on the quantized domain, argmax ties
    * break to the smaller id; the seed row reports distance 0.
    *
    * If k exceeds the number of distinct vectors the greedy STOPS
    * EARLY (fewer than k rows returned) rather than emitting duplicate
    * centers — every point is already covered at radius 0.
    */
  def kCenterCoreset(df: DataFrame, idCol: String, embCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in [1,64], got $k")
    val data = prep(df, idCol, embCol).persist()
    def d2(q: Column, cq: Column, n2: Column, cn2: Column): Column =
      n2 + cn2 - lit(2L) * LongArrayDot.long_dot(q, cq)
    // the chosen set is <= k <= 64 rows -- EXACTLY the bounded driver
    // state of the Lloyd-centroid contract, so it lives on the driver
    // (round 17): each round is ONE argmax collect (a 1-row
    // TakeOrdered) + ONE map-only least() update folding the new
    // center in as array LITERALS. The previous formulation carried
    // the same 1-row state through localCheckpoint frames + per-round
    // broadcast crossJoins -- ~5 scheduler jobs per round for state
    // the driver already held (sf0.1: 42 jobs, wall 2.25 s, par_eff
    // 0.15). Selection order, tie-breaks and the exact integer
    // distances are unchanged, so the picked rows are identical.
    val seedRow = data
      .orderBy(md5(concat(lit("kcenter:"), col(idCol).cast("string"))), col(idCol))
      .limit(1)
      .select(col(idCol).cast("long"), col("q"), col("n2"))
      .collect()(0)
    // (rank, id, dist) plus the center's quantized vector + norm
    val centers = scala.collection.mutable.ArrayBuffer(
      (1, seedRow.getLong(0), 0L, seedRow.getSeq[Long](1).toArray, seedRow.getLong(2)))
    def fold(base: DataFrame, cq: Array[Long], cn2: Long): DataFrame =
      base.select(col(idCol), col("q"), col("n2"),
        least(col("mind"), d2(col("q"), typedLit(cq), col("n2"), lit(cn2)))
          .as("mind"))
    var mind = data
      .select(col(idCol), col("q"), col("n2"),
        d2(col("q"), typedLit(centers(0)._4), col("n2"), lit(centers(0)._5))
          .as("mind"))
      .localCheckpoint()
    var t = 2
    var exhausted = false
    while (t <= k && !exhausted) {
      // mind > 0 argmax: once every remaining point is at distance 0
      // (k exceeds the number of DISTINCT vectors), there is no new
      // coverage to add -- stop early instead of silently re-emitting
      // an already-chosen center. The unrolled oracle mirrors the
      // same predicate, so both engines truncate identically.
      val next = mind.where(col("mind") > 0)
        .orderBy(col("mind").desc, col(idCol)).limit(1)
        .select(col(idCol).cast("long"), col("q"), col("n2"), col("mind"))
        .collect()
      if (next.isEmpty) { exhausted = true }
      else {
        val r = next(0)
        val (cq, cn2) = (r.getSeq[Long](1).toArray, r.getLong(2))
        centers += ((t, r.getLong(0), r.getLong(3), cq, cn2))
        val prev = mind
        mind = fold(mind, cq, cn2).localCheckpoint()
        prev.unpersist()
        t += 1
      }
    }
    data.unpersist()
    val session = df.sparkSession
    import session.implicits._
    centers.toSeq.map(c => (c._1, c._2, c._3))
      .toDF("center_rank", "center_id", "dist_chosen")
      .select(col("center_rank"),
        col("center_id").cast(df.schema(idCol).dataType).as("center_id"),
        col("dist_chosen"))
  }
}
