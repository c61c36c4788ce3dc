package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.operators.Clustering

/** Driver-contract queries for distributed k-means over `embeddings`:
  * one deterministic-seed assignment pass and one Lloyd centroid
  * update. Both run on exact quantized-integer geometry, so the DuckDB
  * oracle reproduces every distance and tie-break bit-for-bit.
  */
object ClusterQueries {

  private val K = 8

  private def assigned(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.distributed(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    Clustering.assign(e, "vec_id", "embedding",
      Clustering.seedCentroids(e, "vec_id", "embedding", K))
  }

  /** Per-vector nearest seed centroid + exact squared distance. */
  def kmeansAssign(spark: SparkSession, sfDir: String): DataFrame =
    assigned(spark, sfDir).select("vec_id", "cluster", "dist2")

  /** One Lloyd update: per-cluster per-dim quantized mean. */
  def kmeansUpdate(spark: SparkSession, sfDir: String): DataFrame =
    Clustering.lloydUpdate(assigned(spark, sfDir))

  /** Two full Lloyd rounds (seed → assign → update → re-assign): the
    * ITERATED path under the oracle gate — every round's re-quantized
    * centroids and argmin reproduce bit-for-bit in SQL.
    */
  def kmeansAssign2(spark: SparkSession, sfDir: String): DataFrame =
    Clustering.lloydIterate(
      Tables.distributed(spark, sfDir, "embeddings")
        .select("vec_id", "embedding"),
      "vec_id", "embedding", k = K, iterations = 2)
      .select("vec_id", "cluster", "dist2")

  /** Within-cluster SSE per Lloyd round — the quality instrument for
    * seeding/iteration changes: exact integer sums of the quantized
    * squared distances, one row per round. Lloyd guarantees the global
    * SSE is non-increasing round over round (ClusteringSpec asserts it
    * on the pinned rounds; the oracle pins the exact values).
    */
  def kmeansSse(spark: SparkSession, sfDir: String): DataFrame =
    Clustering.lloydSse(
      Tables.distributed(spark, sfDir, "embeddings")
        .select("vec_id", "embedding"),
      "vec_id", "embedding", K, rounds = 2)

  /** Cluster-balanced downsample — the "diverse subset" primitive
    * (dedup-adjacent): at most 40 vectors per k-means cell, chosen by
    * the deterministic md5 order. Pure composition of the library's own
    * operators (assign ∘ capPerGroup).
    */
  def clusterBalancedSample(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Sampling.capPerGroup(
      assigned(spark, sfDir).select("vec_id", "cluster"),
      groupCol = "cluster", idCol = "vec_id", cap = 40)

  /** Greedy farthest-point coreset (8 centers) — see
    * [[Clustering.kCenterCoreset]] for the k-scan execution shape.
    */
  def kcenterCoreset(spark: SparkSession, sfDir: String): DataFrame =
    Clustering.kCenterCoreset(
      Tables.distributed(spark, sfDir, "embeddings")
        .select("vec_id", "embedding"),
      "vec_id", "embedding", k = K)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kmeans_assign" -> kmeansAssign,
    "kmeans_update" -> kmeansUpdate,
    "kmeans_assign2" -> kmeansAssign2,
    "kmeans_sse" -> kmeansSse,
    "kcenter_coreset" -> kcenterCoreset,
    "cluster_balanced_sample" -> clusterBalancedSample
  )

  // -- oracle SQL ------------------------------------------------------

  /** Quantize → seed draw → exact integer distances → argmin; ends with
    * CTEs `q` (quantized vectors) and `a(vec_id, cluster, dist2)`.
    * `seedLimit` is the seed-count SQL expression: the kmeans demo
    * queries pin the constant `$K`; dedup_semantic passes the
    * √n-scaled scalar subquery (the rank filter is row-for-row the
    * old `ORDER BY mk, vec_id LIMIT k`).
    */
  private def assignCteFor(seedLimit: String): String =
    s"""WITH q AS (SELECT vec_id,
       |        list_transform(embedding,
       |          x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
       |      FROM embeddings),
       |n AS (SELECT vec_id, qv,
       |        CAST(list_dot_product(qv, qv) AS BIGINT) AS n2 FROM q),
       |seeds AS (SELECT vec_id, qv, n2, mk FROM (
       |            SELECT vec_id, qv, n2,
       |              md5('kmeans:' || CAST(vec_id AS VARCHAR)) AS mk,
       |              row_number() OVER (ORDER BY
       |                md5('kmeans:' || CAST(vec_id AS VARCHAR)), vec_id)
       |                AS _srn
       |            FROM n) s
       |          WHERE _srn <= $seedLimit),
       |c AS (SELECT CAST(row_number() OVER (ORDER BY mk, vec_id) - 1 AS INT)
       |          AS cluster,
       |        qv AS cv, n2 AS cn2 FROM seeds),
       |d AS (SELECT n.vec_id, c.cluster,
       |        n.n2 + c.cn2
       |          - 2 * CAST(list_dot_product(n.qv, c.cv) AS BIGINT) AS dist2
       |      FROM n CROSS JOIN c),
       |r AS (SELECT vec_id, cluster, dist2,
       |        row_number() OVER (PARTITION BY vec_id
       |          ORDER BY dist2, cluster) AS rn FROM d),
       |a AS (SELECT vec_id, cluster, CAST(dist2 AS BIGINT) AS dist2
       |      FROM r WHERE rn = 1)""".stripMargin

  private[queries] val assignCte: String = assignCteFor(s"$K")

  /** [[assignCte]] with the SemDeDup √n cluster-count dial:
    * k = greatest(8, ⌈√n⌉) computed from the corpus itself, mirroring
    * the engine's `dedup_semantic` registration. */
  private[queries] val assignCteSqrtK: String = assignCteFor(
    "(SELECT greatest(8, CAST(ceil(sqrt(CAST(count(*) AS DOUBLE)))" +
      " AS BIGINT)) FROM n)")

  /** Extends [[assignCte]] with the Lloyd round-2 chain, ending with
    * CTE `a2(vec_id, cluster, dist2)` — the re-assignment against the
    * re-quantized round-1 means. Shared by kmeans_assign2 / kmeans_sse.
    */
  private val assign2Cte: String =
    s"""$assignCte,
       |u AS (SELECT a.cluster, q.qv,
       |        unnest(generate_series(1, len(q.qv))) AS i
       |      FROM a JOIN q USING (vec_id)),
       |cm AS (SELECT cluster, i,
       |        CAST(round(round(CAST(sum(qv[i]) AS BIGINT)::DOUBLE
       |            / (count(*) * 10000), 6) * 10000) AS BIGINT) AS cqe
       |      FROM u GROUP BY cluster, i),
       |c2 AS (SELECT cluster, list(cqe ORDER BY i) AS cv FROM cm
       |       GROUP BY cluster),
       |c2n AS (SELECT cluster, cv,
       |        CAST(list_dot_product(cv, cv) AS BIGINT) AS cn2 FROM c2),
       |d2 AS (SELECT n.vec_id, c.cluster,
       |        n.n2 + c.cn2
       |          - 2 * CAST(list_dot_product(n.qv, c.cv) AS BIGINT) AS dist2
       |      FROM n CROSS JOIN c2n c),
       |r2 AS (SELECT vec_id, cluster, dist2,
       |        row_number() OVER (PARTITION BY vec_id
       |          ORDER BY dist2, cluster) AS rn FROM d2),
       |a2 AS (SELECT vec_id, cluster, CAST(dist2 AS BIGINT) AS dist2
       |       FROM r2 WHERE rn = 1)""".stripMargin

  /** The identical greedy unrolled as chained CTEs: cᵗ = the argmax of
    * the running min-distance mᵗ⁻¹, mᵗ = least(mᵗ⁻¹, d²-to-cᵗ). Exact
    * integers end to end; ties (mind DESC, vec_id) like the engine.
    */
  private def kcenterOracle(k: Int): String = {
    val base =
      """WITH q AS (SELECT vec_id,
        |        list_transform(embedding,
        |          x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        |      FROM embeddings),
        |n AS (SELECT vec_id, qv,
        |        CAST(list_dot_product(qv, qv) AS BIGINT) AS n2 FROM q),
        |c1 AS (SELECT vec_id AS center_id, qv AS cq, n2 AS cn2
        |       FROM n ORDER BY md5('kcenter:' || CAST(vec_id AS VARCHAR)), vec_id
        |       LIMIT 1),
        |m1 AS (SELECT v.vec_id, v.qv, v.n2,
        |         v.n2 + c.cn2 - 2 * CAST(list_dot_product(v.qv, c.cq) AS BIGINT)
        |           AS mind
        |       FROM n v CROSS JOIN c1 c)""".stripMargin
    val steps = (2 to k).map { t =>
      s"""c$t AS (SELECT vec_id AS center_id, qv AS cq, n2 AS cn2, mind
         |       FROM m${t - 1} WHERE mind > 0
         |       ORDER BY mind DESC, vec_id LIMIT 1),
         |m$t AS (SELECT m.vec_id, m.qv, m.n2,
         |         least(m.mind, m.n2 + c.cn2
         |           - 2 * CAST(list_dot_product(m.qv, c.cq) AS BIGINT)) AS mind
         |       FROM m${t - 1} m CROSS JOIN c$t c)""".stripMargin
    }
    val out = (s"SELECT CAST(1 AS INT) AS center_rank, center_id," +
      s" CAST(0 AS BIGINT) AS dist_chosen FROM c1") +:
      (2 to k).map(t => s"SELECT CAST($t AS INT), center_id," +
        s" CAST(mind AS BIGINT) FROM c$t")
    (base +: steps).mkString(",\n") + "\n" + out.mkString("\nUNION ALL\n")
  }

  val oracle: Map[String, String] = Map(
    "kcenter_coreset" -> kcenterOracle(K),
    "kmeans_assign" ->
      s"""$assignCte
         |SELECT vec_id, cluster, dist2 FROM a""".stripMargin,
    "kmeans_assign2" ->
      s"""$assign2Cte
         |SELECT vec_id, cluster, dist2 FROM a2""".stripMargin,
    "kmeans_sse" ->
      s"""$assign2Cte
         |SELECT CAST(1 AS INT) AS round, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(dist2) AS BIGINT) AS sse FROM a
         |UNION ALL
         |SELECT CAST(2 AS INT), CAST(count(*) AS BIGINT),
         |  CAST(sum(dist2) AS BIGINT) FROM a2""".stripMargin,
    "cluster_balanced_sample" ->
      s"""$assignCte
         |SELECT vec_id, cluster FROM (
         |  SELECT vec_id, cluster, row_number() OVER (PARTITION BY cluster
         |      ORDER BY md5('cap:' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |  FROM a) WHERE rn <= 40""".stripMargin,
    "kmeans_update" ->
      s"""$assignCte,
         |e AS (SELECT a.cluster, q.qv,
         |        unnest(generate_series(1, len(q.qv))) AS i
         |      FROM a JOIN q USING (vec_id))
         |SELECT cluster, CAST(i - 1 AS INT) AS dim,
         |  CAST(count(*) AS BIGINT) AS n_vecs,
         |  round(CAST(sum(qv[i]) AS BIGINT)::DOUBLE / (count(*) * 10000), 6)
         |    AS centroid
         |FROM e GROUP BY cluster, i""".stripMargin
  )
}
