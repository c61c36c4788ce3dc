package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Graph

/** Graph analytics over the customer↔supplier trade graph (an edge per
  * distinct (customer, supplier) pair appearing on some order, walked
  * undirected). The PageRank oracle is the SAME integer-scaled
  * recurrence unrolled as chained CTEs in DuckDB — every intermediate
  * is exact integer arithmetic, so the two engines agree bit-for-bit
  * on all ~1.6k ranks (see Graph.pagerank for why FP PageRank can't be
  * hash-verified).
  */
object GraphQueries {

  private val Iterations = 3
  private val Scale = 1000000000L
  private val Teleport = Scale / 20 * 3

  /** Edges ride a PACKED-LONG node id through the rank iterations:
    * customer k ↦ k, supplier k ↦ k + 2⁴⁰ (both key spaces < 2⁴⁰ far
    * past sf1000). Round 12 used struct(tinyint, long) — already ~25%
    * faster than string ids — but the sf10 profile showed the loop's
    * remaining cost is pure key CPU: every iteration hashes/compares
    * the cached 40M-row edge list's keys in the broadcast probe and
    * the contribution exchange, and a single long key halves that
    * constant again (plain long hashing, 8-byte rows, no struct
    * traversal). The 'c'/'s'-prefixed display name the oracle compares
    * against is rendered once, after the final iteration.
    */
  private val SuppBit = 1L << 40

  /** The distinct customer–supplier edge list as a PHYSICAL ARTIFACT,
    * built once per (session, sf dir) — the shingle-index discipline
    * applied to the graph family: six queries (pagerank, personalized
    * pagerank, bfs, kcore, assortativity, degree histogram) consume
    * this exact table, and each used to pay the orders⋈lineitem join +
    * corpus-sized distinct (~2 GB exchange at sf10) before its own
    * algorithm started.
    *
    * Round 17: the artifact is BUCKETED(src)+SORTED — the ShIdxBuckets
    * pattern — with BOTH directions materialized (the round-16 flat
    * half + union derived the directions exchange-free but destroyed
    * partitioning: union's output partitioning is unknown, so every
    * pagerank/ppr/bfs ITERATION re-exchanged the edge side — 2.18 GB/
    * query at sf10, the #1 ledger row). Bucketed by src, the scan
    * satisfies every src-keyed requirement downstream — the degree
    * window, each iteration's ranks⋈edges probe, kcore's decrement
    * aggregate — so per-iteration shuffle drops to the node-sized
    * ranks/frontier table. Storage doubles (both directions on disk);
    * that's the maintained-table trade at any scale: pay layout once,
    * join forever for free. Bucket count via the [[graft.operators
    * .Buckets]] dial (floor 32 — identical layout at test SF). A
    * [[graft.Artifacts]] layout.
    */
  private def edges(spark: SparkSession, sfDir: String): DataFrame = {
    val edgeLayout = graft.Artifacts.table(spark, "trade_edges", sfDir) { layout =>
      val o = Tables.orders(spark, sfDir)
      val l = Tables.lineitem(spark, sfDir)
      val half = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(
          col("o_custkey").as("src"),
          (col("l_suppkey") + SuppBit).as("dst"))
        .distinct()
      // dial on the LEAF scan (lineitem bounds the edge count above);
      // the joined plan's estimate is multiplicative garbage — see
      // Buckets.artifact
      val buckets = graft.operators.Buckets.artifact(l)
      // both directions materialized; the repartition uses the same
      // murmur3 pmod the bucket spec does, so each write task emits
      // exactly one bucket file (one file/bucket also hands readers
      // the sortBy order, which lets src-keyed sorts vanish too)
      half.union(half.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(buckets, col("src"))
        .write.mode("overwrite").format("parquet")
        .option("path", s"${layout.dir}/edges")
        .bucketBy(buckets, "src").sortBy("src")
        .saveAsTable(layout.name("edges"))
    }
    spark.table(edgeLayout.name("edges"))
  }

  /** The CO-PURCHASE edge list (distinct canonical u < v pairs of the
    * ≤4 lowest custkeys per part) as the round-16 session artifact —
    * the trade-edge discipline's third application: triangle_count and
    * graph_common_neighbors consume this IDENTICAL table and each used
    * to pay the orders⋈lineitem join + per-part top-4 aggregate +
    * pair explode (~the whole build, ≈2 GB exchange at sf10) before
    * its own algorithm started. The artifact stores the edges already
    * canonical+distinct, so the operators skip their canonicalize
    * exchange too (`assumeCanonical`). At 100 TB a co-purchase graph
    * is a maintained table, not a join you re-run per analysis. A
    * [[graft.Artifacts]] layout.
    */
  private[queries] def coPurchaseEdges(
      spark: SparkSession, sfDir: String): DataFrame = {
    val edgeLayout = graft.Artifacts.table(spark, "copurchase_edges", sfDir) { layout =>
      val o = Tables.orders(spark, sfDir)
      val l = Tables.lineitem(spark, sfDir)
      // collect_set folds the distinct into the per-part aggregate (one
      // keyed exchange, map-side combining); the ≤4-element sorted
      // array emits its C(4,2) ordered pairs MAP-SIDE (the
      // triangle-count device), and sorted-array order makes every
      // pair already canonical (u < v) before the final distinct.
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("l_partkey").as("part"), col("o_custkey").as("cust"))
        .groupBy("part")
        .agg(slice(sort_array(collect_set(col("cust"))), 1, 4).as("cs"))
        .select(col("cs"), posexplode(col("cs")))
        .select(col("col").as("u"),
          explode(slice(col("cs"), col("pos") + 2, size(col("cs")))).as("v"))
        .distinct()
        .write.mode("overwrite").parquet(s"${layout.dir}/edges")
    }
    spark.read.parquet(s"${edgeLayout.dir}/edges")
  }

  private def renderNode(node: org.apache.spark.sql.Column) =
    concat(when(node < SuppBit, lit("c")).otherwise(lit("s")),
      when(node < SuppBit, node).otherwise(node - SuppBit).cast("string"))

  def pagerank(spark: SparkSession, sfDir: String): DataFrame =
    // symmetricEdges: the artifact stores BOTH directions, so the
    // adjacency keys are the node universe (Graph.pagerank round 18)
    Graph.pagerank(edges(spark, sfDir), Iterations, Scale,
        symmetricEdges = true)
      .select(renderNode(col("node")).as("node"), col("rank"))

  /** The identical recurrence in portable SQL: `//` is DuckDB integer
    * division (Spark-side uses DIV); sums of BIGINT widen to HUGEINT in
    * DuckDB, exact either way, cast back at the end.
    */
  private def oracleSqlFor(iterations: Int): String = {
    val base =
      s"""WITH e0 AS (
         |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
         |    's' || CAST(l_suppkey AS VARCHAR) AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (SELECT src, dst FROM e0
         |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |pr0 AS (SELECT node, CAST($Scale AS BIGINT) AS rank FROM nodes)""".stripMargin
    val steps = (1 to iterations).map { i =>
      s"""pr$i AS (
         |  SELECT n.node, CAST($Teleport
         |      + (85 * COALESCE(c.contrib, 0)) // 100 AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.rank // d.deg) AS contrib
         |    FROM edges e
         |    JOIN pr${i - 1} p ON p.node = e.src
         |    JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) c ON n.node = c.node)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"\nSELECT node, rank FROM pr$iterations"
  }

  /** Triangle counting over the customer co-purchase graph: customers
    * are adjacent when they bought the same part. The incidence list is
    * capped at the 4 LOWEST custkeys per part — a deterministic hub
    * guard (a part bought by 100k customers would otherwise emit 5e9
    * edges; the cap bounds every part's contribution at 6 while keeping
    * the graph connected through popular parts), the same
    * bounded-fanout posture as the LSH bucket caps in Dedup. The
    * triangle algorithm itself needs no cap: Graph.triangles orients
    * edges by degree, which bounds wedge fan-out at O(√m) per node.
    * The edge list comes from the shared [[coPurchaseEdges]] artifact
    * (one build per session, shared with graph_common_neighbors).
    */
  def triangleCount(spark: SparkSession, sfDir: String): DataFrame =
    Graph.triangles(coPurchaseEdges(spark, sfDir), assumeCanonical = true)

  /** The identical orientation + wedge-closure in portable SQL; the
    * (deg, id) total order is spelled as an explicit disjunction. */
  private val TriangleOracle =
    """WITH inc AS (
      |  SELECT DISTINCT l_partkey AS part, o_custkey AS cust
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |top4 AS (
      |  SELECT part, cust FROM (
      |    SELECT part, cust,
      |      row_number() OVER (PARTITION BY part ORDER BY cust) AS rn
      |    FROM inc) t
      |  WHERE rn <= 4),
      |e0 AS (
      |  SELECT DISTINCT a.cust AS lo, b.cust AS hi
      |  FROM top4 a JOIN top4 b ON a.part = b.part AND a.cust < b.cust),
      |deg AS (
      |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
      |    SELECT lo AS node FROM e0
      |    UNION ALL SELECT hi AS node FROM e0) n
      |  GROUP BY node),
      |oriented AS (
      |  SELECT
      |    CASE WHEN dl.deg < dh.deg OR (dl.deg = dh.deg AND e0.lo < e0.hi)
      |      THEN e0.lo ELSE e0.hi END AS src,
      |    CASE WHEN dl.deg < dh.deg OR (dl.deg = dh.deg AND e0.lo < e0.hi)
      |      THEN e0.hi ELSE e0.lo END AS dst,
      |    CASE WHEN dl.deg < dh.deg OR (dl.deg = dh.deg AND e0.lo < e0.hi)
      |      THEN dh.deg ELSE dl.deg END AS ddst
      |  FROM e0
      |  JOIN deg dl ON dl.node = e0.lo
      |  JOIN deg dh ON dh.node = e0.hi),
      |tris AS (
      |  SELECT o1.src AS a, o1.dst AS b, o2.dst AS c
      |  FROM oriented o1
      |  JOIN oriented o2 ON o1.src = o2.src
      |    AND (o1.ddst < o2.ddst OR (o1.ddst = o2.ddst AND o1.dst < o2.dst))
      |  JOIN oriented o3 ON o3.src = o1.dst AND o3.dst = o2.dst),
      |corners AS (
      |  SELECT a AS node FROM tris
      |  UNION ALL SELECT b AS node FROM tris
      |  UNION ALL SELECT c AS node FROM tris),
      |tcnt AS (
      |  SELECT node, CAST(count(*) AS BIGINT) AS tri_count
      |  FROM corners GROUP BY node)
      |SELECT deg.node, deg.deg,
      |  CAST(COALESCE(tcnt.tri_count, 0) AS BIGINT) AS tri_count
      |FROM deg LEFT JOIN tcnt ON deg.node = tcnt.node""".stripMargin

  /** Personalized PageRank from the `c_custkey % 100 = 1` seed
    * customers over the trade graph — rank as proximity-to-seeds (the
    * recommendation walk), same exact-integer recurrence as
    * [[pagerank]]; seeds outside the graph contribute nothing (node
    * set comes from the edges).
    */
  def pagerankPersonalized(spark: SparkSession, sfDir: String): DataFrame = {
    val seeds = Tables.customer(spark, sfDir)
      .where(col("c_custkey") % 100 === 1)
      .select(col("c_custkey").as("node"))
    Graph.personalizedPagerank(edges(spark, sfDir), seeds, Iterations, Scale,
        symmetricEdges = true)
      .select(renderNode(col("node")).as("node"), col("rank"))
  }

  /** [[oracleSqlFor]] with the teleport restricted to the seed set. */
  private def pprOracleSqlFor(iterations: Int): String = {
    val base =
      s"""WITH e0 AS (
         |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
         |    's' || CAST(l_suppkey AS VARCHAR) AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (SELECT src, dst FROM e0
         |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |seeds AS (SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS node
         |  FROM customer WHERE c_custkey % 100 = 1),
         |pr0 AS (SELECT n.node,
         |    CAST(CASE WHEN s.node IS NOT NULL THEN $Scale ELSE 0 END AS BIGINT)
         |      AS rank
         |  FROM nodes n LEFT JOIN seeds s ON n.node = s.node)""".stripMargin
    val steps = (1 to iterations).map { i =>
      s"""pr$i AS (
         |  SELECT n.node, CAST(
         |      CASE WHEN s.node IS NOT NULL THEN $Teleport ELSE 0 END
         |      + (85 * COALESCE(c.contrib, 0)) // 100 AS BIGINT) AS rank
         |  FROM nodes n
         |  LEFT JOIN seeds s ON n.node = s.node
         |  LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.rank // d.deg) AS contrib
         |    FROM edges e
         |    JOIN pr${i - 1} p ON p.node = e.src
         |    JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) c ON n.node = c.node)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"\nSELECT node, rank FROM pr$iterations"
  }

  /** Common-neighbor link prediction over the same co-purchase graph as
    * [[triangleCount]] (per-part 4-lowest-custkey edges): candidate
    * "same buyer community" pairs witnessed by ≥ 2 shared neighbors,
    * scored by capped-common count + Jaccard over true degrees. The
    * jaccard double is the single division of two exact BIGINTs, written
    * identically in the oracle.
    */
  def commonNeighborsQ(spark: SparkSession, sfDir: String): DataFrame =
    Graph.commonNeighbors(coPurchaseEdges(spark, sfDir),
      apexCap = 8, minCommon = 2L, assumeCanonical = true)

  /** Identical wedge semantics in SQL: capped adjacency via row_number,
    * pair wedges by apex self-join, degrees uncapped. */
  private val CommonNeighborsOracle =
    """WITH inc AS (
      |  SELECT DISTINCT l_partkey AS part, o_custkey AS cust
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |top4 AS (
      |  SELECT part, cust FROM (
      |    SELECT part, cust,
      |      row_number() OVER (PARTITION BY part ORDER BY cust) AS rn
      |    FROM inc) t
      |  WHERE rn <= 4),
      |e0 AS (
      |  SELECT DISTINCT a.cust AS lo, b.cust AS hi
      |  FROM top4 a JOIN top4 b ON a.part = b.part AND a.cust < b.cust),
      |adj AS (
      |  SELECT lo AS apex, hi AS nb FROM e0
      |  UNION ALL SELECT hi AS apex, lo AS nb FROM e0),
      |deg AS (
      |  SELECT apex AS node, CAST(count(*) AS BIGINT) AS deg
      |  FROM adj GROUP BY apex),
      |capped AS (
      |  SELECT apex, nb FROM (
      |    SELECT apex, nb,
      |      row_number() OVER (PARTITION BY apex ORDER BY nb) AS rn
      |    FROM adj) t
      |  WHERE rn <= 8),
      |pairs AS (
      |  SELECT a.nb AS x, b.nb AS y, CAST(count(*) AS BIGINT) AS common
      |  FROM capped a JOIN capped b ON a.apex = b.apex AND a.nb < b.nb
      |  GROUP BY a.nb, b.nb
      |  HAVING count(*) >= 2)
      |SELECT p.x, p.y, p.common, dx.deg AS deg_x, dy.deg AS deg_y,
      |  CAST(p.common AS DOUBLE)
      |    / CAST(dx.deg + dy.deg - p.common AS DOUBLE) AS jaccard
      |FROM pairs p
      |JOIN deg dx ON dx.node = p.x
      |JOIN deg dy ON dy.node = p.y""".stripMargin

  /** Multi-source BFS over the customer↔supplier trade graph: minimum
    * hop distance from the `c_custkey % 100 = 1` seed customers, 4
    * levels. Same packed-long node keys through the loop as
    * [[pagerank]] (strings only at the output boundary); seeds with no
    * trade edges still appear at distance 0.
    */
  def bfsHops(spark: SparkSession, sfDir: String): DataFrame = {
    val seeds = Tables.customer(spark, sfDir)
      .where(col("c_custkey") % 100 === 1)
      .select(col("c_custkey").as("node"))
    Graph.bfs(edges(spark, sfDir), seeds, maxHops = 4,
        assumePartitioned = true)
      .select(renderNode(col("node")).as("node"), col("dist"))
  }

  /** The same 4-level reachability as a recursive CTE: UNION-dedup on
    * (node, dist) bounds the worklist at |V|·levels even on cycles;
    * min(dist) collapses late discoveries to the BFS level.
    */
  private val BfsOracle =
    """WITH RECURSIVE e0 AS (
      |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
      |    's' || CAST(l_suppkey AS VARCHAR) AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS (SELECT src, dst FROM e0
      |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
      |walk(node, dist) AS (
      |  SELECT 'c' || CAST(c_custkey AS VARCHAR), 0
      |  FROM customer WHERE c_custkey % 100 = 1
      |  UNION
      |  SELECT e.dst, w.dist + 1
      |  FROM walk w JOIN edges e ON e.src = w.node
      |  WHERE w.dist < 4)
      |SELECT node, CAST(min(dist) AS BIGINT) AS dist
      |FROM walk GROUP BY node""".stripMargin

  /** 32-core of the trade graph: the dense trading backbone (nodes
    * keeping ≥ 32 within-core partners after everyone below the bar is
    * peeled away — 913 of the 1600 sf0.01 nodes survive, so the query
    * exercises a real multi-round cascade). The measured peel converges
    * in 2-4 rounds at every fixture SF; `KcoreRounds` unrolled oracle
    * rounds (extra rounds are fixpoint no-ops) with Spark fail-louding
    * past the same bound — see [[graft.operators.Graph.kcore]].
    */
  def graphKcore(spark: SparkSession, sfDir: String): DataFrame =
    Graph.kcore(edges(spark, sfDir), k = KcoreK, maxRounds = KcoreRounds)
      .select(renderNode(col("node")).as("node"), col("core_deg"))

  private val KcoreK = 32
  private val KcoreRounds = 12

  /** The identical peel unrolled: round i keeps the round-(i−1)
    * survivors whose within-survivor degree stays ≥ k. Referencing the
    * previous round twice (src AND dst side) is what makes this a
    * chained — not recursive — CTE ladder, the pagerank oracle idiom.
    */
  private def kcoreOracleSqlFor(k: Int, rounds: Int): String = {
    // MATERIALIZED is load-bearing: each round references its
    // predecessor twice and edges once — inlined, the 12-round ladder
    // re-opens the parquet inputs per reference and exhausts the
    // engine's file handles before it exhausts CPU
    val base =
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |    's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS MATERIALIZED (SELECT src, dst FROM e0
        |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT e.src AS node, count(*) AS deg
         |  FROM edges e
         |  JOIN a${i - 1} p ON p.node = e.src
         |  JOIN a${i - 1} q ON q.node = e.dst
         |  GROUP BY 1 HAVING count(*) >= $k)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"\nSELECT node, CAST(deg AS BIGINT) AS core_deg FROM a$rounds"
  }

  /** Degree assortativity of the trade graph: Pearson correlation of
    * endpoint degrees over the (both-directions) edge list — the
    * standard "do hubs attach to hubs?" mixing coefficient (Newman
    * 2002). Composition of existing audited parts: one degree
    * aggregate, two degree joins, and [[graft.operators.Analytics
    * .corrExact]]'s exact-decimal-moment finish (no order-dependent
    * float sum anywhere).
    */
  def graphAssortativity(spark: SparkSession, sfDir: String): DataFrame = {
    // materialize the edge list ONCE (the orders⋈lineitem build is the
    // dominant cost and DataFrames share no common subplans — unshared,
    // it ran under both the degree aggregate and the probe scan for
    // 4.7 GB of shuffle at sf10), derive the |V|-sized degree table
    // from the cache, and attach both endpoint degrees by BROADCAST:
    // the edge list is then scanned exactly once, with no sort — the
    // commonNeighbors broadcast posture (holds to ~10⁷ vertices; past
    // that flip to sort-merge with the same semantics)
    val e = edges(spark, sfDir).persist()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val endpoints = e
      .join(broadcast(deg.select(col("src").as("_s"), col("deg").as("deg_src"))),
        col("src") === col("_s"))
      .join(broadcast(deg.select(col("src").as("_d"), col("deg").as("deg_dst"))),
        col("dst") === col("_d"))
      .select(col("deg_src"), col("deg_dst"))
    // materialize the 1-row answer eagerly, then release the edge cache
    // — the pagerank per-call lifecycle (a leaked persist per bench
    // repeat would accumulate; an un-owned localCheckpoint raced block
    // cleanup across repeats)
    val out = graft.operators.Analytics.corrExact(
      endpoints, Seq.empty, "deg_src", "deg_dst").localCheckpoint()
    e.unpersist()
    out
  }

  /** Degree distribution in log₂ buckets — the power-law / hub audit
    * that decides the caps and salting every other graph op here
    * relies on (a heavy tail means bounded-fanout wedge caps and
    * skew-guarded joins are load-bearing, not paranoia). One degree
    * aggregate, one ilog2 bucket collapse: per bucket the node count,
    * degree range, and total incident-edge mass.
    */
  def graphDegreeHist(spark: SparkSession, sfDir: String): DataFrame =
    edges(spark, sfDir)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("deg"))
      .groupBy(graft.operators.Dsir.ilog2(col("deg")).as("deg_log2"))
      .agg(
        count(lit(1)).cast("bigint").as("n_nodes"),
        min(col("deg")).cast("bigint").as("min_deg"),
        max(col("deg")).cast("bigint").as("max_deg"),
        sum(col("deg")).cast("bigint").as("sum_deg"))

  val entries: Seq[(String, Query)] = Seq(
    "graph_degree_hist" -> Query(graphDegreeHist,
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |    's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT src, dst FROM e0
        |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1)
        |SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS deg_log2,
        |  CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(min(deg) AS BIGINT) AS min_deg,
        |  CAST(max(deg) AS BIGINT) AS max_deg,
        |  CAST(sum(deg) AS BIGINT) AS sum_deg
        |FROM deg GROUP BY 1""".stripMargin),
    "graph_assortativity" -> Query(graphAssortativity,
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |    's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS MATERIALIZED (SELECT src, dst FROM e0
        |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |deg AS MATERIALIZED (
        |  SELECT src, count(*) AS deg FROM edges GROUP BY 1),
        |p AS (
        |  SELECT CAST(ds.deg AS DECIMAL(18,2)) AS x,
        |    CAST(dd.deg AS DECIMAL(18,2)) AS y
        |  FROM edges e
        |  JOIN deg ds ON ds.src = e.src
        |  JOIN deg dd ON dd.src = e.dst),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM p),
        |d AS (
        |  SELECT n,
        |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS dx,
        |    CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS dy,
        |    CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS dxy,
        |    CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS dxx,
        |    CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS dyy
        |  FROM m)
        |SELECT n,
        |  (dxy * n - dx * dy) / (CAST(n AS DOUBLE) * n) AS cov_pop,
        |  (dxy * n - dx * dy)
        |    / sqrt((dxx * n - dx * dx) * (dyy * n - dy * dy)) AS corr
        |FROM d""".stripMargin),
    "pagerank" -> Query(pagerank, oracleSqlFor(Iterations)),
    "triangle_count" -> Query(triangleCount, TriangleOracle),
    "graph_bfs" -> Query(bfsHops, BfsOracle),
    "graph_common_neighbors" -> Query(commonNeighborsQ, CommonNeighborsOracle),
    "pagerank_personalized" -> Query(pagerankPersonalized, pprOracleSqlFor(Iterations)),
    "graph_kcore" -> Query(graphKcore, kcoreOracleSqlFor(KcoreK, KcoreRounds))
  )
}
