package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private val S = 1000000000L

  test("2-cycle is a fixed point: both ranks stay exactly at scale") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val ranks = Graph.pagerank(edges, iterations = 5, scale = S)
      .as[(String, Long)].collect().toMap
    assert(ranks == Map("a" -> S, "b" -> S))
  }

  test("star graph ranks the hub above the leaves") {
    val leaves = (1 to 8).map(i => s"leaf$i")
    val edges = leaves.flatMap(l => Seq((l, "hub"), ("hub", l)))
      .toDF("src", "dst")
    val ranks = Graph.pagerank(edges, iterations = 4, scale = S)
      .as[(String, Long)].collect().toMap
    val hub = ranks("hub")
    assert(leaves.forall(l => ranks(l) < hub),
      s"hub=$hub leaves=${leaves.map(ranks)}")
    // Leaves are symmetric, so integer arithmetic must give them ALL
    // the identical rank — any spread would mean order-dependence.
    assert(leaves.map(ranks).distinct.size == 1)
  }

  test("ranks are invariant under repartitioning (exact integer arithmetic)") {
    val rnd = new scala.util.Random(7)
    val edges0 = (1 to 400)
      .map(_ => (s"n${rnd.nextInt(60)}", s"n${rnd.nextInt(60)}"))
      .filter(e => e._1 != e._2).distinct
    val df = edges0.toDF("src", "dst")
    val undirected = df.union(df.select($"dst".as("src"), $"src".as("dst")))
    val a = Graph.pagerank(undirected.repartition(1), 4, S)
      .as[(String, Long)].collect().sorted.toSeq
    val b = Graph.pagerank(undirected.repartition(13, $"dst"), 4, S)
      .as[(String, Long)].collect().sorted.toSeq
    assert(a == b)
  }

  test("dangling nodes keep only the teleport mass") {
    // a -> b with no back edge: b receives, a only teleports.
    val edges = Seq(("a", "b")).toDF("src", "dst")
    val ranks = Graph.pagerank(edges, iterations = 1, scale = S)
      .as[(String, Long)].collect().toMap
    assert(ranks("a") == S / 20 * 3) // 0.15 * scale exactly
    assert(ranks("b") == S / 20 * 3 + 85 * S / 100)
  }

  test("triangles: K4 has 4 triangles, every node in 3 of them") {
    val edges = (for {
      a <- 1L to 4L; b <- 1L to 4L if a < b
    } yield (a, b)).toDF("u", "v")
    val out = Graph.triangles(edges)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(out == (1L to 4L).map(n => (n, 3L, 3L)))
  }

  test("triangles: square with one diagonal = exactly two, corner counts split") {
    // 1-2-3-4-1 plus diagonal 1-3: triangles (1,2,3) and (1,3,4).
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("u", "v")
    val out = Graph.triangles(edges)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out == Map(
      1L -> (3L, 2L), 2L -> (2L, 1L), 3L -> (3L, 2L), 4L -> (2L, 1L)))
  }

  test("triangles: duplicate, reversed, and self-loop edges are canonicalized away") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (3L, 1L), (1L, 3L))
      .toDF("u", "v")
    val out = Graph.triangles(edges)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(out == Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 2L, 1L)))
  }

  test("bfs: min hop distance on a chain with a shortcut; cycle terminates; cap respected") {
    // 1→2→3→4→5→6 chain, plus shortcut 1→4, plus back-edge 4→1 (cycle),
    // plus isolated node 9 unreachable
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (1L, 4L), (4L, 1L), (9L, 9L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val got = Graph.bfs(edges, seeds, maxHops = 10)
      .as[(Long, Long)].collect().toMap
    // shortcut makes 4 a 1-hop, so 5=2, 6=3; the 4→1 cycle adds nothing
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 2L, 6L -> 3L))
    // hop cap truncates the wave
    val capped = Graph.bfs(edges, seeds, maxHops = 1)
      .as[(Long, Long)].collect().toMap
    assert(capped === Map(1L -> 0L, 2L -> 1L, 4L -> 1L))
  }

  test("bfs: multi-source waves merge at the minimum; edgeless seed stays at 0") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L, 7L, 42L).toDF("node")  // 42 has no edges at all
    val got = Graph.bfs(edges, seeds, maxHops = 5)
      .as[(Long, Long)].collect().toMap
    // 3 is 2 hops from seed 1 but 1 hop from seed 7 -> 1
    assert(got === Map(1L -> 0L, 7L -> 0L, 42L -> 0L,
      2L -> 1L, 3L -> 1L, 4L -> 2L))
  }

  test("personalizedPagerank with seeds = all nodes equals global pagerank") {
    val rnd = new scala.util.Random(41)
    val e0 = (1 to 200).map(_ => (s"n${rnd.nextInt(40)}", s"n${rnd.nextInt(40)}"))
      .filter(p => p._1 != p._2).distinct
    val df = e0.toDF("src", "dst")
    val und = df.union(df.select($"dst".as("src"), $"src".as("dst")))
    val allNodes = und.select($"src".as("node")).distinct()
    val ppr = Graph.personalizedPagerank(und, allNodes, 3, S)
      .as[(String, Long)].collect().toMap
    val pr = Graph.pagerank(und, 3, S).as[(String, Long)].collect().toMap
    assert(ppr == pr)
  }

  test("personalizedPagerank: mass reaches only the seeds' component") {
    // two disjoint 2-cycles; seed in the first — second stays at 0
    val edges = Seq(("a", "b"), ("b", "a"), ("x", "y"), ("y", "x"))
      .toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    val ranks = Graph.personalizedPagerank(edges, seeds, 4, S)
      .as[(String, Long)].collect().toMap
    assert(ranks("x") == 0L && ranks("y") == 0L)
    assert(ranks("a") > ranks("b") && ranks("b") > 0L,
      s"seed holds the teleport mass: $ranks")
  }

  test("personalizedPagerank: hand-stepped 2-cycle integer recurrence") {
    // seed a, rank0 = (S, 0); r1: a = 0.15S + 0.85·0 = 0.15S,
    // b = 0 + ⌊0.85·S⌋; r2: a = 0.15S + ⌊0.85·0.85S⌋, b = ⌊0.85·0.15S⌋
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    val r2 = Graph.personalizedPagerank(edges, seeds, 2, S)
      .as[(String, Long)].collect().toMap
    val t = S / 20 * 3
    val a2 = t + (85L * (85L * S / 100)) / 100
    val b2 = (85L * t) / 100
    assert(r2 == Map("a" -> a2, "b" -> b2), s"got $r2 want a=$a2 b=$b2")
  }

  test("commonNeighbors: 4-cycle yields exactly the two diagonal pairs") {
    // a-b-c-d-a: diag pairs (a,c) and (b,d) each share 2 neighbors;
    // adjacent pairs share none. Jaccard = 2/(2+2-2) = 1.0 exactly.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("u", "v")
    val got = Graph.commonNeighbors(edges, apexCap = 8, minCommon = 2)
      .select("x", "y", "common", "jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === Set((1L, 3L, 2L, 1.0), (2L, 4L, 2L, 1.0)))
  }

  test("commonNeighbors: apexCap bounds hub wedge fan-out deterministically") {
    // star: hub 100 with leaves 1..6; apexCap=3 keeps only leaves 1,2,3
    // at the hub, so witnessed pairs are exactly C(3,2), each common=1,
    // while leaf apexes (degree 1) contribute nothing.
    val edges = (1L to 6L).map(l => (100L, l)).toDF("u", "v")
    val got = Graph.commonNeighbors(edges, apexCap = 3, minCommon = 1)
      .select("x", "y", "common", "deg_x", "deg_y")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // degrees stay UNCAPPED true degrees (leaves have degree 1)
    assert(got === Set((1L, 2L, 1L, 1L, 1L), (1L, 3L, 1L, 1L, 1L),
      (2L, 3L, 1L, 1L, 1L)))
  }

  test("commonNeighbors: duplicate and reversed edges collapse before counting") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (1L, 3L), (3L, 1L))
      .toDF("u", "v")
    // node 1 is the only apex with ≥2 neighbors: pair (2,3) common=1
    val got = Graph.commonNeighbors(edges, apexCap = 8, minCommon = 1)
      .select("x", "y", "common").as[(Long, Long, Long)].collect().toSet
    assert(got === Set((2L, 3L, 1L)))
  }

  // --------------------------------------------------------- k-core

  private def undirected(pairs: (Long, Long)*): org.apache.spark.sql.DataFrame =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  test("kcore peels a tail through a multi-round cascade, keeps the triangle") {
    // triangle 1-2-3 with a pendant path 3-4-5-6: at k=2 the path peels
    // one node per round (6 first, then 5, then 4) — the fixpoint needs
    // the cascade, not a single degree filter
    val e = undirected((1L,2L), (2L,3L), (1L,3L), (3L,4L), (4L,5L), (5L,6L))
    val out = Graph.kcore(e, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 2L),
      s"triangle only, with in-core degree 2: $out")
  }

  test("kcore: single filter pass is NOT enough (cascade correctness)") {
    // star center with 3 leaves: center deg 3, leaves deg 1. k=2: the
    // leaves die in round 1, the center's degree then drops to 0 and it
    // must die too — a one-pass degree filter would wrongly keep it.
    val e = undirected((0L,1L), (0L,2L), (0L,3L))
    assert(Graph.kcore(e, k = 2).isEmpty)
  }

  test("kcore of a clique is the clique, in one confirming round") {
    val pairs = for (i <- 0L until 5L; j <- (i+1) until 5L) yield (i, j)
    val out = Graph.kcore(undirected(pairs: _*), k = 4).collect()
    assert(out.length == 5 && out.forall(_.getLong(1) == 4L))
  }

  test("kcore fail-louds when maxRounds is below the cascade depth") {
    val e = undirected((1L,2L), (2L,3L), (1L,3L), (3L,4L), (4L,5L), (5L,6L))
    val ex = intercept[IllegalArgumentException] {
      Graph.kcore(e, k = 2, maxRounds = 1).collect()
    }
    assert(ex.getMessage.contains("fixpoint"))
  }

  test("assortativity: known signs on assortative and disassortative graphs") {
    import graft.queries.{GraphQueries => _}
    // star: the hub (deg n) pairs only with leaves (deg 1) -> corr is
    // perfectly negative (every edge is (high, low))
    val star = undirected((1L to 6L).map(i => (0L, i)): _*)
    val starEp = star
      .withColumn("deg_src", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .withColumn("deg_dst", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("dst"))))
    val r = graft.operators.Analytics.corrExact(
      starEp, Seq.empty, "deg_src", "deg_dst").head()
    assert(r.getDouble(r.fieldIndex("corr")) == -1.0,
      s"star graph is perfectly disassortative: $r")
    // two disjoint cliques of different sizes: every edge joins
    // equal-degree endpoints -> within-edge degrees are equal, but
    // the degree VARIES across edges, so corr = +1
    val k3 = for (i <- 10L to 12L; j <- (i + 1) to 12L) yield (i, j)
    val k4 = for (i <- 20L to 23L; j <- (i + 1) to 23L) yield (i, j)
    val cliques = undirected((k3 ++ k4): _*)
      .withColumn("deg_src", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .withColumn("deg_dst", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("dst"))))
    val r2 = graft.operators.Analytics.corrExact(
      cliques, Seq.empty, "deg_src", "deg_dst").head()
    assert(r2.getDouble(r2.fieldIndex("corr")) == 1.0,
      s"disjoint unequal cliques are perfectly assortative: $r2")
  }

  test("degree histogram: ilog2 buckets partition nodes, conserve edge mass") {
    // star hub deg 6 (bucket 2), leaves deg 1 (bucket 0), plus a
    // 4-cycle of deg-2 nodes (bucket 1)
    val e = undirected(
      Seq((0L,1L),(0L,2L),(0L,3L),(0L,4L),(0L,5L),(0L,6L),
          (10L,11L),(11L,12L),(12L,13L),(13L,10L)): _*)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val hist = deg
      .groupBy(graft.operators.Dsir.ilog2(col("deg")).as("b"))
      .agg(count(lit(1)).as("n"), sum(col("deg")).as("m"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(hist == Map(0L -> ((6L, 6L)), 1L -> ((4L, 8L)), 2L -> ((1L, 6L))),
      s"$hist")
    assert(hist.values.map(_._2).sum == e.count(), "edge mass conserved")
  }

  test("kcore delta peel matches a plain-Scala recompute peel on random graphs") {
    val rnd = new scala.util.Random(1414)
    (1 to 15).foreach { trial =>
      val n = 8 + rnd.nextInt(25)
      val pairs = (for {
        i <- 0L until n; j <- (i + 1) until n
        if rnd.nextInt(100) < 25
      } yield (i, j)).distinct
      if (pairs.nonEmpty) {
        val k = 1 + rnd.nextInt(4)
        // reference: textbook recompute peel, driver-side
        val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        var alive = adj.keySet
        var changed = true
        while (changed) {
          val next = alive.filter(v => (adj(v) & alive).size >= k)
          changed = next != alive
          alive = next
        }
        val expected = alive.map(v => v -> (adj(v) & alive).size.toLong).toMap
        val got = Graph.kcore(undirected(pairs: _*), k)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"trial $trial n=$n k=$k: $got vs $expected")
      }
    }
  }

  test("assumeCanonical path equals the default path on a messy edge list") {
    // messy: duplicates, self-loops, both orientations
    val rnd = new scala.util.Random(11)
    val messy = (1 to 300)
      .map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .toDF("u", "v")
    val canonical = messy
      .select(least($"u", $"v").as("u"), greatest($"u", $"v").as("v"))
      .where($"u" =!= $"v").distinct()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(rows(Graph.triangles(messy)) ===
      rows(Graph.triangles(canonical, assumeCanonical = true)))
    assert(rows(Graph.commonNeighbors(messy, apexCap = 4, minCommon = 1L)) ===
      rows(Graph.commonNeighbors(canonical, apexCap = 4, minCommon = 1L,
        assumeCanonical = true)))
  }

  test("co-purchase artifact builds once across both consumers") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/orders.parquet").exists)
    val before = Artifacts.count("copurchase_edges")
    assert(graft.queries.GraphQueries.triangleCount(spark, sf).count() > 0)
    val built = Artifacts.count("copurchase_edges")
    assert(built <= before + 1, "first consumer builds at most one artifact")
    assert(graft.queries.GraphQueries
      .commonNeighborsQ(spark, sf).count() > 0)
    assert(Artifacts.count("copurchase_edges") == built,
      "second consumer must reuse the artifact, not rebuild")
  }

  test("trade-edge artifact builds once across pagerank and bfs") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/orders.parquet").exists)
    val before = Artifacts.count("trade_edges")
    assert(graft.queries.GraphQueries.pagerank(spark, sf).count() > 0)
    val built = Artifacts.count("trade_edges")
    assert(built <= before + 1, "first consumer builds at most one artifact")
    assert(graft.queries.GraphQueries.bfsHops(spark, sf).count() > 0)
    assert(Artifacts.count("trade_edges") == built,
      "second consumer must reuse the artifact, not rebuild")
  }

  test("bucketed edge layout: the rank-iteration join exchanges ONLY the ranks side") {
    // pins the round-17 mechanism behind the edge artifact: a scan of
    // a src-bucketed table satisfies the adjacency aggregate's hash
    // requirement (collect_list plans NO exchange over the bucket
    // files), and the rank-iteration join (shuffle_hash hint, build =
    // ranks) then plans ONE exchange — the node-sized ranks side. This
    // is the exact adjacency + join shape from Graph.pagerank's loop,
    // reconstructed here because the loop's plans are consumed by
    // localCheckpoint.
    val t = "graft_spec_bedges"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val dir = graft.Artifacts.tempDir("graft-spec-bedges-")
    Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L))
      .toDF("src", "dst")
      .repartition(4, $"src")
      .write.format("parquet").option("path", s"$dir/e")
      .bucketBy(4, "src").sortBy("src").saveAsTable(t)
    val e = spark.table(t)
    val adj = e.groupBy($"src").agg(collect_list($"dst").as("dsts"))
      .withColumn("deg", size($"dsts").cast("long"))
    // ranks arrive UNpartitioned (in the loop they're the previous
    // iteration's aggregate output) — here a local relation, so the
    // one expected exchange is exactly this side
    val ranks = Seq((1L, S), (2L, S), (3L, S)).toDF("node", "rank")
      .repartition(3)
    val joined = adj
      .join(ranks.hint("shuffle_hash"), adj("src") === ranks("node"))
    joined.collect()
    // the AQE plan string appends an "Initial Plan" section — count
    // exchanges only in the final executed plan
    val plan = joined.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("ShuffledHashJoin"),
      s"iteration join must be a shuffled hash join, got:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"exactly one exchange (the ranks side) expected, got $exchanges:\n$plan")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}
