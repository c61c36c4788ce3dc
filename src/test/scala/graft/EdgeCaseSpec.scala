package graft

import org.apache.spark.sql.functions._

import graft.operators.{BloomJoin, Clustering, Dedup, Packing, RangeJoin, Sampling, Sketches}
import graft.queries.{EventQueries, TpchQueries}

/** Degenerate-input behavior a library consumer will eventually hit:
  * empty tables, fewer rows than requested clusters, empty join sides.
  * Every operator must return an EMPTY (or complete) result with the
  * right schema — never throw, never hang.
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private lazy val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private lazy val someDocs =
    Seq((1L, "a b c d e f g h i j"), (2L, "k l m n o p q r s t"))
      .toDF("doc_id", "text")
  private lazy val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
  private lazy val someVecs = Seq(
    (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")

  test("entity resolution partitions the record set and picks the min-key golden record") {
    val ents = graft.queries.JoinQueries.entityResolution(spark, "/root/testdata/sf0.001")
      .select($"entity", $"n_members", $"members").collect()
    val allMembers = ents.flatMap(_.getString(2).split(",").map(_.toLong))
    val total = Tables.part(spark, "/root/testdata/sf0.001").count()
    // every part key appears in exactly one entity's member list
    assert(allMembers.length.toLong === total)
    assert(allMembers.distinct.length === allMembers.length)
    // entity id = min member key, and n_members matches the list
    ents.foreach { r =>
      val members = r.getString(2).split(",").map(_.toLong)
      assert(r.getLong(0) === members.min, s"entity ${r.getLong(0)}")
      assert(r.getLong(1) === members.length.toLong)
    }
  }

  test("dedup operators are empty-safe") {
    assert(Dedup.exact(noDocs, "text", "doc_id").count() === 0)
    assert(Dedup.minhashCandidates(noDocs, "text", "doc_id").count() === 0)
    assert(Dedup.incrementalDups(noDocs, someDocs, "text", "doc_id")
      .where(col("is_dup")).count() === 0, "empty base flags nothing")
    val allClean = Dedup.incrementalDups(noDocs, someDocs, "text", "doc_id")
    assert(allClean.count() === 2 &&
      allClean.where(col("dup_of") =!= -1L).count() === 0)
    assert(Dedup.incrementalDups(someDocs, noDocs, "text", "doc_id").count() === 0,
      "empty fresh batch yields an empty report")
  }

  test("packing and chunking are empty-safe") {
    val w = noDocs.select(col("doc_id"), lit(1L).as("w"))
    assert(Packing.globalOffsets(w, "doc_id", "w").count() === 0)
    assert(Packing.packAssignments(w, "doc_id", "w", budget = 512).count() === 0)
    assert(Packing.chunk(noDocs, "doc_id", "text", 10, 5).count() === 0)
  }

  test("sketches are empty- and null-safe") {
    val noEvents = Seq.empty[(String, java.lang.Long)].toDF("grp", "v")
    assert(Sketches.kmvDistinct(noEvents, Seq("grp"), "v", 8).count() === 0)
    assert(Sketches.hllDistinct(noEvents, Seq("grp"), "v").count() === 0)
    // null values are non-observations, not crashes
    val withNulls = Seq(("a", java.lang.Long.valueOf(1L)), ("a", null),
      ("b", null)).toDF("grp", "v")
    val kmv = Sketches.kmvDistinct(withNulls, Seq("grp"), "v", 8)
      .select("grp", "n_kept").as[(String, Long)].collect().toMap
    assert(kmv === Map("a" -> 1L, "b" -> 0L))
    // HLL must not turn a null into a phantom register: group "a" has
    // exactly one real observation → one register; all-null group "b"
    // vanishes entirely (no observations = no sketch row)
    val hll = Sketches.hllDistinct(withNulls, Seq("grp"), "v")
      .select("grp", "n_registers").as[(String, Long)].collect().toMap
    assert(hll === Map("a" -> 1L))
  }

  test("hll linear-counting correction recovers tiny cardinalities") {
    // 5 distinct ids in a 128-register sketch: the raw estimator reads
    // high by design; the corrected column must land within ±1 of 5
    // (linear counting is near-exact when most registers are empty)
    val tiny = spark.range(0, 5).select(lit("g").as("grp"), col("id"))
    val row = Sketches.hllDistinct(tiny, Seq("grp"), "id").head()
    val corrected = row.getAs[Double]("est_corrected")
    assert(math.abs(corrected - 5.0) <= 1.0, s"est_corrected=$corrected")
    // and the correction only fires in-range: a full sketch falls back
    // to the raw estimate (est_corrected === est_distinct)
    val big = spark.range(0, 50000).select(lit("g").as("grp"), col("id"))
    val r2 = Sketches.hllDistinct(big, Seq("grp"), "id").head()
    assert(r2.getAs[Double]("est_corrected") === r2.getAs[Double]("est_distinct"))
  }

  test("bloom join handles empty probe and empty build") {
    val probe = Seq((1L, "x")).toDF("k", "v")
    val noProbe = probe.where(lit(false))
    val build = Seq((1L, "d")).toDF("bk", "name")
    assert(BloomJoin.bloomPrefilterJoin(noProbe, "k", build, "bk", 8).count() === 0)
    assert(BloomJoin.bloomPrefilterJoin(probe, "k", build.where(lit(false)),
      "bk", 8).count() === 0)
    assert(BloomJoin.bloomPrefilterJoin(probe, "k", build, "bk", 8).count() === 1)
  }

  test("k-means degrades gracefully when k exceeds the corpus") {
    val cents = Clustering.seedCentroids(someVecs, "vec_id", "embedding", k = 8)
    assert(cents.count() === 2, "only as many seeds as vectors exist")
    val a = Clustering.assign(someVecs, "vec_id", "embedding", cents)
    assert(a.count() === 2)
    // each vector IS a seed → distance 0 to its own centroid
    assert(a.where(col("dist2") =!= 0L).count() === 0)
    assert(Clustering.assign(noVecs, "vec_id", "embedding", cents).count() === 0)
  }

  test("sampling operators are empty-safe") {
    val empty = Seq.empty[(Long, String)].toDF("id", "src")
    assert(Sampling.temperatureMixture(empty, "id", "src", 0.5).count() === 0)
    assert(Sampling.deterministicSample(empty, "id", 0.5).count() === 0)
    assert(Sampling.capPerGroup(empty, "src", "id", 3).count() === 0)
  }

  test("interval join with an empty side is empty, not an error") {
    val pts = Seq((1L, 5L)).toDF("p_id", "p")
    val noIv = Seq.empty[(Long, Long, Long)].toDF("i_id", "s", "e")
    assert(RangeJoin.intervalJoin(pts, "p", noIv, "s", "e", 10).count() === 0)
    val noPts = Seq.empty[(Long, Long)].toDF("p_id", "p")
    val iv = Seq((1L, 0L, 10L)).toDF("i_id", "s", "e")
    assert(RangeJoin.intervalJoin(noPts, "p", iv, "s", "e", 10).count() === 0)
  }

  test("column profile counts nulls and distincts like the SQL oracle would") {
    import graft.operators.Profiling
    val df = Seq(
      (Some(1), Some("a")), (Some(1), None), (None, Some("b"))
    ).toDF("x", "s")
    val rows = Profiling.profile(df, Seq("x", "s"))
      .select("col_name", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value")
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(rows("x") === (("x", 3L, 1L, 1L, "1", "1")))
    assert(rows("s") === (("s", 3L, 1L, 2L, "a", "b")))
  }

  test("profile: past sketch capacity, exact=true fails loudly, default estimates") {
    import graft.operators.Profiling
    val n = Profiling.kmvK.toLong + 1000L
    val big = spark.range(n).toDF("x")
    // exact mode: a clear error naming the overflowing column, never a
    // silently-estimated count that would hash-mismatch an exact oracle
    val ex = intercept[Throwable] {
      Profiling.profile(big, Seq("x"), exact = true).collect()
    }
    val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("exact=true") && msgs.contains("'x'"), msgs)
    // default mode: the documented bottom-k estimate, within 5%
    val est = Profiling.profile(big, Seq("x"))
      .select("n_distinct").as[Long].head()
    assert(math.abs(est - n).toDouble / n < 0.05, s"estimate $est vs $n")
  }

  test("round-7 additions are empty-safe: triangles, quantization, cdc") {
    val noEdges = Seq.empty[(Long, Long)].toDF("u", "v")
    assert(graft.operators.Graph.triangles(noEdges).count() === 0)
    // a single edge: two nodes of degree 1, zero triangles
    val one = graft.operators.Graph.triangles(Seq((7L, 9L)).toDF("u", "v"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(one === Seq((7L, 1L, 0L), (9L, 1L, 0L)))

    assert(graft.operators.Quantize.int8(noVecs, "embedding", Seq("vec_id"))
      .count() === 0)
    // empty embedding array: null range, zero-length signatures, no throw
    val emptyVec = Seq((1L, Array.empty[Float])).toDF("vec_id", "embedding")
    val r = graft.operators.Quantize.int8(emptyVec, "embedding", Seq("vec_id"))
    assert(r.count() === 1 && r.where(col("mn_q").isNull).count() === 1)

    assert(graft.operators.Cdc.chunkSummary(noDocs, "doc_id", "text")
      .count() === 0)
    val statsEmpty = graft.operators.Cdc.dedupStats(noDocs, "text")
      .as[(Option[Long], Long, Option[Long], Option[Long])].collect().head
    assert(statsEmpty._2 === 0L) // zero distinct chunks, null sums, no throw
    // empty STRING document: zero chunks, sig of the empty concat
    val zeroDoc = Seq((1L, "")).toDF("doc_id", "text")
    val zs = graft.operators.Cdc.chunkSummary(zeroDoc, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().head
    assert(zs._3 === 0L)
  }

  test("query registry is collision-free across modules (Map ++ shadows silently)") {
    // SparkEntry.byName throws on a duplicate, so reaching the maps at
    // all means every name in the one flattened entry list is unique
    assert(SparkEntry.queries.size === SparkEntry.entries.size)
    // a duplicate inside one module is caught too, not just across them
    val within = intercept[IllegalArgumentException](
      SparkEntry.byName(EventQueries.entries :+ EventQueries.entries.head))
    assert(within.getMessage.endsWith(s": ${EventQueries.entries.head._1}"))
    val across = intercept[IllegalArgumentException](
      SparkEntry.byName(SparkEntry.entries ++ TpchQueries.entries.take(2)))
    assert(across.getMessage.endsWith(": tpch_q1, tpch_q3"))
  }

  test("query filter: none selects every query, sorted by name") {
    val names = SparkEntry.select(None).map(_._1)
    assert(names === SparkEntry.queries.keys.toSeq.sorted)
  }

  test("query filter: a comma list selects exactly those queries") {
    val picked = SparkEntry.select(Some("sessionize,hourly_agg,sessionize"))
    assert(picked.map(_._1) === Seq("hourly_agg", "sessionize"))
  }

  test("query filter: unknown names throw and are all named") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("hourly_agg,no_such_q,sesionize")))
    assert(e.getMessage.contains("'no_such_q'"))
    assert(e.getMessage.contains("'sesionize'"))
    assert(!e.getMessage.contains("'hourly_agg'"))
    // an empty entry (trailing comma, empty argument) is unknown too
    intercept[IllegalArgumentException](SparkEntry.select(Some("")))
    intercept[IllegalArgumentException](SparkEntry.select(Some("hourly_agg,")))
  }

  test("output gate: no registered query emits raw array/map/struct columns") {
    // The driver's correctness harness sorts result frames in pandas,
    // which cannot factorize ndarray cells — a raw ArrayType (or
    // MapType / nested StructType) output column silently turns a
    // correct query into a red `unhashable type` row
    // (embedding_projection, round 11). The repo convention is to
    // serialize arrays as `array_join` CSV strings (array_funcs,
    // embedding_projection). This gate makes that contract explicit
    // for every registered query. streaming_* queries are invoked too:
    // their entry points run the stream and return the sink table, so
    // the schema seen here is exactly what the driver hashes.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val allowed = Set.empty[String] // deliberate exceptions, none today
    val offenders = for {
      (name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
      if !allowed(name)
      field <- fn(spark, "/root/testdata/sf0.001").schema.fields
      if field.dataType.isInstanceOf[ArrayType] ||
        field.dataType.isInstanceOf[MapType] ||
        field.dataType.isInstanceOf[StructType]
    } yield s"$name.${field.name}: ${field.dataType.simpleString}"
    assert(offenders.isEmpty,
      s"raw array/map/struct output columns (serialize via array_join " +
        s"per the array_funcs convention): ${offenders.mkString("; ")}")
  }

  test("round-14 session-3 additions are empty-safe") {
    import org.apache.spark.sql.functions._
    val noRows = Seq.empty[(String, Long)].toDF("k", "v")
    assert(graft.operators.Privacy.tCloseness(
      noRows, Seq(col("k")), col("v"), 200000L).count() === 0)
    assert(graft.operators.Privacy.dpQuantile(
      noRows, col("v"), 1L, 2L, "s").count() === 0)
    assert(graft.operators.Graph.kcore(
      Seq.empty[(Long, Long)].toDF("src", "dst"), k = 2).count() === 0)
    assert(graft.operators.Analytics.featureAssoc(
      noRows, col("k"), col("v")).count() === 0)
    assert(graft.operators.Analytics.intervalUnion(
      Seq.empty[(String, Long, Long)].toDF("k", "st", "en"),
      "k", "st", "en").count() === 0)
    assert(graft.operators.Partitioning.shardBalance(
      noRows, "k", "v", shards = 8).count() === 0)
    assert(graft.operators.TimeSeries.theilSenTrend(
      Seq.empty[(String, Long, Long)].toDF("k", "x", "y"),
      "k", "x", "y").count() === 0)
    // a single point has no pairs: empty result, not a divide-by-zero
    assert(graft.operators.TimeSeries.theilSenTrend(
      Seq(("a", 1L, 5L)).toDF("k", "x", "y"), "k", "x", "y").count() === 0)
    assert(graft.operators.Sketches.decayedTopK(
      Seq.empty[(String, java.sql.Timestamp)].toDF("k", "ts"),
      col("k"), col("ts"), 5).count() === 0)
    // hilbert kernel: null-safe, and bits=1 smallest grid is total
    val h = Seq((0L, 0L), (1L, 1L)).toDF("a", "b")
      .select(graft.functions.HilbertValue.hilbert_value(
        col("a"), col("b"), 1).as("h"))
      .collect().map(_.getLong(0)).sorted
    assert(h === Array(0L, 2L))
  }

  test("format round-trip survives hostile text: newlines, quotes, unicode, null") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-fmt").toFile
    val docs = Seq(
      (1L, Some("line1\nline2\r\nline3"), 20L),   // newlines INSIDE a value
      (2L, Some("quote\" and \\backslash"), 19L),
      (3L, Some("unicode \u00e9\u00c5\u4e16\u754c emoji"), 17L),
      (4L, Option.empty[String], 0L)                 // null text
    ).toDF("doc_id", "text", "n_chars")
    graft.sources.Sinks.orc(docs, s"$tmp/orc")
    graft.sources.Sinks.jsonl(docs, s"$tmp/jsonl")
    graft.sources.Sinks.avro(docs, s"$tmp/avro")
    val schema = docs.schema
    def slurp(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1))).toMap
    val o = slurp(spark.read.schema(schema).orc(s"$tmp/orc"))
    val j = slurp(spark.read.schema(schema).json(s"$tmp/jsonl"))
    val a = slurp(spark.read.schema(schema).format(graft.sources.Sinks.AvroFormat).load(s"$tmp/avro"))
    val direct = slurp(docs)
    assert(o == direct, "ORC must round-trip byte-exactly")
    assert(j == direct, "JSONL must round-trip byte-exactly")
    assert(a == direct, "Avro must round-trip byte-exactly")
  }

  test("planDigest: distinct corpora key apart, identical plans key together") {
    // the memo-key identity behind every index cache (shingle index,
    // BPE state, PQ codebook, centroids): same-schema local relations
    // with DIFFERENT data must NOT collide (the tree string alone
    // prints only the schema — the regression DedupSpec caught live)
    val a = Seq((1L, "aa bb cc")).toDF("doc_id", "text")
    val b = Seq((1L, "xx yy zz")).toDF("doc_id", "text")
    assert(Artifacts.planDigest(a) !== Artifacts.planDigest(b),
      "same-schema different-data corpora must key apart")
    assert(Artifacts.planDigest(a) === Artifacts.planDigest(
      Seq((1L, "aa bb cc")).toDF("doc_id", "text")),
      "identical local corpora must share a key")
    val sf = "/root/testdata/sf0.001"
    val p = Tables.documents(spark, sf).select("doc_id", "text")
    val q = Tables.documents(spark, sf).select("doc_id", "text")
    assert(Artifacts.planDigest(p) === Artifacts.planDigest(q),
      "two reads of one parquet table must share a key")
    // round-17 ADVICE regression: a canonicalized parquet scan prints
    // NO path, so two same-schema corpora at different dirs collided
    // under the string-only digest — and the colliding key served the
    // FIRST corpus's cached index/trained state for the second. The
    // digest must fold the scan's physical identity (rootPaths).
    val p2 = Tables.documents(spark, "/root/testdata/sf0.01")
      .select("doc_id", "text")
    assert(Artifacts.planDigest(p) !== Artifacts.planDigest(p2),
      "same-schema parquet corpora at different paths must key apart")
  }

  test("Buckets dial: floor at toy scale, floor bounds enforced") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    assert(graft.operators.Buckets.artifact(docs) ==
      graft.operators.Buckets.DefaultFloor,
      "a toy corpus sizes to the floor (layout unchanged at test SF)")
    assert(graft.operators.Buckets.artifact(docs, floor = 64) == 64)
    intercept[IllegalArgumentException](
      graft.operators.Buckets.artifact(docs, floor = 0))
  }
}
