package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Multimodal
import graft.streaming.StreamingPipeline

/** Driver-contract queries for the multimodal plumbing and the
  * Structured-Streaming twin. The streaming queries REALLY run through
  * the streaming engine (file source → stateful agg → AvailableNow →
  * memory sink); the oracle re-derives their results relationally.
  */
object MiscQueries {

  /** Synthesized VALID payloads (PPM/WAV/FRM0 keyed on doc_id) through
    * the real decoders; every output stat is recomputed from the
    * decoded bytes. The oracle mirrors the synthesis formulas in closed
    * form, so a header-parse or byte-walk bug hash-diverges. checksum
    * is projected away (SQL can't synthesize binary); it's golden-
    * tested in MultimodalSpec.
    */
  def multimodalFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val media = Multimodal.synthesizeMedia(
      Tables.distributed(spark, sfDir, "documents"), "doc_id")
    Multimodal.decodeFeatures(media).toDF().drop("checksum")
  }

  /** Real nearest-neighbor resize of the decoded PPM rasters to 24×18
    * (both up- and down-scaling across the 16..44 × 12..28 source
    * range); stats over the resampled pixels.
    */
  def multimodalResize(spark: SparkSession, sfDir: String): DataFrame = {
    val media = Multimodal.synthesizeMedia(
      Tables.distributed(spark, sfDir, "documents"), "doc_id")
    Multimodal.resizeImages(media, targetW = 24, targetH = 18).toDF().drop("out_md5")
  }

  /** Every 2nd frame of each FRM0 video, stats over the real frame
    * slices.
    */
  def multimodalFrames(spark: SparkSession, sfDir: String): DataFrame = {
    val media = Multimodal.synthesizeMedia(
      Tables.distributed(spark, sfDir, "documents"), "doc_id")
    Multimodal.sampleFrames(media, everyN = 2).toDF().drop("frame_md5")
  }

  /** Keyframe selection per synthetic video: decode EVERY frame, score
    * each by the absolute inter-frame intensity delta (|Σpixels −
    * Σpixels of the previous frame| — the scene-change proxy any real
    * keyframe sampler thresholds), keep the top 2 per media with
    * (delta desc, frame_idx asc) determinism. Frame 0 has no
    * predecessor and is never a candidate. Decode is the 1:many
    * flatMap; the ranking is one media-keyed window exchange.
    */
  def multimodalKeyframes(spark: SparkSession, sfDir: String): DataFrame = {
    val media = Multimodal.synthesizeMedia(
      Tables.distributed(spark, sfDir, "documents"), "doc_id")
    val frames = Multimodal.sampleFrames(media, everyN = 1)
      .toDF().drop("frame_md5")
    val w = Window.partitionBy("media_id").orderBy("frame_idx")
    val wr = Window.partitionBy("media_id")
      .orderBy(col("delta_abs").desc, col("frame_idx"))
    frames
      .withColumn("delta_abs",
        abs(col("frame_sum") - lag(col("frame_sum"), 1).over(w)))
      .filter(col("delta_abs").isNotNull)
      .withColumn("key_rank", row_number().over(wr).cast("bigint"))
      .filter(col("key_rank") <= 2)
      .select(col("media_id"), col("frame_idx"),
        col("frame_sum").cast("bigint").as("frame_sum"),
        col("delta_abs").cast("bigint").as("delta_abs"),
        col("key_rank"))
  }

  /** ViT-style 8×8 patch grid over each decoded PPM raster — one row
    * per full patch with exact integer byte stats.
    */
  def multimodalPatches(spark: SparkSession, sfDir: String): DataFrame = {
    val media = Multimodal.synthesizeMedia(
      Tables.distributed(spark, sfDir, "documents"), "doc_id")
    Multimodal.patchImages(media, patch = 8).toDF()
  }

  /** Perceptual 8×8 average-hash per decoded image (exact integer
    * threshold, two 32-bit halves — see [[Multimodal.imageAHash]]).
    */
  def multimodalAhash(spark: SparkSession, sfDir: String): DataFrame = {
    val media = Multimodal.synthesizeMedia(
      Tables.distributed(spark, sfDir, "documents"), "doc_id")
    Multimodal.imageAHash(media).toDF()
  }

  /** Image near-dup pairs: banded (lossless ≤ 3-bit) Hamming join over
    * the aHash table.
    */
  def dedupImageAhash(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal.ahashNearDupPairs(multimodalAhash(spark, sfDir), maxHamming = 3)

  /** REAL-FORMAT decode path (round 11): the synthesis raster encoded
    * as actual PNG and JPEG by `javax.imageio`, decoded back with
    * `ImageIO.read`, exact integer stats over the decoded RGB. PNG is
    * lossless, so its rows stay fully closed-form in the oracle (the
    * multimodal_features pixel arithmetic); JPEG is lossy, so its rows
    * are pinned by the committed per-JVM golden
    * `tools/jpeg_golden.csv` (DuckDB cannot decode JPEG). doc_id < 40
    * keeps the fixture SF-independent (ids 0–39 exist at every SF).
    */
  def multimodalJpeg(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.distributed(spark, sfDir, "documents")
      .where(col("doc_id") < 40).select("doc_id")
    Multimodal.imageIoFeatures(
      Multimodal.synthesizeImageIoMedia(docs, "doc_id")).toDF()
  }

  /** 256-sample analysis frames over each decoded WAV — exact integer
    * energy (Σv, Σv²) per frame.
    */
  def multimodalAudioFrames(spark: SparkSession, sfDir: String): DataFrame = {
    val media = Multimodal.synthesizeMedia(
      Tables.distributed(spark, sfDir, "documents"), "doc_id")
    Multimodal.audioFrames(media, frameLen = 256).toDF()
  }

  def streamingSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val events = StreamingPipeline.readEvents(spark, sfDir)
    StreamingPipeline.runToMemory(
      StreamingPipeline.sessionAgg(events), "graft_stream_sessions")
      .select("user_id", "session_start", "session_end", "n_events")
  }

  /** The row-level streaming sessionizer (batch `{key}_s{n}` ids)
    * through the real streaming engine. Gap semantics match both the
    * batch sessionizer and session_window (all strictly >, boundary
    * pinned by StreamingSpec); this query is the oracle-checked proof.
    */
  def streamingSessionIds(spark: SparkSession, sfDir: String): DataFrame = {
    val events = StreamingPipeline.readEvents(spark, sfDir)
    // ROW-LEVEL output (one row per event) → the parquet file sink:
    // the memory sink's driver-side collect WAS the round-16
    // "driver-bound 22 s" residual at sf10 — see runToParquet
    StreamingPipeline.runToParquet(
      StreamingPipeline.sessionIds(events).toDF(),
      "session-ids")._1
      .select("event_id", "user_id", "ts", "session_id")
  }

  /** Streaming twin of exact dedup: distinct content hashes through
    * the real streaming engine's dropDuplicates state store.
    */
  def streamingDedup(spark: SparkSession, sfDir: String): DataFrame =
    StreamingPipeline.runToMemory(
      StreamingPipeline.dedupHashes(
        StreamingPipeline.readDocuments(spark, sfDir)),
      "graft_stream_dedup",
      org.apache.spark.sql.streaming.OutputMode.Append())

  /** Same-user event pairs within 5 minutes through the real streaming
    * engine's watermarked stream-stream join state.
    */
  def streamingEventPairs(spark: SparkSession, sfDir: String): DataFrame =
    StreamingPipeline.runToMemory(
      StreamingPipeline.eventPairsStream(
        StreamingPipeline.readEvents(spark, sfDir)),
      "graft_stream_event_pairs",
      org.apache.spark.sql.streaming.OutputMode.Append())

  /** Incremental dedup through the real streaming engine: the 20%
    * "fresh" split streams in and is band-matched against the static
    * 80% base-corpus band table (stream-static join + one stateful
    * min aggregation). Output: every flagged fresh doc with its
    * smallest matching base id — the streaming twin of
    * `dedup_incremental`'s dup rows.
    */
  /** Streaming DSIR scoring — the live-ingest half of importance
    * selection: the 80% md5-split base corpus trains the hashed-ngram
    * models ONCE ([[graft.operators.Dsir.bucketModel]] — ≤4096 rows +
    * three driver-side totals, exactly an ANN index's lifecycle), and
    * the fresh 20% STREAMS in, each micro-batch scoring via the
    * broadcast model (stateless narrow work) + one stateful per-doc
    * aggregate. Unseen buckets survive the LEFT join and price as
    * maximally rare — the correct treatment of out-of-distribution
    * vocabulary at ingest time.
    */
  def streamingDsir(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.{Dsir, Sampling}
    val t80 = Sampling.fractionThreshold(0.8)
    def isBase = md5(concat(lit("dsir:"), col("doc_id").cast("string"))) < lit(t80)
    val docs = Tables.distributed(spark, sfDir, "documents")
    val (stats, tRaw, tTgt, totLr) = Dsir.bucketModel(
      docs.where(isBase), "doc_id", "text", col("lang") === "en", 4096)
    require(tTgt > 0, "streamingDsir: base target slice has no features")
    val fresh = StreamingPipeline.readDocuments(spark, sfDir)
      .where(!isBase).select("doc_id", "text")
    StreamingPipeline.runToMemory(
      Dsir.scoreAgainst(Dsir.gramRows(fresh, "doc_id", "text", 4096),
        "doc_id", stats, tRaw, totLr),
      "graft_stream_dsir")
  }

  def streamingIncrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.{Dedup, Sampling}
    val t80 = Sampling.fractionThreshold(0.8)
    def isBase = md5(concat(lit("inc:"), col("doc_id").cast("string"))) < lit(t80)
    val base = Tables.distributed(spark, sfDir, "documents")
      .select("doc_id", "text").where(isBase)
    val baseBands = Dedup.lshBands(
        Dedup.minhashSignatureTable(base, "doc_id", "text", 3, 9), "doc_id", 9, 3)
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("_base_id"))
    val fresh = StreamingPipeline.readDocuments(spark, sfDir)
      .where(!isBase).select("doc_id", "text")
    StreamingPipeline.runToMemory(
      StreamingPipeline.incrementalDupStream(fresh, baseBands),
      "graft_stream_inc_dedup")
  }

  /** Streaming multimodal dedup: odd-doc_id images stream in against
    * the static aHash band table of the even-doc_id base corpus (the
    * deterministic split guarantees at least one cross-split near-dup
    * pair exists in the fixtures); each matched fresh image reports its
    * smallest base near-duplicate.
    */
  def streamingImageDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.distributed(spark, sfDir, "documents")
      .where(col("doc_id") % 2 === 0)
    val baseBands = Multimodal.ahashBands(
        Multimodal.imageAHash(Multimodal.synthesizeMedia(base, "doc_id")).toDF())
      .select(col("bi"), col("bv"), col("media_id").as("_base_id"),
        col("hash_hi").as("_bh"), col("hash_lo").as("_bl"))
    val fresh = StreamingPipeline.readDocuments(spark, sfDir)
      .where(col("doc_id") % 2 === 1)
    val freshHashes = Multimodal.imageAHash(
      Multimodal.synthesizeMedia(fresh, "doc_id")).toDF()
    StreamingPipeline.runToMemory(
      StreamingPipeline.imageDupStream(freshHashes, baseBands),
      "graft_stream_img_dedup")
  }

  /** The reference's cron-driven cache refresh through the streaming
    * engine: events-derived client IPs stream into foreachBatch, each
    * batch runs detect-fetch-upsert-swap against a real parquet cache
    * path, and the query returns the final persisted cache (fully
    * deterministic with the static provider and fixed clock).
    */
  def streamingGeoCache(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = graft.Artifacts.tempDir("graft-stream-cache")
    val cachePath = s"$dir/geolocation_cache.parquet"
    val ips = StreamingPipeline.readEvents(spark, sfDir).select(
      concat(lit("10."), col("user_id") % 200, lit("."), col("event_id") % 250,
        lit("."), (col("event_id") * 7) % 250).as("client_ip"))
    StreamingPipeline.cacheRefreshStream(ips, cachePath,
      graft.sources.StaticGeoProvider(JoinQueries.FixedClock))
    spark.read.schema(graft.operators.GeoCache.schema).parquet(cachePath)
  }

  def streamingHourly(spark: SparkSession, sfDir: String): DataFrame = {
    val events = StreamingPipeline.readEvents(spark, sfDir)
    StreamingPipeline.runToMemory(
      StreamingPipeline.hourlyAgg(events), "graft_stream_hourly")
  }

  /** Streaming twin of the KMV distinct sketch: the SAME
    * Sketches.kmvDistinct transform over a file-source stream, run to
    * completion in Complete mode — sketch buffers are mergeable state,
    * which is exactly what makes bottom-k sketches streaming-native
    * (each trigger merges new partial sketches into the store; output
    * is always the sketch-of-everything-so-far). KMV gets the twin and
    * HLL doesn't because HLL's two cascaded groupBys would be two
    * stateful aggregations in one streaming query, which Spark
    * disallows; the KMV shape is one TypedImperativeAggregate.
    */
  def streamingDistinctKmv(spark: SparkSession, sfDir: String): DataFrame = {
    val events = StreamingPipeline.readEvents(spark, sfDir)
    StreamingPipeline.runToMemory(
      graft.operators.Sketches.kmvDistinct(
        events, Seq("event_type"), "user_id", k = 64),
      "graft_stream_kmv")
  }

  /** Streaming twin of [[SketchQueries.heavyHitters]]: the Space-Saving
    * buffer is mergeable state, so the one-aggregation shape runs as a
    * Complete-mode stateful query — each trigger merges new partial
    * sketches into the store; the explode + threshold filter are
    * stateless post-agg projections. Same exact-regime capacity, so
    * the batch oracle hash-matches the stream's final answer.
    */
  def streamingHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    val events = StreamingPipeline.readEvents(spark, sfDir)
    StreamingPipeline.runToMemory(
      graft.operators.Sketches.heavyHitters(
        events, Seq("event_type"), "user_id", minCount = 15L, capacity = 8192),
      "graft_stream_hh")
  }

  /** Reproducible train/val/test assignment + an independent 25%
    * sample flag, both pure functions of the row id.
    */
  def sampleSplit(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.assignSplit(
        Tables.events(spark, sfDir).select("event_id", "user_id"),
        "event_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .withColumn("in_quarter_sample",
        md5(concat(lit("sample:"), col("event_id").cast("string")))
          < lit(Sampling.fractionThreshold(0.25)))
  }

  /** Temperature-weighted corpus mixing: a ~50% budget drawn with
    * per-source shares following √n instead of n (small sources
    * up-weighted), membership a pure function of doc_id.
    */
  def mixtureSample(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Sampling.temperatureMixture(
      Tables.documents(spark, sfDir).select("doc_id", "source"),
      idCol = "doc_id", groupCol = "source", budgetFraction = 0.5)
      .select("doc_id", "source")

  /** Weight-proportional deterministic sample: P(keep) = value/40,
    * capped at 1 — high-value events oversampled, membership a pure
    * function of event_id.
    */
  def weightedSample(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Sampling.weightedSample(
      Tables.events(spark, sfDir).select("event_id", "user_id", "value"),
      idCol = "event_id", weightCol = "value", scaleWeight = 40.0)

  /** One-pass profile of the orders table: per-column row/null
    * distinct counts and min/max (see Profiling for the Expand-cost
    * note and the string-rendering contract). Distinct counts are
    * EXACT below the k=262144 sketch fill (machine-guaranteed by the
    * n_kept < k branch — every oracle SF is far below it) and a
    * ±0.6% bottom-k estimate past it: a profiler's job at 100 TB is
    * to keep answering, not to crash — the round-12 sf10 run showed
    * `exact = true` raising on o_orderkey's 15M keys mid-bench. The
    * fail-loud `exact = true` variant remains the right dial for
    * oracle-grade audit passes.
    */
  def profileColumns(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Profiling.profile(
      Tables.orders(spark, sfDir),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"),
      exact = false)

  /** Deterministic per-group downsample: at most 20 docs per language. */
  def capPerGroup(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Sampling.capPerGroup(
      Tables.documents(spark, sfDir).select("doc_id", "lang"),
      groupCol = "lang", idCol = "doc_id", cap = 20)

  /** Z-order (Morton) key computation — the layout primitive behind
    * [[graft.operators.Partitioning.writeZOrdered]], exposed as a
    * query so the bit-interleave arithmetic itself is oracle-checked
    * (the write-side pruning effect is proven in PartitioningSpec).
    */
  def zorderValue(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .select(col("event_id"),
        pmod(col("user_id"), lit(65536L)).as("a"),
        pmod(col("event_id") * 2654435761L, lit(65536L)).as("b"))
    e.withColumn("z",
      graft.operators.Partitioning.zValue2(col("a"), col("b")))
  }

  /** Hilbert-curve key computation — [[zorderValue]]'s companion on the
    * SAME quantized inputs, so the two layout keys are directly
    * comparable (and the write-side clustering effect is proven in
    * PartitioningSpec). The state-carrying rotate/flip walk runs as the
    * [[graft.functions.HilbertValue]] codegen kernel; the oracle mirrors
    * it as a 16-round chained-CTE unroll (generated, one CTE per bit
    * level — the zorder_value idiom at 4× the rounds because the
    * Hilbert step, unlike Morton's, carries rotation state).
    */
  def hilbertValue(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .select(col("event_id"),
        pmod(col("user_id"), lit(65536L)).as("a"),
        pmod(col("event_id") * 2654435761L, lit(65536L)).as("b"))
    e.withColumn("h",
      graft.functions.HilbertValue.hilbert_value(col("a"), col("b"), 16))
  }

  /** Pre-write shard-balance audit of the document corpus: 32 output
    * shards keyed on md5(doc_id), weighted by n_chars (the bytes-
    * written proxy). See [[graft.operators.Partitioning.shardBalance]]
    * for the planning contract.
    */
  def shardBalance(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Partitioning.shardBalance(
      Tables.documents(spark, sfDir).select("doc_id", "n_chars"),
      keyCol = "doc_id", weightCol = "n_chars", shards = 32)

  /** Source/sink format round-trip: the document corpus written to ORC
    * and to JSON-lines (the two beyond-reference ingest formats a
    * training pipeline actually meets — Hive-era columnar producers
    * and crawl/API JSONL), read back through each reader with an
    * EXPLICIT schema (inference is a drift source, not a feature), and
    * verified content-equal: the query emits each doc's text hash from
    * the ORC path plus a flag that the JSONL path returned the
    * identical bytes. Any loss — encoding, escaping, column type — is
    * a hash mismatch at the oracle, which reads the original table.
    */
  def formatRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("n_chars"))
    // per-SESSION unique dir, reused (overwritten) across invocations:
    // a fixed /tmp/graft-fmt-<hash> path let two concurrent drivers
    // over the same fixture race each other's mode(overwrite) against
    // the read-back, while a fresh dir per invocation accumulated a
    // 2-format corpus copy per bench repeat until /tmp filled.
    // createTempDirectory is unique per driver; the overwrite-in-place
    // reuse is the elb_pipeline run-dir discipline (a frame from a
    // PREVIOUS invocation must be consumed before the next one runs —
    // every harness here does).
    val base = graft.Artifacts.table(spark, "format_roundtrip", sfDir)(_ => ()).dir
    graft.sources.Sinks.orc(docs, s"$base/orc")
    graft.sources.Sinks.jsonl(docs, s"$base/jsonl")
    graft.sources.Sinks.avro(docs, s"$base/avro")
    val schema = docs.schema
    val fromOrc = spark.read.schema(schema).orc(s"$base/orc")
      .select(col("doc_id"), md5(col("text")).as("text_hash"),
        col("n_chars"))
    val fromJson = spark.read.schema(schema).json(s"$base/jsonl")
      .select(col("doc_id"), md5(col("text")).as("j_hash"))
    val fromAvro = spark.read.schema(schema).format(graft.sources.Sinks.AvroFormat)
      .load(s"$base/avro")
      .select(col("doc_id"), md5(col("text")).as("a_hash"))
    fromOrc.join(fromJson, Seq("doc_id")).join(fromAvro, Seq("doc_id"))
      .select(col("doc_id"), col("text_hash"), col("n_chars"),
        (col("text_hash") === col("j_hash")).cast("int").as("jsonl_match"),
        (col("text_hash") === col("a_hash")).cast("int").as("avro_match"))
  }

  /** Streaming twin of [[shardBalance]]'s assignment half: the
    * per-shard (row, weight) totals are mergeable state, so the audit
    * runs live as a Complete-mode aggregation — a writer can watch the
    * balance drift as the corpus streams in. The micro shares stay
    * batch-side (a post-aggregation global window isn't a streaming
    * shape); the twin emits the raw totals and the oracle rebuilds the
    * identical table.
    */
  def streamingShardBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = StreamingPipeline.readDocuments(spark, sfDir)
    val shard = pmod(
      conv(substring(md5(concat(lit("shard"), lit(":"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("bigint"),
      lit(32L))
    StreamingPipeline.runToMemory(
      docs.select(shard.as("shard"), col("n_chars"))
        .groupBy("shard")
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          sum(col("n_chars")).cast("bigint").as("sum_weight")),
      "graft_stream_shard")
  }

  /** Streaming twin of the count-min grid build
    * ([[graft.operators.Sketches.countMinCells]]): the (group, row,
    * bucket) count aggregate is mergeable state, so the grid runs as a
    * Complete-mode stateful query — each trigger folds new rows into
    * the stored sketch, which is exactly how a production pipeline
    * maintains a CMS it probes elsewhere. The batch oracle rebuilds
    * the identical grid.
    */
  def streamingCms(spark: SparkSession, sfDir: String): DataFrame = {
    val events = StreamingPipeline.readEvents(spark, sfDir)
    StreamingPipeline.runToMemory(
      graft.operators.Sketches.countMinCells(
        events, Seq("event_type"), "user_id", depth = 4, width = 256)
        .select(col("event_type"), col("_j").as("depth_row"),
          col("_bucket").as("bucket"), col("_n").as("n")),
      "graft_stream_cms")
  }

  /** URL canonicalization over deterministically synthesized crawl
    * URLs (case-shuffled hosts, default vs nonstandard ports, utm
    * params, shuffled order, fragments, trailing slashes — all derived
    * from events columns so both engines build the identical inputs).
    * Groups by canonical form: the URL-level dedup a crawl frontier
    * runs. See operators.Urls for the rules.
    */
  def urlNormalize(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val u = coalesce(col("user_id"), lit(0L))
    val url = concat(
      when(col("event_id") % 2 === 0, lit("HTTPS")).otherwise(lit("https")),
      lit("://"),
      when(u % 4 === 0, lit("Example.COM:443"))
        .when(u % 4 === 1, lit("example.com"))
        .when(u % 4 === 2, lit("EXAMPLE.com:8443"))
        .otherwise(lit("www.Example.com")),
      lit("/"), col("event_type"), lit("/item"),
      (col("event_id") % 50).cast("string"),
      when(col("event_id") % 3 === 0, lit("/")).otherwise(lit("")),
      lit("?utm_source=feed&z="), (u % 5).cast("string"),
      lit("&a="), (col("event_id") % 7).cast("string"),
      when(u % 2 === 0, lit("&utm_campaign=q")).otherwise(lit("")),
      when(col("event_id") % 5 === 0, lit("#frag")).otherwise(lit("")))
    e.select(url.as("url"))
      .groupBy(graft.operators.Urls.canonicalUrl(col("url")).as("canonical_url"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("url")).as("n_variants"),
        min(col("url")).as("sample_url"))
  }

  /** Deequ-style one-pass data-quality gate over `events` plus one
    * referential-integrity row (orders→customer). Six scan checks =
    * ONE wide aggregate (single scan, one-row shuffle); the RI row is
    * a broadcast left-anti count unioned on. `range_value` is
    * deliberately tighter than the data (max ≈ 490) so a nonzero
    * violation count flows through the report.
    */
  def dqChecks(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.DataQuality._
    val e = Tables.events(spark, sfDir)
    val scanReport = report(e, Seq(
      complete("event_id"), complete("user_id"),
      unique("event_id"),
      inRange("value", 0.0, 400.0),
      inSet("event_type", Seq("click", "error", "purchase", "signup", "view")),
      matches("props", "^\\{.*\\}$")))
    val ri = refIntegrity("ri_orders_custkey",
      Tables.orders(spark, sfDir), "o_custkey",
      Tables.customer(spark, sfDir), "c_custkey")
    scanReport.unionByName(ri)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_checks" -> dqChecks,
    "url_normalize" -> urlNormalize,
    "zorder_value" -> zorderValue,
    "hilbert_value" -> hilbertValue,
    "shard_balance" -> shardBalance,
    "streaming_shard_balance" -> streamingShardBalance,
    "format_roundtrip" -> formatRoundtrip,
    "sample_split" -> sampleSplit,
    "weighted_sample" -> weightedSample,
    "profile_columns" -> profileColumns,
    "cap_per_group" -> capPerGroup,
    "mixture_sample" -> mixtureSample,
    "multimodal_features" -> multimodalFeatures,
    "multimodal_ahash" -> multimodalAhash,
    "multimodal_jpeg" -> multimodalJpeg,
    "dedup_image_ahash" -> dedupImageAhash,
    "streaming_image_dedup" -> streamingImageDedup,
    "multimodal_resize" -> multimodalResize,
    "multimodal_frames" -> multimodalFrames,
    "multimodal_keyframes" -> multimodalKeyframes,
    "multimodal_patches" -> multimodalPatches,
    "multimodal_audio_frames" -> multimodalAudioFrames,
    "streaming_sessions" -> streamingSessions,
    "streaming_session_ids" -> streamingSessionIds,
    "streaming_hourly" -> streamingHourly,
    "streaming_distinct_kmv" -> streamingDistinctKmv,
    "streaming_heavy_hitters" -> streamingHeavyHitters,
    "streaming_dedup" -> streamingDedup,
    "streaming_event_pairs" -> streamingEventPairs,
    "streaming_incremental_dedup" -> streamingIncrementalDedup,
    "streaming_dsir" -> streamingDsir,
    "streaming_geo_cache" -> streamingGeoCache,
    "streaming_cms" -> streamingCms
  )

  private val t80 = graft.operators.Sampling.fractionThreshold(0.8)
  private val t90 = graft.operators.Sampling.fractionThreshold(0.9)
  private val t25 = graft.operators.Sampling.fractionThreshold(0.25)

  /** Closed-form aHash of the synthesized PPM images (pixel byte
    * i = (i + id) % 256 — Multimodal.synthesizePayload), shared by the
    * hash and near-dup-pair oracles: per pixel its 8×8 grid cell, per
    * cell the exact byte sum, bit = cross-multiplied mean comparison,
    * 64 bits packed into two 32-bit halves.
    */
  private val ahashCtes: String =
    """img AS (SELECT doc_id, CAST(16 + (doc_id % 8) * 4 AS BIGINT) AS w,
      |    CAST(12 + (doc_id % 5) * 4 AS BIGINT) AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |px AS (SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM img),
      |pxy AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM px),
      |cells AS (
      |  SELECT doc_id, w, h,
      |    (y * 8) // h * 8 + (x * 8) // w AS cell,
      |    (3*(y*w + x) + 0 + doc_id) % 256 + (3*(y*w + x) + 1 + doc_id) % 256
      |      + (3*(y*w + x) + 2 + doc_id) % 256 AS psum
      |  FROM pxy),
      |cs AS (SELECT doc_id, w, h, cell, CAST(sum(psum) AS BIGINT) AS cellsum,
      |    CAST(count(*) * 3 AS BIGINT) AS nbytes
      |  FROM cells GROUP BY doc_id, w, h, cell),
      |tot AS (SELECT doc_id, CAST(sum(cellsum) AS BIGINT) AS total
      |  FROM cs GROUP BY doc_id),
      |bits AS (SELECT cs.doc_id, w, h, cell,
      |    CASE WHEN cellsum * 3 * w * h > total * nbytes THEN 1 ELSE 0 END AS bit
      |  FROM cs JOIN tot ON cs.doc_id = tot.doc_id),
      |hs AS (SELECT doc_id, w, h,
      |    CAST(sum(CASE WHEN cell >= 32
      |      THEN bit * (1::BIGINT << CAST(cell - 32 AS INT)) ELSE 0 END) AS BIGINT) AS hash_hi,
      |    CAST(sum(CASE WHEN cell < 32
      |      THEN bit * (1::BIGINT << CAST(cell AS INT)) ELSE 0 END) AS BIGINT) AS hash_lo
      |  FROM bits GROUP BY doc_id, w, h)""".stripMargin

  val oracle: Map[String, String] = Map(
    "dq_checks" ->
      """WITH scan AS (
        |  SELECT
        |    count(*) FILTER (event_id IS NULL) AS complete_event_id,
        |    count(*) FILTER (user_id IS NULL) AS complete_user_id,
        |    count(event_id) - count(DISTINCT event_id) AS unique_event_id,
        |    count(*) FILTER (value < 0.0 OR value > 400.0) AS range_value,
        |    count(*) FILTER (event_type IS NOT NULL AND event_type NOT IN
        |      ('click', 'error', 'purchase', 'signup', 'view')) AS set_event_type,
        |    count(*) FILTER (props IS NOT NULL AND NOT regexp_matches(props, '^\{.*\}$'))
        |      AS pattern_props
        |  FROM events
        |), long AS (
        |  SELECT 'complete_event_id' AS check_name, complete_event_id AS violations FROM scan
        |  UNION ALL SELECT 'complete_user_id', complete_user_id FROM scan
        |  UNION ALL SELECT 'unique_event_id', unique_event_id FROM scan
        |  UNION ALL SELECT 'range_value', range_value FROM scan
        |  UNION ALL SELECT 'set_event_type', set_event_type FROM scan
        |  UNION ALL SELECT 'pattern_props', pattern_props FROM scan
        |  UNION ALL SELECT 'ri_orders_custkey',
        |    (SELECT count(*) FROM orders o
        |     WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |)
        |SELECT check_name, CAST(violations AS BIGINT) AS violations,
        |  violations = 0 AS passed
        |FROM long""".stripMargin,
    "url_normalize" ->
      """WITH u AS (
        |  SELECT
        |    (CASE WHEN event_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END)
        |    || '://'
        |    || (CASE coalesce(user_id, 0) % 4
        |          WHEN 0 THEN 'Example.COM:443'
        |          WHEN 1 THEN 'example.com'
        |          WHEN 2 THEN 'EXAMPLE.com:8443'
        |          ELSE 'www.Example.com' END)
        |    || '/' || event_type || '/item' || CAST(event_id % 50 AS VARCHAR)
        |    || (CASE WHEN event_id % 3 = 0 THEN '/' ELSE '' END)
        |    || '?utm_source=feed&z=' || CAST(coalesce(user_id, 0) % 5 AS VARCHAR)
        |    || '&a=' || CAST(event_id % 7 AS VARCHAR)
        |    || (CASE WHEN coalesce(user_id, 0) % 2 = 0
        |        THEN '&utm_campaign=q' ELSE '' END)
        |    || (CASE WHEN event_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM events
        |), s1 AS (
        |  SELECT url, split_part(url, '#', 1) AS nofrag FROM u
        |), s2 AS (
        |  SELECT url, lower(split_part(nofrag, '://', 1)) AS scheme,
        |    split_part(nofrag, '://', 2) AS rest FROM s1
        |), s3 AS (
        |  SELECT url, scheme, split_part(rest, '/', 1) AS hostport,
        |    substr(rest, length(split_part(rest, '/', 1)) + 1) AS pathq
        |  FROM s2
        |), s4 AS (
        |  SELECT url, scheme,
        |    lower(split_part(hostport, ':', 1)) AS host,
        |    split_part(hostport, ':', 2) AS port,
        |    split_part(pathq, '?', 1) AS path,
        |    split_part(pathq, '?', 2) AS rawq
        |  FROM s3
        |), s5 AS (
        |  SELECT url, scheme, host, port,
        |    regexp_replace(path, '/+$', '') AS cleanpath,
        |    array_to_string(list_sort(list_filter(string_split(rawq, '&'),
        |      p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&') AS params
        |  FROM s4
        |), canon AS (
        |  SELECT url,
        |    scheme || '://' || host
        |    || (CASE WHEN port <> ''
        |              AND NOT (scheme = 'https' AND port = '443')
        |              AND NOT (scheme = 'http' AND port = '80')
        |         THEN ':' || port ELSE '' END)
        |    || cleanpath
        |    || (CASE WHEN params <> '' THEN '?' || params ELSE '' END)
        |      AS canonical_url
        |  FROM s5
        |)
        |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT url) AS BIGINT) AS n_variants,
        |  min(url) AS sample_url
        |FROM canon GROUP BY 1""".stripMargin,
    // the streaming twin must converge to the batch sketch exactly
    "streaming_distinct_kmv" -> SketchQueries.oracle("distinct_kmv"),
    "streaming_cms" ->
      """WITH r AS (
        |  SELECT event_type, CAST(user_id AS VARCHAR) AS item
        |  FROM events WHERE user_id IS NOT NULL
        |)
        |SELECT event_type, CAST(j AS INT) AS depth_row,
        |  CAST(concat('0x', substr(md5('cms' || CAST(j AS VARCHAR)
        |    || ':' || item), 1, 15)) AS BIGINT) % 256 AS bucket,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM r, (SELECT unnest([0, 1, 2, 3]) AS j) js
        |GROUP BY 1, 2, 3""".stripMargin,
    "streaming_heavy_hitters" -> SketchQueries.oracle("heavy_hitters"),
    "zorder_value" ->
      """WITH q AS (
        |  SELECT event_id,
        |    user_id % 65536 AS a,
        |    (event_id * 2654435761) % 65536 AS b
        |  FROM events
        |), s1 AS (
        |  SELECT event_id, a, b,
        |    (a | (a << 8)) & 16711935 AS sa1, (b | (b << 8)) & 16711935 AS sb1
        |  FROM q
        |), s2 AS (
        |  SELECT event_id, a, b,
        |    (sa1 | (sa1 << 4)) & 252645135 AS sa2,
        |    (sb1 | (sb1 << 4)) & 252645135 AS sb2
        |  FROM s1
        |), s3 AS (
        |  SELECT event_id, a, b,
        |    (sa2 | (sa2 << 2)) & 858993459 AS sa3,
        |    (sb2 | (sb2 << 2)) & 858993459 AS sb3
        |  FROM s2
        |), s4 AS (
        |  SELECT event_id, a, b,
        |    (sa3 | (sa3 << 1)) & 1431655765 AS sa4,
        |    (sb3 | (sb3 << 1)) & 1431655765 AS sb4
        |  FROM s3
        |)
        |SELECT event_id, a, b, sa4 | (sb4 << 1) AS z FROM s4""".stripMargin,
    "hilbert_value" -> HilbertOracle,
    "shard_balance" ->
      """WITH a AS (
        |  SELECT CAST(concat('0x', substr(md5('shard:' ||
        |      CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 32 AS shard,
        |    n_chars
        |  FROM documents
        |), g AS (
        |  SELECT shard, count(*) AS n_rows, sum(n_chars) AS sum_weight
        |  FROM a GROUP BY 1
        |)
        |SELECT shard, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(sum_weight AS BIGINT) AS sum_weight,
        |  CAST((n_rows * 1000000) // (sum(n_rows) OVER ()) AS BIGINT)
        |    AS rows_share_micro,
        |  CAST((sum_weight * 1000000) // (sum(sum_weight) OVER ()) AS BIGINT)
        |    AS weight_share_micro
        |FROM g""".stripMargin,
    "format_roundtrip" ->
      """SELECT doc_id, md5(text) AS text_hash, n_chars,
        |  1 AS jsonl_match, 1 AS avro_match
        |FROM documents""".stripMargin,
    "streaming_shard_balance" ->
      """SELECT CAST(concat('0x', substr(md5('shard:' ||
        |    CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 32 AS shard,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_weight
        |FROM documents GROUP BY 1""".stripMargin,
    "sample_split" ->
      s"""SELECT event_id, user_id,
         |  CASE WHEN md5('split:' || CAST(event_id AS VARCHAR)) < '$t80' THEN 'train'
         |       WHEN md5('split:' || CAST(event_id AS VARCHAR)) < '$t90' THEN 'val'
         |       ELSE 'test' END AS split,
         |  md5('sample:' || CAST(event_id AS VARCHAR)) < '$t25' AS in_quarter_sample
         |FROM events""".stripMargin,
    "weighted_sample" ->
      """SELECT event_id, user_id, value
        |FROM events
        |WHERE CAST(concat('0x',
        |    substr(md5('wsamp:' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)::DOUBLE
        |  / 1152921504606846976.0 < value / 40.0""".stripMargin,
    "profile_columns" -> {
      def one(c: String, numeric: Boolean): String = {
        val mn = if (numeric) s"CAST(CAST(min($c) AS DECIMAL(28,6)) AS VARCHAR)"
                 else s"CAST(min($c) AS VARCHAR)"
        val mx = if (numeric) s"CAST(CAST(max($c) AS DECIMAL(28,6)) AS VARCHAR)"
                 else s"CAST(max($c) AS VARCHAR)"
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  $mn AS min_value, $mx AS max_value,
           |  count(DISTINCT $c) < ${graft.operators.Profiling.kmvK} AS is_exact
           |FROM orders""".stripMargin
      }
      Seq(one("o_orderkey", false), one("o_custkey", false),
        one("o_orderstatus", false), one("o_totalprice", true),
        one("o_orderdate", false), one("o_orderpriority", false))
        .mkString("\nUNION ALL\n")
    },
    "streaming_event_pairs" ->
      """SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id
        |FROM events a JOIN events b ON a.user_id = b.user_id
        | AND epoch_us(b.ts) > epoch_us(a.ts)
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 300000000""".stripMargin,
    "streaming_dsir" ->
      s"""WITH m AS (SELECT doc_id,
         |    md5('dsir:' || CAST(doc_id AS VARCHAR))
         |      < '${graft.operators.Sampling.fractionThreshold(0.8)}'
         |      AS is_base
         |  FROM documents),
         |w AS (SELECT d.doc_id, m.is_base, d.lang = 'en' AS tgt,
         |    string_split(d.text, ' ') AS words
         |  FROM documents d JOIN m USING (doc_id)),
         |g AS (SELECT doc_id, is_base, tgt, unnest(words) AS gram FROM w
         |  UNION ALL
         |  SELECT doc_id, is_base, tgt, words[i] || ' ' || words[i+1] AS gram
         |  FROM (SELECT doc_id, is_base, tgt, words,
         |          unnest(generate_series(1, len(words) - 1)) AS i FROM w)),
         |b AS (SELECT doc_id, is_base, tgt,
         |    CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) % 4096
         |      AS bk FROM g),
         |stats AS (SELECT bk, CAST(count(*) AS BIGINT) AS cr,
         |    CAST(count(*) FILTER (WHERE tgt) AS BIGINT) AS ct
         |  FROM b WHERE is_base GROUP BY bk),
         |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS traw,
         |    CAST(sum(cr * ((length(bin(ct + 1)) - 1)
         |      - (length(bin(cr + 1)) - 1))) AS BIGINT) AS tlr FROM stats),
         |sc AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |    CAST(sum((length(bin(coalesce(s.ct, 0) + 1)) - 1)
         |      - (length(bin(coalesce(s.cr, 0) + 1)) - 1)) AS BIGINT)
         |      AS dsir_lr
         |  FROM b LEFT JOIN stats s USING (bk)
         |  WHERE NOT b.is_base GROUP BY b.doc_id)
         |SELECT sc.doc_id, sc.n_grams, sc.dsir_lr,
         |  CAST(sc.dsir_lr AS HUGEINT) * tot.traw
         |    > CAST(sc.n_grams AS HUGEINT) * tot.tlr AS selected
         |FROM sc CROSS JOIN tot""".stripMargin,
    "streaming_incremental_dedup" ->
      s"""WITH shr AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(words) - 2),
         |    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS sh
         |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)),
         |sigs AS (SELECT doc_id, ${DocQueries.sigExprs}
         |  FROM shr GROUP BY doc_id),
         |bands AS (${DocQueries.bandSelects}),
         |m AS (SELECT doc_id,
         |        md5('inc:' || CAST(doc_id AS VARCHAR))
         |          < '${graft.operators.Sampling.fractionThreshold(0.8)}' AS is_base
         |      FROM documents)
         |SELECT f.doc_id, min(b.doc_id) AS dup_of
         |FROM bands f JOIN m mf ON f.doc_id = mf.doc_id AND NOT mf.is_base
         |JOIN bands b ON f.band_idx = b.band_idx AND f.band_hash = b.band_hash
         |JOIN m mb ON b.doc_id = mb.doc_id AND mb.is_base
         |GROUP BY f.doc_id""".stripMargin,
    "mixture_sample" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
        |        CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS w
        |      FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total,
        |        CAST(sum(w) AS BIGINT) AS wsum FROM c),
        |f AS (SELECT c.source,
        |        least(1.0,
        |          CAST(CAST(floor(CAST(t.total AS DOUBLE) * 0.5) AS BIGINT)
        |              * c.w AS DOUBLE)
        |            / CAST(t.wsum * c.n AS DOUBLE)) AS fr
        |      FROM c CROSS JOIN t)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN f ON d.source = f.source
        |WHERE CAST(concat('0x',
        |    substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)::DOUBLE
        |  / 1152921504606846976.0 < f.fr""".stripMargin,
    "cap_per_group" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) WHERE rn <= 20""".stripMargin,
    // Mirrors Multimodal.synthesizePayload in closed form: pixel byte
    // i = (i+id)%256 and sample k = ((k+id)%2001)-1000 are arithmetic
    // progressions mod a period, so sums/min/max over any length have
    // exact integer closed forms (full cycles + a consecutive-residue
    // tail; sum of squares via the square-pyramidal p(m)=m(m+1)(2m+1)/6).
    // Validated against brute-force simulation for ids 0..600 and
    // 64-bit outliers before registration.
    // sample k of audio id is ((k + id) % 2001) - 1000, ns = 500+id%300
    // (Multimodal.synthesizePayload); the oracle materializes each
    // 256-sample frame from that formula.
    "multimodal_audio_frames" ->
      """WITH p AS (SELECT doc_id, CAST(500 + doc_id % 300 AS BIGINT) AS ns
        |  FROM documents WHERE doc_id % 3 = 1),
        |f AS (SELECT doc_id, ns,
        |    unnest(generate_series(0, ns // 256 - 1)) AS frame_idx FROM p)
        |SELECT doc_id AS media_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(256 AS INT) AS n_samples,
        |  CAST(list_sum(list_transform(generate_series(0, 255), k ->
        |    ((frame_idx*256 + k + doc_id) % 2001) - 1000)) AS BIGINT) AS frame_sum,
        |  CAST(list_sum(list_transform(generate_series(0, 255), k ->
        |    (((frame_idx*256 + k + doc_id) % 2001) - 1000)
        |    * (((frame_idx*256 + k + doc_id) % 2001) - 1000))) AS BIGINT) AS frame_sumsq
        |FROM f""".stripMargin,
    // pixel byte i of image id is (i + id) % 256 with i = 3*(y*iw+x)+c
    // (Multimodal.synthesizePayload); the oracle materializes each
    // patch's 192 byte values from that formula and aggregates them.
    "multimodal_ahash" ->
      s"""WITH $ahashCtes
         |SELECT doc_id AS media_id, CAST(w AS INT) AS width,
         |  CAST(h AS INT) AS height, hash_hi, hash_lo
         |FROM hs""".stripMargin,
    "dedup_image_ahash" ->
      s"""WITH $ahashCtes
         |SELECT id_a, id_b, hamming FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(bit_count(xor(a.hash_lo::BIT, b.hash_lo::BIT))
         |      + bit_count(xor(a.hash_hi::BIT, b.hash_hi::BIT)) AS BIGINT) AS hamming
         |  FROM hs a JOIN hs b ON b.doc_id > a.doc_id)
         |WHERE hamming <= 3""".stripMargin,
    "streaming_image_dedup" ->
      s"""WITH $ahashCtes
         |SELECT f.doc_id AS media_id, min(b.doc_id) AS dup_of
         |FROM hs f JOIN hs b
         |  ON f.doc_id % 2 = 1 AND b.doc_id % 2 = 0
         | AND bit_count(xor(f.hash_lo::BIT, b.hash_lo::BIT))
         |   + bit_count(xor(f.hash_hi::BIT, b.hash_hi::BIT)) <= 3
         |GROUP BY f.doc_id""".stripMargin,
    "multimodal_patches" ->
      """WITH p AS (SELECT doc_id, CAST(16 + (doc_id % 8) * 4 AS BIGINT) AS iw,
        |    CAST(12 + (doc_id % 5) * 4 AS BIGINT) AS ih
        |  FROM documents WHERE doc_id % 3 = 0),
        |gx AS (SELECT doc_id, iw, ih,
        |    unnest(generate_series(0, iw // 8 - 1)) AS px FROM p),
        |gxy AS (SELECT doc_id, iw, ih, px,
        |    unnest(generate_series(0, ih // 8 - 1)) AS py FROM gx)
        |SELECT doc_id AS media_id, CAST(px AS INT) AS px, CAST(py AS INT) AS py,
        |  CAST(192 AS INT) AS n_bytes,
        |  CAST(list_sum(flatten(list_transform(generate_series(0, 7), dy ->
        |    list_transform(generate_series(0, 23), k ->
        |      (3*((py*8+dy)*iw + px*8) + k + doc_id) % 256)))) AS BIGINT) AS sum_bytes,
        |  CAST(list_min(flatten(list_transform(generate_series(0, 7), dy ->
        |    list_transform(generate_series(0, 23), k ->
        |      (3*((py*8+dy)*iw + px*8) + k + doc_id) % 256)))) AS INT) AS min_byte,
        |  CAST(list_max(flatten(list_transform(generate_series(0, 7), dy ->
        |    list_transform(generate_series(0, 23), k ->
        |      (3*((py*8+dy)*iw + px*8) + k + doc_id) % 256)))) AS INT) AS max_byte
        |FROM gxy""".stripMargin,
    "multimodal_jpeg" ->
      """WITH ids AS (SELECT doc_id, 16 + (doc_id % 8) * 4 AS iw,
        |    12 + (doc_id % 5) * 4 AS ih
        |  FROM documents WHERE doc_id < 40),
        |png AS (SELECT doc_id, iw, ih, iw*ih*3 AS n, doc_id % 256 AS a,
        |    (iw*ih*3) // 256 AS k, (iw*ih*3) % 256 AS r FROM ids)
        |SELECT CAST(doc_id AS BIGINT) AS media_id, 'png' AS format,
        |  CAST(iw AS INT) AS width, CAST(ih AS INT) AS height,
        |  CAST(k*32640 + CASE WHEN a + r <= 256 THEN r*a + r*(r-1)//2
        |    ELSE (256-a)*(a+255)//2 + (r-256+a)*(r-256+a-1)//2 END
        |    AS BIGINT) AS px_sum,
        |  CAST(CASE WHEN a + n > 256 THEN 0 ELSE a END AS INT) AS px_min,
        |  CAST(CASE WHEN a + n >= 256 THEN 255 ELSE a + n - 1 END AS INT) AS px_max
        |FROM png
        |UNION ALL
        |SELECT CAST(f.media_id AS BIGINT), f.format,
        |  CAST(f.width AS INT), CAST(f.height AS INT),
        |  CAST(f.px_sum AS BIGINT), CAST(f.px_min AS INT),
        |  CAST(f.px_max AS INT)
        |FROM read_csv('/root/repo/tools/jpeg_golden.csv', header=true) f
        |JOIN ids d ON d.doc_id = f.media_id""".stripMargin,
    "multimodal_features" ->
      """WITH p AS (SELECT doc_id, doc_id % 3 AS m3,
        |    16 + (doc_id % 8) * 4 AS iw, 12 + (doc_id % 5) * 4 AS ih,
        |    CAST(8000 + (doc_id % 3) * 4000 AS INT) AS rate,
        |    500 + doc_id % 300 AS ns,
        |    CAST(4 + doc_id % 12 AS INT) AS nf
        |  FROM documents),
        |img AS (SELECT doc_id, iw, ih, iw*ih*3 AS n, doc_id % 256 AS a,
        |    (iw*ih*3) // 256 AS k, (iw*ih*3) % 256 AS r FROM p WHERE m3 = 0),
        |vid AS (SELECT doc_id, nf, nf*192 AS n, doc_id % 256 AS a,
        |    (nf*192) // 256 AS k, (nf*192) % 256 AS r FROM p WHERE m3 = 2),
        |aud AS (SELECT doc_id, rate, ns, doc_id % 2001 AS a2,
        |    ns // 2001 AS k2, ns % 2001 AS r2 FROM p WHERE m3 = 1)
        |SELECT doc_id AS media_id, 'image' AS media_type,
        |  CAST(9 + length(CAST(iw AS VARCHAR)) + length(CAST(ih AS VARCHAR))
        |    + n AS BIGINT) AS byte_len,
        |  CAST(iw AS INT) AS width, CAST(ih AS INT) AS height,
        |  CAST(k*32640 + CASE WHEN a + r <= 256 THEN r*a + r*(r-1)//2
        |    ELSE (256-a)*(a+255)//2 + (r-256+a)*(r-256+a-1)//2 END
        |    AS BIGINT) AS px_sum,
        |  CAST(CASE WHEN a + n > 256 THEN 0 ELSE a END AS INT) AS px_min,
        |  CAST(CASE WHEN a + n >= 256 THEN 255 ELSE a + n - 1 END AS INT) AS px_max,
        |  CAST(NULL AS INT) AS sample_rate, CAST(NULL AS BIGINT) AS n_samples,
        |  CAST(NULL AS BIGINT) AS audio_sum, CAST(NULL AS BIGINT) AS audio_sumsq,
        |  CAST(NULL AS INT) AS n_frames
        |FROM img
        |UNION ALL
        |SELECT doc_id, 'audio', CAST(44 + 2*ns AS BIGINT),
        |  NULL, NULL, NULL, NULL, NULL, rate, CAST(ns AS BIGINT),
        |  CAST(k2*2001000 + CASE WHEN a2 + r2 <= 2001 THEN r2*a2 + r2*(r2-1)//2
        |    ELSE (2001-a2)*(a2+2000)//2 + (r2-2001+a2)*(r2-2001+a2-1)//2 END
        |    - 1000*ns AS BIGINT),
        |  CAST(k2*2668667000 + CASE WHEN a2 + r2 <= 2001
        |      THEN (a2+r2-1)*(a2+r2)*(2*(a2+r2)-1)//6 - (a2-1)*a2*(2*a2-1)//6
        |      ELSE 2668667000 - (a2-1)*a2*(2*a2-1)//6
        |        + (r2-2001+a2-1)*(r2-2001+a2)*(2*(r2-2001+a2)-1)//6 END
        |    - 2000*(k2*2001000 + CASE WHEN a2 + r2 <= 2001
        |      THEN r2*a2 + r2*(r2-1)//2
        |      ELSE (2001-a2)*(a2+2000)//2 + (r2-2001+a2)*(r2-2001+a2-1)//2 END)
        |    + 1000000*ns AS BIGINT),
        |  NULL
        |FROM aud
        |UNION ALL
        |SELECT doc_id, 'video', CAST(16 + n AS BIGINT),
        |  CAST(16 AS INT), CAST(12 AS INT),
        |  CAST(k*32640 + CASE WHEN a + r <= 256 THEN r*a + r*(r-1)//2
        |    ELSE (256-a)*(a+255)//2 + (r-256+a)*(r-256+a-1)//2 END AS BIGINT),
        |  CAST(CASE WHEN a + n > 256 THEN 0 ELSE a END AS INT),
        |  CAST(CASE WHEN a + n >= 256 THEN 255 ELSE a + n - 1 END AS INT),
        |  NULL, NULL, NULL, NULL, CAST(nf AS INT)
        |FROM vid""".stripMargin,
    "streaming_sessions" ->
      """WITH d AS (
        |  SELECT user_id, ts,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
        |      OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
        |    THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS sn FROM d)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, sn""".stripMargin,
    "streaming_session_ids" ->
      """WITH d AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |    THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) AS sn FROM d)
        |SELECT event_id, user_id, ts,
        |  user_id || '_s' || sn AS session_id
        |FROM s""".stripMargin,
    // Nearest-neighbor oracle: enumerate the 24×18×3 output lattice,
    // map each cell to its floor-rule source index, evaluate the pixel
    // formula there — a resample-indexing bug in the engine diverges.
    "multimodal_resize" ->
      """WITH p AS (SELECT doc_id, 16 + (doc_id % 8) * 4 AS iw,
        |    12 + (doc_id % 5) * 4 AS ih
        |  FROM documents WHERE doc_id % 3 = 0),
        |g AS (SELECT p.doc_id, p.iw, p.ih,
        |    (((y.gy * p.ih) // 18) * p.iw + ((x.gx * p.iw) // 24)) * 3 + c.gc AS si
        |  FROM p
        |  CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS gx) x
        |  CROSS JOIN (SELECT unnest(generate_series(0, 17)) AS gy) y
        |  CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS gc) c)
        |SELECT doc_id AS media_id, CAST(iw AS INT) AS src_w,
        |  CAST(ih AS INT) AS src_h,
        |  CAST(24 AS INT) AS out_w, CAST(18 AS INT) AS out_h,
        |  CAST(sum((si + doc_id) % 256) AS BIGINT) AS px_sum,
        |  CAST(min((si + doc_id) % 256) AS INT) AS px_min,
        |  CAST(max((si + doc_id) % 256) AS INT) AS px_max
        |FROM g GROUP BY doc_id, iw, ih""".stripMargin,
    // Frame f of video id covers global bytes [f·192, (f+1)·192) whose
    // values are the consecutive residues starting at (id + f·192) %
    // 256 — closed-form sum/min/max per sampled frame.
    "multimodal_frames" ->
      """WITH p AS (SELECT doc_id, CAST(4 + doc_id % 12 AS INT) AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT doc_id,
        |    unnest(generate_series(0, CAST(nf - 1 AS BIGINT), 2)) AS fi FROM p),
        |s AS (SELECT doc_id, fi, (doc_id + fi * 192) % 256 AS a FROM f)
        |SELECT doc_id AS media_id, CAST(fi AS INT) AS frame_idx,
        |  CAST(CASE WHEN a + 192 <= 256 THEN 192*a + 192*191//2
        |    ELSE (256-a)*(a+255)//2 + (a-64)*(a-65)//2 END AS BIGINT) AS frame_sum,
        |  CAST(CASE WHEN a > 64 THEN 0 ELSE a END AS INT) AS frame_min,
        |  CAST(CASE WHEN a >= 64 THEN 255 ELSE a + 191 END AS INT) AS frame_max
        |FROM s""".stripMargin,
    "multimodal_keyframes" ->
      """WITH p AS (SELECT doc_id, CAST(4 + doc_id % 12 AS INT) AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT doc_id,
        |    unnest(generate_series(0, CAST(nf - 1 AS BIGINT), 1)) AS fi FROM p),
        |s AS (SELECT doc_id, fi, (doc_id + fi * 192) % 256 AS a FROM f),
        |fs AS (SELECT doc_id AS media_id, CAST(fi AS INT) AS frame_idx,
        |  CAST(CASE WHEN a + 192 <= 256 THEN 192*a + 192*191//2
        |    ELSE (256-a)*(a+255)//2 + (a-64)*(a-65)//2 END AS BIGINT) AS frame_sum
        |  FROM s),
        |d AS (SELECT media_id, frame_idx, frame_sum,
        |  abs(frame_sum - lag(frame_sum)
        |    OVER (PARTITION BY media_id ORDER BY frame_idx)) AS delta_abs
        |  FROM fs),
        |r AS (SELECT *, row_number()
        |    OVER (PARTITION BY media_id ORDER BY delta_abs DESC, frame_idx) AS rn
        |  FROM d WHERE delta_abs IS NOT NULL)
        |SELECT media_id, frame_idx, frame_sum,
        |  CAST(delta_abs AS BIGINT) AS delta_abs, CAST(rn AS BIGINT) AS key_rank
        |FROM r WHERE rn <= 2""".stripMargin,
    "streaming_dedup" ->
      "SELECT DISTINCT md5(text) AS text_hash FROM documents",
    "streaming_geo_cache" ->
      """SELECT DISTINCT
        |  '10.' || b || '.' || c || '.' || d AS client_ip,
        |  CASE WHEN d % 97 = 0 THEN 'Error' ELSE 'C' || (d % 5) END AS countryCode,
        |  CASE WHEN d % 97 = 0 THEN 'Error' ELSE 'Country-' || (d % 5) END AS countryName,
        |  CASE WHEN d % 97 = 0 THEN 'Error' ELSE 'R' || (c % 10) END AS regionName,
        |  CASE WHEN d % 97 = 0 THEN 'Error' ELSE 'City-' || ((c + d) % 20) END AS city,
        |  CASE WHEN d % 97 = 0 THEN NULL ELSE (d % 180) - 90 + 0.5 END AS lat,
        |  CASE WHEN d % 97 = 0 THEN NULL ELSE (c % 360) - 180 + 0.25 END AS lon,
        |  CASE WHEN d % 97 = 0 THEN 'Error' ELSE 'ISP-' || (b % 3) END AS isp,
        |  TIMESTAMP '2026-01-01 00:00:00' AS api_fetch_timestamp
        |FROM (SELECT user_id % 200 AS b, event_id % 250 AS c,
        |        (event_id*7) % 250 AS d FROM events)""".stripMargin,
    "streaming_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 3) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin
  )

  /** Generated 16-round Hilbert xy→d unroll: one CTE per bit level —
    * the walk's (x, y, d) state threads through the CTE chain exactly
    * as it threads through the kernel's loop variables. Quadrant
    * `(3·rx) XOR ry` is spelled as the equivalent CASE (rx=1 → 3−ry,
    * else ry); the ry=0 rotate/flip is the two symmetric CASEs on
    * (x, y).
    */
  private lazy val HilbertOracle: String = {
    val mask = 65535L
    val rounds = (0 until 16).map { k =>
      val s = 1L << (15 - k)
      s"""r${k + 1} AS (
         |  SELECT event_id, a, b,
         |    d + ${s * s} * (CASE WHEN (x & $s) > 0
         |        THEN 3 - (CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)
         |        ELSE (CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END) END) AS d,
         |    CASE WHEN (y & $s) > 0 THEN x
         |         WHEN (x & $s) > 0 THEN $mask - y ELSE y END AS x,
         |    CASE WHEN (y & $s) > 0 THEN y
         |         WHEN (x & $s) > 0 THEN $mask - x ELSE x END AS y
         |  FROM r$k)""".stripMargin
    }
    s"""WITH r0 AS (
       |  SELECT event_id, user_id % 65536 AS a,
       |    (event_id * 2654435761) % 65536 AS b,
       |    CAST(0 AS BIGINT) AS d,
       |    user_id % 65536 AS x,
       |    (event_id * 2654435761) % 65536 AS y
       |  FROM events),
       |${rounds.mkString(",\n")}
       |SELECT event_id, a, b, d AS h FROM r16""".stripMargin
  }
}
