package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming twin of the batch pipeline (SURVEY.md §2.8).
  * The reference approximates incrementality with a 2-minute cron
  * re-run; here the same semantics are event-time native:
  * `Trigger.AvailableNow` = "process what's there, then stop" — exactly
  * the cron contract — while watermarks bound state for true
  * continuous runs.
  */
object StreamingPipeline {

  /** File-source stream over the events table: the source path must be
    * a DIRECTORY for a file stream, so point at the sf dir and glob the
    * table's file(s).
    *
    * A file stream needs an explicit schema, but hard-coding one is how
    * round 7 got four silently-wrong answers: the fixtures switched from
    * INT64-nanos to timestamp[us], the pinned `ts: LongType` schema read
    * the µs values "successfully", and the ns→µs DIV collapsed every
    * timestamp 1000× toward 1970. So take the schema from a batch footer
    * read of the SAME file (one cheap driver-side metadata read) and
    * normalize `ts` with the shared [[graft.Tables.normalizeTs]] branch —
    * drift now either adapts or fails analysis loudly, never lies.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fileSchema = spark.read
      .option("pathGlobFilter", "events.parquet").parquet(dir).schema
    spark.readStream.schema(fileSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("ts", graft.Tables.normalizeTs(fileSchema("ts").dataType))
  }

  /** 30-min-gap sessions via the native session_window: one state store
    * keyed by (user, window); watermark bounds state growth in
    * continuous mode.
    *
    * Boundary semantics, pinned empirically by StreamingSpec: session
    * windows MERGE when they touch, so an event at exactly
    * `prev + gap` extends the session — the SAME strictly-> gap rule as
    * the batch sessionizer and pandas. (An earlier note here claimed ≥
    * divergence; the boundary test disproved it.) For row-level ids in
    * the batch `{key}_s{n}` format use [[sessionIds]], whose
    * oracle-verified twin is the `streaming_session_ids` query.
    */
  /** Enable the local-partition session pre-merge — collapses each
    * micro-batch partition's events into merged candidate sessions
    * MAP-SIDE before the state store sees them (round-16 directive:
    * state operations then scale with sessions, not events — the
    * aggregation analog of map-side combine; off upstream only because
    * of the added per-partition sort, and our batches are event-heavy
    * per key). This is a SESSION-GLOBAL physical-planning conf with no
    * per-query scope, so it is set HERE, explicitly, by the query
    * composition roots that want it — never as a hidden side effect
    * inside a pure-looking builder (round-17 ADVICE). It is
    * semantics-preserving for every other streaming query, so the
    * one-way latch is safe.
    */
  def enableLocalSessionMerge(spark: SparkSession): Unit =
    spark.conf.set(
      "spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition",
      "true")

  /** Point every checkpoint surface (offset/commit logs, file-source
    * and file-sink metadata logs, state store deltas/snapshots) at
    * [[org.apache.spark.sql.execution.streaming.checkpointing
    * .NioCheckpointFileManager]] — round 17. Without the Hadoop native
    * library, Hadoop's local filesystems FORK a `chmod` per
    * permissioned create/mkdir and write `.crc` siblings per file;
    * state-store provider inits serialize those forks under the global
    * `loadedProviders` lock (thread dump: 31/32 task threads queued
    * behind one `Shell.runCommand`). The NIO manager keeps the same
    * atomic-rename contract through plain syscalls. Session-global by
    * nature (the conf is read per started query), so it is set HERE,
    * explicitly, by the run entry points — never inside a query
    * builder; deployments checkpointing to HDFS/S3 must not enable it
    * (the manager fail-louds on non-local paths). Set-if-absent so an
    * operator's explicit choice of manager wins.
    */
  def enableNioCheckpoints(spark: SparkSession): Unit =
    if (spark.conf.getOption(
        "spark.sql.streaming.checkpointFileManagerClass").isEmpty)
      spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.NioCheckpointFileManager")

  def sessionAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame = {
    events.withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))
  }

  /** Tumbling hourly rollup — the streaming twin of the hourly
    * aggregate (reference elb_logs.py:351-368).
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 3).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  case class SessState(lastTs: Long, sessionNumber: Long)
  case class SessionizedEvent(event_id: Long, user_id: Long, ts: Timestamp, session_id: String)

  /** Custom-state sessionizer producing the batch pipeline's exact
    * `"{key}_s{n}"` ids via flatMapGroupsWithState — the escape hatch
    * for state machines session_window can't express. Events are sorted
    * in-memory per (key, trigger): correct when a key's per-trigger
    * volume fits an executor, the standard caveat for this operator.
    *
    * Continuous-mode state hygiene: the input carries a watermark and
    * the state an EVENT-TIME TIMEOUT at `lastTs + idleEvictMinutes` —
    * once the watermark passes it, the key's (tiny, fixed-size) state
    * is evicted, so total state is bounded by the number of keys ACTIVE
    * within the eviction horizon, not ever seen. Rows later than the
    * watermark are dropped (in-function guard, same `< watermark` rule
    * Spark applies to windowed aggregates). Documented consequence of
    * eviction: a key returning after the horizon restarts numbering at
    * `_s0` — pick a horizon long enough for your id-uniqueness window,
    * the same contract any TTL'd sessionizer carries.
    */
  def sessionIds(events: DataFrame, gapMinutes: Int = 30,
      watermarkDelay: String = "10 minutes",
      idleEvictMinutes: Int = 120): Dataset[SessionizedEvent] = {
    import events.sparkSession.implicits._
    require(idleEvictMinutes >= gapMinutes,
      s"eviction horizon $idleEvictMinutes min must cover the session gap $gapMinutes min")
    val gapMicros = gapMinutes.toLong * 60 * 1000000
    val idleMs = idleEvictMinutes.toLong * 60 * 1000
    events.withWatermark("ts", watermarkDelay)
      .select(col("event_id"), col("user_id"), col("ts"))
      .as[(Long, Long, Timestamp)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[SessState, SessionizedEvent](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            // watermark passed lastTs + horizon: no on-time event can
            // extend this session; drop the key's state entirely
            state.remove()
            Iterator.empty
          } else {
            val wmMicros = state.getCurrentWatermarkMs * 1000
            val sorted = rows.toSeq.sortBy(r => (micros(r._3), r._1))
              .dropWhile(r => micros(r._3) < wmMicros) // late beyond watermark
            var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L))
            val out = sorted.map { case (eid, uid, ts) =>
              val t = micros(ts)
              val newSession = st.lastTs != Long.MinValue && t - st.lastTs > gapMicros
              val n = if (newSession) st.sessionNumber + 1 else st.sessionNumber
              st = SessState(math.max(t, st.lastTs), n)
              SessionizedEvent(eid, uid, ts, s"${uid}_s$n")
            }
            if (st.lastTs != Long.MinValue) {
              state.update(st)
              state.setTimeoutTimestamp(
                math.max(st.lastTs / 1000 + idleMs, state.getCurrentWatermarkMs + 1))
            }
            out.iterator
          }
      }
  }

  /** Exact epoch micros: Timestamp.getTime is ms-truncated; the µs live
    * in getNanos.
    */
  def micros(ts: Timestamp): Long =
    ts.getTime / 1000 * 1000000 + ts.getNanos / 1000

  case class RollState(recent: List[(Long, Double)])
  case class RollingEvent(event_id: Long, user_id: Long, ts: Timestamp,
      rolling_5min_count: Long, rolling_1h_avg: Option[Double])

  /** Exact per-event trailing windows in streaming — the one rolling
    * shape sliding event-time windows can't express (SURVEY.md §2.8):
    * for every event, the count of events in the last 5 minutes and the
    * mean value over the last hour, with the batch operator's pandas
    * left-open `(t−Δ, t]` bounds (each event's features reflect events
    * KNOWN at its processing time — exact vs batch under event-time-
    * ordered ingest, and robust to disorder inside the watermark).
    *
    * State hygiene for continuous runs: per-key state is pruned by the
    * WATERMARK — an entry older than `watermark − gapAvg` can't fall in
    * any admissible future event's window (admissible ⇒ ts ≥ watermark),
    * so state per key is bounded by rate × (gapAvg + watermark delay +
    * trigger span), independent of stream length. Keys idle past
    * `idleEvictMinutes` are removed wholesale via event-time timeout.
    * Rows later than the watermark are dropped.
    */
  def rollingFeatures(events: DataFrame, gapCount: Long = 5L * 60 * 1000000,
      gapAvg: Long = 60L * 60 * 1000000,
      watermarkDelay: String = "10 minutes",
      idleEvictMinutes: Int = 120): Dataset[RollingEvent] = {
    import events.sparkSession.implicits._
    val idleMs = idleEvictMinutes.toLong * 60 * 1000
    events.withWatermark("ts", watermarkDelay)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .as[(Long, Long, Timestamp, Option[Double])]
      .groupByKey(_._2)
      .flatMapGroupsWithState[RollState, RollingEvent](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, rows, state: GroupState[RollState]) =>
          val wmMicros = state.getCurrentWatermarkMs * 1000
          if (state.hasTimedOut) {
            // idle horizon passed: anything still needed must survive
            // the watermark prune; usually nothing does and the key's
            // state disappears entirely
            val kept = state.get.recent.filter { case (pt, _) => pt > wmMicros - gapAvg }
            if (kept.isEmpty) state.remove()
            else {
              state.update(RollState(kept))
              state.setTimeoutTimestamp(state.getCurrentWatermarkMs + idleMs)
            }
            Iterator.empty
          } else {
            // watermark prune on load — NOT per-event `t − gapAvg`
            // pruning: a later micro-batch may still admit an event as
            // old as the watermark, which needs entries back to
            // `watermark − gapAvg`
            var recent = state.getOption
              .map(_.recent.filter { case (pt, _) => pt > wmMicros - gapAvg })
              .getOrElse(Nil)
            var maxTs = Long.MinValue
            val out = rows.toSeq.sortBy(r => (micros(r._3), r._1))
              .dropWhile(r => micros(r._3) < wmMicros)
              .map { case (eid, uid, ts, value) =>
                val t = micros(ts)
                maxTs = math.max(maxTs, t)
                recent = (t, value.getOrElse(Double.NaN)) :: recent
                // explicit (t−Δ, t] bounds: pt ≤ t matters when a
                // late-but-admissible event lands after newer ones
                val count5 = recent.count { case (pt, _) => pt > t - gapCount && pt <= t }
                val avgVals = recent.collect {
                  case (pt, v) if pt > t - gapAvg && pt <= t && !v.isNaN => v
                }
                val avg = if (avgVals.isEmpty) None else Some(avgVals.sum / avgVals.size)
                RollingEvent(eid, uid, ts, count5, avg)
              }
            if (recent.nonEmpty) {
              state.update(RollState(recent))
              // horizon anchored at the key's newest KNOWN event (falls
              // back to surviving entries when this batch was all-late)
              val newest = if (maxTs != Long.MinValue) maxTs
                           else recent.iterator.map(_._1).max
              state.setTimeoutTimestamp(math.max(
                newest / 1000 + idleMs, state.getCurrentWatermarkMs + 1))
            } else state.remove()
            out.iterator
          }
      }
  }

  private val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source stream over the documents table. */
  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)

  /** Streaming exact dedup — the dedup family's streaming twin: the
    * running set of distinct content hashes via dropDuplicates state.
    * Emits each hash on FIRST arrival (Append mode), so the output SET
    * is deterministic even though arrival order is not; in continuous
    * mode add a watermark + dropDuplicatesWithinWatermark to bound
    * state by the dedup horizon.
    */
  def dedupHashes(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(md5(col(textCol)).as("text_hash"))
      .dropDuplicates("text_hash")

  /** Streaming CHUNK-level dedup — the content-defined-chunking twin:
    * each document explodes into its portable-rule CDC chunk hashes
    * (operators/Cdc — a stateless projection, safe on a stream) and
    * the running distinct-chunk set lives in dropDuplicates state.
    * Same Append-mode determinism argument as [[dedupHashes]]: the
    * emitted SET is arrival-order-independent. At scale the state is
    * one row per distinct chunk — bound it with a watermark +
    * dropDuplicatesWithinWatermark at the dedup horizon, exactly as
    * the whole-document variant.
    */
  def cdcChunkDedup(docs: DataFrame, textCol: String = "text"): DataFrame =
    graft.operators.Cdc.withChunkHashes(docs, textCol)
      .select(explode(col("_hashes")).as("chunk_hash"))
      .dropDuplicates("chunk_hash")

  /** Watermarked stream-stream self-join: pairs of events by the same
    * user within a 5-minute forward window — the follow-on-action shape
    * (click→purchase, request→retry). Both sides carry a watermark and
    * the join condition bounds event time in BOTH directions, so the
    * state store provably expires rows older than the watermark + range
    * instead of buffering the whole stream — the requirement Spark
    * enforces for unbounded-input joins.
    *
    * Determinism caveat: the inner join emits a deterministic SET only
    * when no event arrives more than the 10-minute watermark out of
    * event-time order RELATIVE to a later micro-batch boundary —
    * watermark eviction depends on where batch boundaries fall, so a
    * straggler behind an already-advanced watermark is dropped and its
    * pairs are silently lost vs the batch oracle. Single-batch
    * AvailableNow (this repo's harness) and event-time-ordered ingest
    * both satisfy the condition; arbitrary slicing of disordered input
    * does not — widen the watermark past the source's max disorder if
    * that's your regime.
    */
  def eventPairsStream(events: DataFrame): DataFrame = {
    val a = events
      .select(col("event_id").as("a_id"), col("user_id"), col("ts").as("a_ts"))
      .withWatermark("a_ts", "10 minutes")
    val b = events
      .select(col("event_id").as("b_id"), col("user_id").as("_ub"),
        col("ts").as("b_ts"))
      .withWatermark("b_ts", "10 minutes")
    a.join(b, col("user_id") === col("_ub")
        && col("b_ts") > col("a_ts")
        && col("b_ts") <= col("a_ts") + expr("INTERVAL 5 MINUTES"))
      .select(col("a_id"), col("b_id"), col("user_id"))
  }

  /** Streaming twin of incremental dedup — the live-ingest shape: fresh
    * docs STREAM in, the base corpus's LSH band table is a STATIC
    * DataFrame joined into every micro-batch (Spark's stream-static
    * equi-join: stateless, no watermark; in production the static side
    * is the persisted band table of the 100 TB corpus, broadcast or
    * bucket-joined per batch). Signatures on the stream side run as
    * NARROW array expressions (per-row min over md5'd shingles) — zero
    * pre-join shuffle, unlike the batch explode+agg formulation, which
    * would be a second stateful aggregation. The post-join min(base id)
    * per fresh doc is the query's one stateful aggregation.
    *
    * `baseBands` must carry (band_idx, band_hash, _base_id) built with
    * the SAME shingleK/numHashes/rowsPerBand.
    */
  def incrementalDupStream(
      freshDocs: DataFrame, baseBands: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      shingleK: Int = 3, numHashes: Int = 9, rowsPerBand: Int = 3): DataFrame = {
    val sigs = freshDocs.select(col(idCol) +:
      graft.operators.Dedup.minhashSignatures(
        graft.operators.Dedup.shingles(col(textCol), shingleK), numHashes): _*)
    graft.operators.Dedup.lshBands(sigs, idCol, numHashes, rowsPerBand)
      .join(baseBands, Seq("band_idx", "band_hash"))
      .groupBy(col(idCol))
      .agg(min(col("_base_id")).as("dup_of"))
  }

  /** Streaming twin of the image near-dup join — the live-ingest shape
    * for multimodal dedup: freshly crawled images STREAM in, are
    * decoded and aHashed per partition (stateless narrow work, zero
    * pre-join shuffle), band-exploded (4 rows per image), and
    * equi-joined against the STATIC band table of the already-ingested
    * corpus (stream-static join: stateless, no watermark needed). The
    * pigeonhole guarantee is the batch one: any fresh image within
    * `maxHamming` < 4 bits of a base image shares at least one exact
    * band. The post-join min(base id) per fresh image is the query's
    * one stateful aggregation.
    *
    * `baseBands` must carry (bi, bv, _base_id, _bh, _bl) built with
    * [[graft.operators.Multimodal.ahashBands]] over the base corpus.
    */
  def imageDupStream(
      freshHashes: DataFrame, baseBands: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      s"4-band pigeonhole guarantees recall only for hamming < 4, got $maxHamming")
    graft.operators.Multimodal.ahashBands(freshHashes)
      .join(baseBands, Seq("bi", "bv"))
      .where(graft.operators.Multimodal.hammingDist(
        col("hash_hi"), col("hash_lo"), col("_bh"), col("_bl")) <= maxHamming)
      .groupBy(col("media_id"))
      .agg(min(col("_base_id")).as("dup_of"))
  }

  /** Streaming ANN — the live-retrieval shape: query vectors STREAM in
    * and probe the STATIC cell-partitioned trained-IVF index of the
    * corpus. Routing is the per-row [[graft.functions.IvfRoute]]
    * expression (the batch probe ranking is a window function, which
    * streams don't support; the driver-side centroid table makes
    * routing a stateless projection), the probed cells explode into a
    * stream-static equi-join on the cell key (stateless, no watermark
    * — the index is static), and ranking is the bounded-heap
    * TopKByScore aggregate: state is one k-entry buffer per query, not
    * the candidate fan-out. At 100 TB the static side is the
    * cell-bucketed code/vector table and each micro-batch touches only
    * its queries' probed cells.
    *
    * `staticIndex` must carry (cell, neighbor_id, qc, n2c).
    */
  def annStream(queries: DataFrame, staticIndex: DataFrame,
      cells: Array[Long], cents: Array[Array[Long]], cn2: Array[Long],
      probes: Int, k: Int): DataFrame = {
    import graft.operators.Dedup
    queries
      .select(col("vec_id").as("query_id"),
        Dedup.quantize(col("embedding")).as("qq"))
      .withColumn("n2q", Dedup.squaredNorm(col("qq")))
      .withColumn("cell", explode(graft.functions.IvfRoute
        .ivf_probe_cells(col("qq"), cells, cents, cn2, probes)))
      .join(staticIndex, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        Dedup.quantizedCosine(col("qq"), col("qc"), col("n2q"), col("n2c")))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore
        .top_k_by(col("cosine"), col("neighbor_id").cast("long"), k)
        .as("topk"))
  }

  def readEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val fileSchema = spark.read
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir).schema
    spark.readStream.schema(fileSchema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(dir)
  }

  /** Streaming index INGEST — the other half of [[annStream]]'s
    * lifecycle: freshly arrived vectors get their IVF cell and their
    * PQ codes in ONE stateless projection (both kernels carry their
    * trained tables driver-side — [[graft.functions.IvfRoute]] with
    * probes = 1 for the home cell, [[graft.functions.PqCodec]] for the
    * codes), so index maintenance is Append-mode with zero state and
    * zero shuffle: each micro-batch writes straight to the
    * cell-partitioned code table. Codes emit EXPLODED as (vec_id,
    * cell, s, cidx) rows — the narrow layout the SQL oracle derives
    * directly from its pqcodes/tasg CTEs.
    */
  def pqIngestStream(vectors: DataFrame,
      cells: Array[Long], cents: Array[Array[Long]], cn2: Array[Long],
      codebook: Array[Array[Long]], subspaces: Int, dsub: Int): DataFrame = {
    import graft.operators.Dedup
    vectors
      .select(col("vec_id"), Dedup.quantize(col("embedding")).as("q"))
      .withColumn("cell",
        element_at(graft.functions.IvfRoute
          .ivf_probe_cells(col("q"), cells, cents, cn2, probes = 1), 1))
      .select(col("vec_id"), col("cell"),
        posexplode(graft.functions.PqCodec
          .pq_codes(col("q"), codebook, subspaces, dsub))
          .as(Seq("s", "cidx")))
      .select(col("vec_id"), col("cell"), col("s"),
        col("cidx").cast("long").as("cidx"))
  }

  /** The reference's cron job as a stream: each micro-batch of logs
    * refreshes the persistent geolocation cache (detect new IPs → fetch
    * → keep-newest upsert → atomic swap of the parquet path) via
    * foreachBatch — the canonical shape for a streaming pipeline whose
    * side output is a keyed table. AvailableNow processes the backlog
    * and stops, exactly the cron contract; a continuous trigger would
    * incrementally maintain the same cache.
    */
  def cacheRefreshStream(
      logs: DataFrame,
      cachePath: String,
      provider: graft.sources.GeoProvider): org.apache.spark.sql.streaming.StreamingQuery = {
    enableNioCheckpoints(logs.sparkSession)
    logs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val old = graft.operators.GeoCache.load(spark, cachePath)
        val updated = graft.operators.GeoCache.refresh(batch.toDF(), old, provider)
        graft.sources.Sinks.overwriteInPlace(updated, cachePath)
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Run a streaming DataFrame to completion over static input
    * (Trigger.AvailableNow + memory sink) and return the result — the
    * cron-batch contract, executed by the streaming engine.
    */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode = OutputMode.Complete()): DataFrame =
    runToMemoryWithQuery(df, name, mode)._1

  /** [[runToMemory]] that also hands back the finished query, so callers
    * can read `recentProgress` — state-operator rows/bytes per batch —
    * for state-store posture checks (StreamingSpec's RocksDB twin).
    */
  def runToMemoryWithQuery(df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Complete())
      : (DataFrame, org.apache.spark.sql.streaming.StreamingQuery) = {
    enableNioCheckpoints(df.sparkSession)
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    (df.sparkSession.table(name), q)
  }

  /** [[runToMemory]] for ROW-LEVEL streaming output: a parquet FILE
    * sink plus read-back. The memory sink collects every output row
    * into driver memory single-threaded — fine for the aggregate twins
    * (output ≈ group count), pathological for per-event output: the
    * round-16 sf10 anchor read `streaming_session_ids` at 25.1 s wall
    * against 58 task-seconds, and the unattributed 22 s was exactly
    * the driver-side collect of the ~10M-row result. A row-level
    * streaming output at scale goes to FILES, written by executors in
    * parallel — the memory sink is a test harness device, not a
    * production shape. Append-mode only (the file sink's contract).
    *
    * Fresh scratch dir per run (file sinks can't overwrite their own
    * checkpoint/_spark_metadata); dirs die with the JVM via
    * [[graft.Artifacts.tempDir]].
    */
  def runToParquet(df: DataFrame, name: String)
      : (DataFrame, org.apache.spark.sql.streaming.StreamingQuery) = {
    enableNioCheckpoints(df.sparkSession)
    val dir = graft.Artifacts.tempDir(s"graft-stream-$name-")
    val q = df.writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    (df.sparkSession.read.parquet(s"$dir/out"), q)
  }
}
