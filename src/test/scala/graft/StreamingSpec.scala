package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.Multimodal
import graft.streaming.StreamingPipeline

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("flatMapGroupsWithState sessionizer emits exact batch-format session ids") {
    val events = StreamingPipeline.readEvents(spark, "/root/testdata/sf0.001")
    val sessions = StreamingPipeline.sessionIds(events)
    val q = sessions.writeStream.format("memory").queryName("fmgws_sessions")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("fmgws_sessions")

    // must agree with the batch sessionizer on every row
    val batch = graft.operators.Sessionize.sessionize(
        Tables.events(spark, "/root/testdata/sf0.001"),
        keyCol = "user_id", timeCol = "ts", tieBreak = col("event_id"))
      .select($"event_id", $"session_id".as("batch_sid"))
    val joined = got.join(batch, "event_id")
    assert(joined.count() === 1000)
    assert(joined.where($"session_id" =!= $"batch_sid").count() === 0)
  }

  test("flatMapGroupsWithState rolling features match the batch window operator") {
    val events = StreamingPipeline.readEvents(spark, "/root/testdata/sf0.001")
    val rolled = StreamingPipeline.rollingFeatures(events)
    val q = rolled.writeStream.format("memory").queryName("fmgws_rolling")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("fmgws_rolling")
      .select($"event_id", $"rolling_5min_count", $"rolling_1h_avg")
      .as[(Long, Long, Option[Double])].collect().sortBy(_._1)

    val e = Tables.events(spark, "/root/testdata/sf0.001")
    val w5 = graft.operators.Rolling.trailing(col("user_id"), col("ts"),
      graft.operators.Rolling.FiveMinutes)
    val w1 = graft.operators.Rolling.trailing(col("user_id"), col("ts"),
      graft.operators.Rolling.OneHour)
    val batch = e
      .withColumn("c5", count(col("event_id")).over(w5))
      .withColumn("a1", avg(col("value")).over(w1))
      .select($"event_id", $"c5", $"a1")
      .as[(Long, Long, Option[Double])].collect().sortBy(_._1)

    assert(got.length === batch.length)
    got.zip(batch).foreach { case ((ge, gc, ga), (be, bc, ba)) =>
      assert(ge === be)
      assert(gc === bc, s"count mismatch at event $ge")
      (ga, ba) match {
        case (Some(x), Some(y)) => assert(math.abs(x - y) < 1e-9, s"avg at $ge")
        case (a, b) => assert(a === b)
      }
    }
  }

  test("exactly-30:00 gap: session_window, sessionIds, and batch all keep one session") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gap").toFile
    val t0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2025-01-01 00:30:00") // gap == timeout
    val dataDir = new java.io.File(dir, "events").toString
    Seq((1L, t0, 7L, "click", 1.0, ""), (2L, t1, 7L, "click", 2.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(dataDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType)))
    def stream = spark.readStream.schema(schema).parquet(dataDir)

    // Session windows MERGE when they touch: event at start+gap extends
    // the session, so == gap stays together — the batch > rule.
    val windowed = StreamingPipeline.runToMemory(
      StreamingPipeline.sessionAgg(stream), "gap_windowed")
    assert(windowed.count() === 1, "session_window: ==-gap events merge")
    assert(windowed.select("n_events").head().getLong(0) === 2)

    val exact = StreamingPipeline.runToMemory(
      StreamingPipeline.sessionIds(stream).toDF(), "gap_exact", OutputMode.Append())
    assert(exact.select("session_id").distinct().count() === 1,
      "sessionIds: strictly-> gap keeps one session, matching batch")

    val batch = graft.operators.Sessionize.sessionize(
      Seq((1L, t0, 7L), (2L, t1, 7L)).toDF("event_id", "ts", "user_id"),
      keyCol = "user_id", timeCol = "ts", tieBreak = col("event_id"))
    assert(batch.select("session_id").distinct().count() === 1)
  }

  test("watermark drops late events across checkpoint-recovered runs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-late").toFile
    val data = new java.io.File(dir, "events").toString
    val ckpt = new java.io.File(dir, "ckpt").toString
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def writeBatch(name: String, rows: Seq[java.sql.Timestamp]): Unit =
      rows.map(Tuple1(_)).toDF("ts")
        .coalesce(1).write.parquet(s"$data/$name")

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))
    // Update mode: the one output mode where the watermark's late-row
    // filter applies and per-batch updates are observable (Complete
    // retains all data by definition and never drops late rows; Append
    // would emit nothing here — no window finalizes before the backlog
    // ends). Each AvailableNow run shares the checkpoint, so run 2
    // restores the watermark run 1 advanced — also pinning recovery.
    // foreachBatch, not the memory sink: only recoverable sinks may
    // resume from an existing checkpoint
    val got = scala.collection.mutable.ArrayBuffer.empty[(java.sql.Timestamp, Long)]
    def runOnce(): Seq[(java.sql.Timestamp, Long)] = {
      got.clear()
      val q = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(data)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour")).count()
        .select(col("window.start").as("h"), col("count"))
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          got.synchronized {
            got ++= b.collect().map(r => (r.getTimestamp(0), r.getLong(1)))
          }
          () // foreachBatch wants Unit, not the buffer
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Update())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      got.toSeq
    }

    // run 1 advances the watermark to 11:20 − 10 min = 11:10. A late
    // row is dropped only when its WINDOW END ≤ watermark, so the late
    // probe below sits in [09:00, 10:00) — fully expired — while the
    // 11:00 window (end 12:00) is still open.
    writeBatch("b1", Seq(t("2025-01-01 11:00:00"),
      t("2025-01-01 11:05:00"), t("2025-01-01 11:20:00")))
    assert(runOnce() === Seq((t("2025-01-01 11:00:00"), 3L)))

    // run 2: one event in an expired window (dropped), one on time
    writeBatch("b2", Seq(t("2025-01-01 09:30:00"), t("2025-01-01 11:30:00")))
    val second = runOnce()
    assert(!second.exists(_._1 == t("2025-01-01 09:00:00")),
      "the expired-window event must be dropped, not emit a 09:00 window")
    assert(second === Seq((t("2025-01-01 11:00:00"), 4L)))
  }

  test("rollingFeatures: bounded state and correct features across out-of-order multi-batch runs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-roll").toFile
    val data = new java.io.File(dir, "events").toString
    val ckpt = new java.io.File(dir, "ckpt").toString
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def writeBatch(name: String, rows: Seq[(Long, java.sql.Timestamp, Long, Double)]): Unit =
      rows.map { case (e, ts, u, v) => (e, ts, u, "x", v, "") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$data/$name")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType)))

    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Option[Double])]
    // returns (emitted rows this run, state rows after this run)
    def runOnce(): (Seq[(Long, Long, Option[Double])], Long) = {
      got.clear()
      val src = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(data)
      val q = StreamingPipeline.rollingFeatures(src, idleEvictMinutes = 60)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamingPipeline.RollingEvent], _: Long) =>
          got.synchronized {
            got ++= b.collect().map(r => (r.event_id, r.rolling_5min_count, r.rolling_1h_avg))
          }
          ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val stateRows = q.recentProgress.iterator
        .flatMap(_.stateOperators.headOption.map(_.numRowsTotal)).toSeq.lastOption.getOrElse(-1L)
      (got.toSeq.sortBy(_._1), stateRows)
    }

    // b1: two keys; in-order within the batch
    writeBatch("b1", Seq(
      (1L, t("2025-01-01 10:00:00"), 7L, 1.0),
      (2L, t("2025-01-01 10:01:00"), 7L, 2.0),
      (3L, t("2025-01-01 10:00:00"), 8L, 5.0)))
    val (r1, s1) = runOnce()
    assert(r1 === Seq((1L, 1L, Some(1.0)), (2L, 2L, Some(1.5)), (3L, 1L, Some(5.0))))
    assert(s1 === 2L, "one state row per active key")
    // watermark after b1 = 10:01 − 10 min = 09:51

    // b2: key 7 jumps ahead 3 h; key 8 goes idle. The watermark
    // advances to 13:00 − 10 min = 12:50 after the data batch, and
    // AvailableNow's trailing no-data micro-batch fires the event-time
    // timeout in the SAME run: key 8's horizon (10:00 + 60 min) is
    // long past → evicted immediately, not one run later
    writeBatch("b2", Seq((4L, t("2025-01-01 13:00:00"), 7L, 3.0)))
    val (r2, s2) = runOnce()
    assert(r2 === Seq((4L, 1L, Some(3.0))), "3-hour-old entries fall outside both windows")
    assert(s2 === 1L, "idle key 8 evicted by the no-data batch after the watermark advanced")

    // b3: a late-but-admissible event (12:55 > watermark 12:50) arrives
    // AFTER newer ones were already processed, plus an on-time event
    writeBatch("b3", Seq(
      (5L, t("2025-01-01 13:04:00"), 7L, 4.0),
      (6L, t("2025-01-01 12:55:00"), 7L, 9.0)))
    val (r3, s3) = runOnce()
    // 12:55 sees only itself: 13:00/13:04 are in recent but pt ≤ t
    // excludes them; 10:0x entries were watermark-pruned (≤ 11:50)
    assert(r3.find(_._1 == 6L).get === ((6L, 1L, Some(9.0))))
    // 13:04 sees 13:00 (> 12:59) in its 5-min window but not 12:55
    assert(r3.find(_._1 == 5L).get === ((5L, 2L, Some((3.0 + 4.0 + 9.0) / 3))))
    assert(s3 === 1L, "only key 7's state remains")
  }

  test("sessionIds: idle keys evicted by event-time timeout; numbering continues for live keys") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sess-evict").toFile
    val data = new java.io.File(dir, "events").toString
    val ckpt = new java.io.File(dir, "ckpt").toString
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def writeBatch(name: String, rows: Seq[(Long, java.sql.Timestamp, Long)]): Unit =
      rows.map { case (e, ts, u) => (e, ts, u, "x", 1.0, "") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$data/$name")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType)))

    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    def runOnce(): (Map[Long, String], Long) = {
      got.clear()
      val src = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(data)
      val q = StreamingPipeline.sessionIds(src, idleEvictMinutes = 60)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamingPipeline.SessionizedEvent], _: Long) =>
          got.synchronized { got ++= b.collect().map(r => (r.event_id, r.session_id)) }
          ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val stateRows = q.recentProgress.iterator
        .flatMap(_.stateOperators.headOption.map(_.numRowsTotal)).toSeq.lastOption.getOrElse(-1L)
      (got.toMap, stateRows)
    }

    writeBatch("b1", Seq((1L, t("2025-01-01 10:00:00"), 7L), (2L, t("2025-01-01 10:00:00"), 8L)))
    val (r1, s1) = runOnce()
    assert(r1 === Map(1L -> "7_s0", 2L -> "8_s0") && s1 === 2L)

    // key 7 returns after a >30-min gap with state still live → s1.
    // The watermark advance to 12:50 plus AvailableNow's trailing
    // no-data batch evicts idle key 8 (horizon 10:00 + 60 min) in the
    // same run.
    writeBatch("b2", Seq((3L, t("2025-01-01 13:00:00"), 7L)))
    val (r2, s2) = runOnce()
    assert(r2 === Map(3L -> "7_s1"), "numbering continues while state lives")
    assert(s2 === 1L, "idle key 8 evicted once the watermark passed its horizon")

    writeBatch("b3", Seq((4L, t("2025-01-01 13:05:00"), 7L)))
    val (r3, s3) = runOnce()
    assert(r3 === Map(4L -> "7_s1"), "within-gap event stays in the open session")
    assert(s3 === 1L, "only key 7 remains")

    // pinned documented semantics: an evicted key restarts at _s0
    writeBatch("b4", Seq((5L, t("2025-01-01 13:10:00"), 8L)))
    val (r4, _) = runOnce()
    assert(r4 === Map(5L -> "8_s0"), "post-eviction numbering restart is the documented contract")
  }

  test("streaming ANN probes the trained IVF index onto the exact batch rows") {
    // the live-retrieval twin: a query stream routed by the
    // IvfProbeCells expression through a stream-static cell join must
    // land on exactly the batch trained-IVF ranking (same centroids —
    // lloydCentroids is memoized — same probes, same tie order)
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.queries.VecQueries.streamingAnn(spark, sf)
      .orderBy("query_id", "rank").collect().toSeq
    val batch = graft.queries.VecQueries.topkIvfTrain(spark, sf)
      .select("query_id", "neighbor_id", "rank", "cosine")
      .orderBy("query_id", "rank").collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming PQ ingest emits complete, in-range, deterministic codes") {
    val sf = "/root/testdata/sf0.001"
    val out = graft.queries.VecQueries.streamingPqEncode(spark, sf)
      .orderBy("vec_id", "s").collect().toSeq
    val byVec = out.groupBy(_.getLong(0))
    assert(byVec.nonEmpty)
    byVec.foreach { case (vid, rows) =>
      assert(rows.length == 16, s"vec $vid must emit one row per subspace")
      assert(rows.map(_.getInt(2)).sorted.toSeq == (0 until 16),
        s"vec $vid subspaces must be dense")
      rows.foreach { r =>
        assert(r.getLong(1) >= 0 && r.getLong(1) < 16, "cell in [0,16)")
        assert(r.getLong(3) >= 0 && r.getLong(3) < 256, "code in [0,256)")
      }
    }
    // Append-mode ingest is stateless → re-running the stream emits
    // the identical rows (the codebook/centroids are memoized session
    // state, the kernels pure)
    val again = graft.queries.VecQueries.streamingPqEncode(spark, sf)
      .orderBy("vec_id", "s").collect().toSeq
    assert(again == out)
  }

  test("multimodal plumbing: synthesized payloads decode end-to-end through the engine") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val media = Multimodal.synthesizeMedia(docs, "doc_id")
    val feats = Multimodal.decodeFeatures(media)
    // no payload fails to decode: one feature row per document
    assert(feats.count() === 500)
    // byte_len matches the physical payload length for every row
    val joined = feats.toDF().join(
      media.toDF().select(col("media_id"), length(col("payload")).as("plen")),
      "media_id")
    assert(joined.where(col("byte_len") =!= col("plen")).count() === 0)
    // checksum is the engine's own md5 of the same bytes
    assert(joined.count() === 500)
    val m = media.first()
    assert(Set("image", "audio", "video").contains(m.meta.media_type))
  }

  test("session state updates are session/key-bounded, not event-bounded") {
    // the round-16 state-floor measurement: with local-partition
    // session merge (which every runner's run turns on) events
    // pre-collapse into candidate sessions BEFORE the state store, and
    // the custom sessionizer
    // updates one state row per (key, batch) — so numRowsUpdated must
    // track sessions/keys, never raw events
    val sf = "/root/testdata/sf0.001"
    val nEvents = Tables.events(spark, sf).count()
    val nUsers = Tables.events(spark, sf)
      .select("user_id").distinct().count()
    def updated(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.recentProgress.flatMap(_.stateOperators.map(_.numRowsUpdated)).sum
    val (sess, q1) = StreamingPipeline.runToMemoryWithQuery(
      StreamingPipeline.sessionAgg(StreamingPipeline.readEvents(spark, sf)),
      "supd_sessions", OutputMode.Append())
    val nSessions = sess.count()
    val u1 = updated(q1)
    info(s"sessionAgg: events=$nEvents users=$nUsers sessions=$nSessions stateUpdates=$u1")
    assert(u1 <= nSessions * 2 + nUsers,
      s"session_window state updates ($u1) must track sessions ($nSessions), not events ($nEvents)")
    val (_, q2) = StreamingPipeline.runToMemoryWithQuery(
      StreamingPipeline.sessionIds(
        StreamingPipeline.readEvents(spark, sf)).toDF(),
      "supd_ids", OutputMode.Append())
    val batches = q2.recentProgress.count(_.numInputRows > 0).max(1)
    val u2 = updated(q2)
    info(s"sessionIds: stateUpdates=$u2 over $batches data batches")
    assert(u2 <= nUsers * batches,
      s"flatMapGroupsWithState updates ($u2) must be one per (key, batch), keys=$nUsers")
  }

  test("RocksDB state store: stateful twins produce identical results, state metrics recorded") {
    // 100 TB posture: HDFSBacked keeps every key's state on the JVM
    // heap; RocksDB spills to native memory + disk. The twin run proves
    // the engine's stateful operators are provider-agnostic (results
    // hash-identical) and reads real state metrics from both.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val rocksdb =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    def withProvider[T](providerClass: Option[String])(body: => T): T = {
      val prev = spark.conf.getOption(key)
      providerClass match {
        case Some(p) => spark.conf.set(key, p)
        case None    => spark.conf.unset(key)
      }
      try body
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
    val sf = "/root/testdata/sf0.001"
    def runTwins(tag: String): (Seq[String], Seq[String], Long, Long) = {
      val events = StreamingPipeline.readEvents(spark, sf)
      val (sess, q1) = StreamingPipeline.runToMemoryWithQuery(
        StreamingPipeline.sessionIds(events).toDF(),
        s"rocks_sessions_$tag", OutputMode.Append())
      val sessRows = sess.select("event_id", "session_id")
        .as[(Long, String)].collect().map(_.toString).sorted.toSeq
      val (kmv, q2) = StreamingPipeline.runToMemoryWithQuery(
        graft.operators.Sketches.kmvDistinct(
          StreamingPipeline.readEvents(spark, sf),
          Seq("event_type"), "user_id", k = 64),
        s"rocks_kmv_$tag")
      val kmvRows = kmv.collect().map(_.toString).sorted.toSeq
      def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
        q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal)).max
      def stateBytes(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
        q.recentProgress.flatMap(_.stateOperators.map(_.memoryUsedBytes)).max
      (sessRows, kmvRows, stateRows(q1), math.max(stateBytes(q1), stateBytes(q2)))
    }
    val (sessH, kmvH, rowsH, bytesH) = withProvider(None)(runTwins("hdfs"))
    val (sessR, kmvR, rowsR, bytesR) = withProvider(Some(rocksdb))(runTwins("rocksdb"))
    // getOption surfaces the session default (HDFSBacked) even when the
    // key was never set — "restored" means not-rocksdb anymore
    assert(!spark.conf.getOption(key).contains(rocksdb),
      "provider conf must be restored")
    assert(sessH === sessR, "sessionIds must be state-store-agnostic")
    assert(kmvH === kmvR, "KMV Complete-mode agg must be state-store-agnostic")
    // both providers really held state and reported it
    assert(rowsH > 0 && rowsR > 0, s"state rows: hdfs=$rowsH rocksdb=$rowsR")
    assert(bytesH > 0 && bytesR > 0, s"state bytes: hdfs=$bytesH rocksdb=$bytesR")
    info(s"state rows hdfs=$rowsH rocksdb=$rowsR; bytes hdfs=$bytesH rocksdb=$bytesR")
  }
}
