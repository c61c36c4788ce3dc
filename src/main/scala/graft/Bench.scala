package graft

/** Driver-run benchmark: every registered query executed end-to-end at
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Queries run through the `noop` sink, not `count()` — count() lets
  * Catalyst prune every output column and would benchmark an empty
  * projection for the map-only queries.
  *
  * Each query runs SPARK_GRAFT_REPEATS times (default 3) and reports the
  * per-query MEDIAN: the host shows multi-second CPU-steal bursts
  * (BASELINE.md documents 67–635 s for identical suites), so a single
  * sample conflates plan cost with host noise; the median also absorbs
  * first-run JVM/codegen warmup. Repeats are round-robin (full suite,
  * then again) so one steal burst cannot inflate all samples of a query.
  * Optional argv: comma-separated query names for local iteration
  * ([[SparkEntry.select]]; an unknown name fails the run).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt
    val queries = SparkEntry.select(args.headOption)
    val spark = GraftSession.local(defaultCpus = 32)
    val cpus = spark.conf.get("spark.sql.shuffle.partitions").toInt

    val failed = scala.collection.mutable.LinkedHashSet.empty[String]

    // Optional machine-written floor/lever LEDGER (round 15): with
    // SPARK_GRAFT_LEDGER=<path>, a listener attributes jobs/stages/
    // tasks/task-time/shuffle bytes to the in-flight query and the
    // median-wall repeat's row is written as a markdown table —
    // the per-round diffable record the sf10 top-10 audits used to
    // reconstruct by hand. Collection costs one short listener-settle
    // pause per run OUTSIDE the timed window; the timed measurements
    // are unchanged.
    val ledgerPath = sys.env.get("SPARK_GRAFT_LEDGER")
    case class RunMetrics(wall: Double, jobs: Int, stages: Int, tasks: Int,
      taskTimeMs: Long, shReadB: Long, shWriteB: Long)
    val ledger = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.ArrayBuffer[RunMetrics]]
    @volatile var mJobs = 0
    @volatile var mStages = 0
    @volatile var mTasks = 0
    @volatile var mTaskTimeMs = 0L
    @volatile var mShReadB = 0L
    @volatile var mShWriteB = 0L
    @volatile var mLastEventNanos = 0L
    if (ledgerPath.isDefined) {
      import org.apache.spark.scheduler._
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = {
          mJobs += 1; mLastEventNanos = System.nanoTime()
        }
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
          mStages += 1
          mTasks += s.stageInfo.numTasks
          mTaskTimeMs += s.stageInfo.taskMetrics.executorRunTime
          mShReadB += s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead
          mShWriteB += s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
          mLastEventNanos = System.nanoTime()
        }
      })
    }
    // Drain the async listener bus until it goes QUIET (no event for
    // `quietMs`) instead of one fixed sleep: a heavy query's trailing
    // stage-completion events landing after a fixed settle were
    // silently attributed to the NEXT run (counters reset just before
    // each timed repeat). Bounded at 2 s so a stuck bus can't stall
    // the suite; residual skew past the bound is possible but now
    // needs a >2 s-late event instead of a >150 ms-late one.
    def settleListener(quietMs: Long = 120L, maxMs: Long = 2000L): Unit = {
      val t0 = System.nanoTime()
      Thread.sleep(quietMs)
      while ((System.nanoTime() - mLastEventNanos) / 1000000 < quietMs &&
          (System.nanoTime() - t0) / 1000000 < maxMs)
        Thread.sleep(20)
    }
    // Warm the shared ElbSynth cache BEFORE timing: synthesized log
    // lines are cached once per sf dir (queries/ElbSynth.scala), and
    // without this the first elb_* query to run absorbs the whole
    // synthesis+materialization cost — a harness artifact that showed
    // up as multi-second run-to-run spread on elb_* medians. Warmup is
    // not attributed to any measured query.
    if (queries.exists(_._1.startsWith("elb_")))
      graft.queries.ElbSynth.lines(Tables.events(spark, sfDir)).count()

    // Host-speed calibration, recorded with every run (round-9 drift
    // forensics: sub-second overhead-bound queries showed ±50% spread
    // across sessions with identical code/plans/fixtures — without a
    // same-session yardstick such drift is unattributable after the
    // fact). calib_1t = single-thread JVM arithmetic (CPU frequency /
    // steal); calib_mt = a fixed 64M-row hash aggregate through the
    // scheduler (task overhead + parallel throughput). Compare ratios
    // of these across rounds before comparing per-query seconds.
    def calib1t(): Double = {
      val t0 = System.nanoTime()
      var i = 0L; var acc = 0L
      while (i < 200000000L) { acc ^= i * 0x9E3779B97F4A7C15L + (acc >>> 7); i += 1 }
      if (acc == 42L) println("") // keep the loop live
      (System.nanoTime() - t0) / 1e9
    }
    def calibMt(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      spark.range(0L, 64000000L, 1L, cpus)
        .select(xxhash64(col("id")).as("h"))
        .agg(bit_xor(col("h"))) // xor: overflow-free under ANSI mode
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    calibMt() // JIT/codegen warm
    val calib1 = (1 to 3).map(_ => calib1t()).min
    val calibM = (1 to 3).map(_ => calibMt()).min
    // A failed run records NO sample: a fast-fail elapsed time would
    // silently deflate the median (a query failing in 0.1 s on 2 of 3
    // repeats must not report a ~0.1 s "speedup").
    val samples = (1 to repeats).flatMap { _ =>
      queries.flatMap { case (name, fn) =>
        // Cache hygiene: operators that persist() intermediates
        // (skyline candidates, shingle tables, k-means assignments,
        // pagerank edges, BFS frontiers, localCheckpoints) leave their
        // blocks behind after the noop sink completes. Across
        // |queries|×repeats runs in ONE JVM those blocks accumulate,
        // squeeze execution memory, and uniformly slow later queries
        // (observed: +80% on untouched queries at 166-query scale).
        // Each query therefore releases exactly the RDDs it pinned —
        // the delta against the pre-run snapshot — which keeps
        // deliberately warmed shared state (the ElbSynth line cache)
        // alive. Unpersist runs OUTSIDE the timed window: releasing
        // blocks is bookkeeping, not query cost.
        val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
        if (ledgerPath.isDefined) {
          mJobs = 0; mStages = 0; mTasks = 0; mTaskTimeMs = 0L
          mShReadB = 0L; mShWriteB = 0L
        }
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val t = (System.nanoTime() - t0) / 1e9
          if (ledgerPath.isDefined) {
            // listener bus is async and its drain API private —
            // poll-until-quiet outside the timed window
            settleListener()
            ledger.getOrElseUpdate(name,
              scala.collection.mutable.ArrayBuffer.empty) +=
              RunMetrics(t, mJobs, mStages, mTasks, mTaskTimeMs, mShReadB, mShWriteB)
          }
          spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
            if (!pinnedBefore.contains(id)) rdd.unpersist(blocking = false)
          }
          Some(name -> t)
        } catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
        }
      }
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val results = queries.map { case (name, _) =>
      name -> (samples.collect { case (`name`, t) => t } match {
        case Seq() => None // every repeat failed: no number at all
        case ok    => Some(median(ok))
      })
    }
    val qs = results.map {
      case (k, Some(v)) => "\"" + k + f"""":$v%.3f"""
      case (k, None)    => "\"" + k + "\":null"
    }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.flatMap(_._2).sum
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failedJson,"repeats":$repeats,"calib_1t_sec":$calib1%.3f,"calib_mt_sec":$calibM%.3f,"sf":"$sfDir"}""")
    ledgerPath.foreach { path =>
      // LOWER-median repeat's metrics per query (for even repeat
      // counts the JSON median averages the two middle samples; the
      // ledger needs ONE run's coherent metrics, so it takes the
      // lower-middle run — identical at the odd repeat counts every
      // recorded anchor uses). `shape` is a coarse machine tag
      // (map-only / light-exchange / exchange, + driver-bound when the
      // parallel efficiency of a ≥1 s query is < 15%); the floor-vs-
      // lever JUDGMENT stays a human row in SCALE.md — this table is
      // the diffable evidence under it.
      val sb = new StringBuilder
      sb ++= s"# Bench ledger — sf=$sfDir, repeats=$repeats, " +
        f"calib_1t=$calib1%.3f, calib_mt=$calibM%.3f, cpus=$cpus%n"
      sb ++= "| query | sec | jobs | stages | tasks | task_sec | shuffle_read_mb | shuffle_write_mb | par_eff | shape |\n"
      sb ++= "|---|---|---|---|---|---|---|---|---|---|\n"
      ledger.toSeq
        .map { case (name, runs) =>
          val byWall = runs.sortBy(_.wall)
          name -> byWall((byWall.size - 1) / 2)
        }
        .sortBy(-_._2.wall)
        .foreach { case (name, m) =>
          val parEff = m.taskTimeMs / 1000.0 / math.max(m.wall, 1e-9) / cpus
          val shape =
            if (m.wall >= 1.0 && parEff < 0.15) "driver-bound"
            else if (m.shWriteB == 0L) "map-only"
            else if (m.shWriteB < 64L * 1024 * 1024) "light-exchange"
            else "exchange"
          sb ++= f"| $name | ${m.wall}%.3f | ${m.jobs} | ${m.stages} | ${m.tasks} | ${m.taskTimeMs / 1000.0}%.1f | ${m.shReadB / 1048576.0}%.1f | ${m.shWriteB / 1048576.0}%.1f | $parEff%.2f | $shape |%n"
        }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
    }
    spark.stop()
  }
}
