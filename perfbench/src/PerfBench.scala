package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ElbPipeline
import graft.operators.{Aggregates, ElbParser, GeoCache, Rolling, Sessionize}
import graft.sources.{GeoProvider, Sinks, StaticGeoProvider}

/** Closed-loop benchmark of the ELB ETL (`ElbPipeline.run`) and of the
  * query registry ([[QueryMix]]).
  *
  * Usage: PerfBench <workload> <seed> <seconds> <trace 0|1> <workDir>
  *          <resultFile> <launchEpochMs> <cores>
  *
  * Untraced (`trace = 0`): one client runs batches back to back for
  * `seconds`, checks every batch's outputs against the generator's
  * ground truth, and reports the end-to-end metrics. Traced
  * (`trace = 1`): each iteration runs one untraced batch, one batch under
  * a job group, and the isolated chain of the public functions
  * `ElbPipeline.run` calls, each as its own span over a materialized
  * input; it reports the per-layer metrics. The result is written as JSON
  * to `resultFile` for the caller to print. `launchEpochMs` is when the
  * set-up began: `setup_s` runs from it to the first timed operation.
  */
object PerfBench {

  /** The `etl_backfill` input; why it has this shape is recorded in
    * BENCHMARK.json.
    */
  val Backfill: ElbGen.Spec = ElbGen.Spec(lines = 16000, files = 16)

  val Provider: GeoProvider = StaticGeoProvider(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))

  /** Warm batches a run measures even when they overrun the window. */
  val MinWarmBatches = 3

  /** Iterations a traced run makes at least; each is an untraced batch,
    * a traced batch and the isolated chain.
    */
  val TracedIterations = 1

  /** The six outputs a batch commits, relative to its cache / output dir. */
  val Sinks6: Seq[String] = Seq("geo_cache", "cleaned_logs", "hourly", "errors", "bots", "bot_origin")

  final case class Paths(logs: String, cache: String, out: String) {
    def sink(s: String): String = s match {
      case "geo_cache" => cache
      case "cleaned_logs" => s"$out/cleaned_logs"
      case "hourly" => s"$out/aggregated_stats/hourly_traffic_by_geo.parquet"
      case "errors" => s"$out/reports/error_summary_geo.csv"
      case "bots" => s"$out/reports/bot_traffic_details.parquet"
      case "bot_origin" => s"$out/reports/bot_traffic_by_origin_summary.csv"
    }
  }

  def session(work: File, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def deleteTree(p: File): Unit = if (p.exists()) {
    val walk = Files.walk(p.toPath)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
    finally walk.close()
  }

  /** Data files under `dir` (no markers, no checksums). */
  def dataFiles(dir: String): Seq[File] = {
    val root = new File(dir)
    if (!root.exists()) Nil
    else {
      val walk = Files.walk(root.toPath)
      try walk.iterator().asScala.map(_.toFile)
        .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
        .toList
      finally walk.close()
    }
  }

  /** A CSV output's data lines as text: reading them as CSV would cost a
    * Spark job per output just to find the header.
    */
  def csvRows(spark: SparkSession, dir: String): DataFrame = {
    val header = dataFiles(dir).find(_.length > 0).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().next() finally src.close()
    }.getOrElse("")
    spark.read.text(dir).where(col("value") =!= header)
  }

  /** Order-independent digests of a batch's outputs in one Spark job:
    * per output, the row count and the sum of a row hash; plus the hourly
    * report's summed `request_count`, keyed `hourly_request_count`.
    */
  def digests(spark: SparkSession, p: Paths): Map[String, (Long, BigDecimal)] = {
    val rows = Sinks6.map { s =>
      val df = s match {
        case "errors" | "bot_origin" => csvRows(spark, p.sink(s))
        case _ => spark.read.parquet(p.sink(s))
      }
      df.select(lit(s).as("sink"),
        xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast("decimal(38,0)").as("v"))
    } :+ spark.read.parquet(p.sink("hourly"))
      .select(lit("hourly_request_count").as("sink"), col("request_count").cast("decimal(38,0)").as("v"))
    rows.reduce(_ unionByName _).groupBy("sink").agg(count(lit(1)), sum("v")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest percentile of `sorted` with at least ten samples beyond it. */
  def tail(sorted: Seq[Double]): Option[Map[String, Any]] =
    if (sorted.size < 11) None
    else {
      val k = sorted.size - 11
      Some(Map("value" -> sorted(k), "percentile" -> 100.0 * (k + 1) / sorted.size,
        "samples" -> sorted.size))
    }

  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  // Host yardsticks, the same loops graft.Bench records as calib_1t/_mt.
  def calib1t(): Double = {
    val t0 = System.nanoTime()
    var i = 0L; var acc = 0L
    while (i < 200000000L) { acc ^= i * 0x9E3779B97F4A7C15L + (acc >>> 7); i += 1 }
    if (acc == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  def calibMt(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 64000000L, 1L, cores)
      .select(xxhash64(col("id")).as("h"))
      .agg(bit_xor(col("h")))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case p: Product => json(p.productElementNames.zip(p.productIterator).toMap)
    case other => json(other.toString)
  }

  def main(args: Array[String]): Unit = {
    val Array(wlName, seedS, secondsS, traceS, workS, resultS, launchS, coresS) = args
    val work = new File(workS)
    val result = wlName match {
      case "etl_backfill" =>
        new Run(Backfill, seedS.toLong, secondsS.toInt, traceS == "1", work, launchS.toLong,
          coresS.toInt).execute()
      case "query_mix" =>
        new QueryMixRun(seedS.toLong, secondsS.toInt, traceS == "1", work,
          new File(work, "tables").getPath, launchS.toLong, coresS.toInt).execute()
      case other => sys.error(s"unknown workload $other")
    }
    Files.write(new File(resultS).toPath, json(result).getBytes("UTF-8"))
  }
}

/** One `etl_backfill` process: set-up, the measured loop, checks, report. */
final class Run(spec: ElbGen.Spec, seed: Long, seconds: Int, trace: Boolean,
    work: File, launchEpochMs: Long, cores: Int) {
  import PerfBench._

  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var failedOps = 0
  private val checkS = mutable.ArrayBuffer.empty[Double]
  private var spark: SparkSession = _
  private var truth: ElbGen.Truth = _
  private val setupDir = new File(work, "input")

  /** Session and input prefix. */
  private def setup(): Unit = {
    spark = session(work, cores)
    truth = ElbGen.write(new File(setupDir, "logs"), spec, seed)
  }

  /** Batch `i`'s prefix, and its own empty cache and output directory. */
  private def paths(i: Int, dir: String = "b"): Paths = {
    val b = new File(work, s"$dir$i")
    Paths(new File(setupDir, "logs").getPath + "/*.gz", new File(b, "cache.parquet").getPath,
      new File(b, "out").getPath)
  }

  /** Records one operation; `checks` returns the failures it found. */
  private def operation(label: String)(checks: => Seq[String]): Unit = {
    attempted += 1
    val found = try checks catch { case e: Exception => Seq(s"exception: $e") }
    if (found.nonEmpty) {
      failedOps += 1
      failures ++= found.map(f => s"$label: $f")
    }
  }

  /** Digests of batch 0's outputs, kept for the re-run check. */
  private var firstDigests: Map[String, (Long, BigDecimal)] = Map.empty

  /** Output checks of one batch against the generator's ground truth. */
  private def checkBatch(p: Paths, i: Int): Seq[String] = {
    val d = digests(spark, p)
    if (i == 0) firstDigests = d
    def rows(s: String): Long = d.get(s).map(_._1).getOrElse(0L)
    val bad = mutable.ArrayBuffer.empty[String]
    def expect(what: String, got: Long, want: Long): Unit =
      if (got != want) bad += s"$what = $got, expected $want"
    expect("cleaned_logs rows", rows("cleaned_logs"), truth.cleanedRows)
    expect("geo_cache rows", rows("geo_cache"), truth.distinctIps)
    expect("hourly request_count sum", d.get("hourly_request_count").map(_._2.toLongExact).getOrElse(0L),
      truth.cleanedRows)
    expect("bots rows", rows("bots"), truth.botRows)
    expect("errors rows", rows("errors"), truth.errorRows)
    bad.toSeq
  }

  /** What the re-run check found in `cleaned_logs`, for the report. */
  private var rerunCleanedLogs = "not run"

  /** The reference's 2-minute cron runs the pipeline again over the same
    * prefix, in place. Outside the timed window, batch 0 is run again
    * over its own cache and outputs. The five outputs the pipeline
    * overwrites must digest-equal what the first run wrote.
    * `Sinks.cleanedLogs` appends, as the reference's `export_cleaned_logs`
    * does (`elb_logs.py:343-349`), so `cleaned_logs` must hold exactly two
    * copies of the first run's rows. One copy, the idempotent re-run that
    * ROADMAP aim 3 asks for, is accepted too. Anything else fails, and
    * which of the two was found is reported every run.
    */
  private def rerunCheck(): Unit = {
    val p = paths(0)
    operation("re-run of batch 0 in place") {
      ElbPipeline.run(spark, p.logs, p.cache, p.out, Provider)
      val d = digests(spark, p)
      val overwritten = Sinks6.filter(_ != "cleaned_logs").flatMap { s =>
        if (d.get(s) == firstDigests.get(s)) None
        else Some(s"$s digest ${d.get(s)} differs from the first run's ${firstDigests.get(s)}")
      }
      val once = firstDigests.get("cleaned_logs")
      val twice = once.map { case (n, h) => (n * 2, h * 2) }
      val got = d.get("cleaned_logs")
      rerunCleanedLogs =
        if (got.isDefined && got == twice) "two copies: appended, not idempotent (ROADMAP aim 3 open)"
        else if (got.isDefined && got == once) "one copy: idempotent"
        else "neither one nor two copies of the first run"
      overwritten ++ (if (got.isDefined && (got == once || got == twice)) Nil
        else Seq(s"cleaned_logs digest $got is neither the first run's $once nor twice it $twice"))
    }
    deleteTree(new File(work, "b0"))
  }

  /** One `ElbPipeline.run`; returns its wall seconds and checks its outputs. */
  private def batch(i: Int): Double = {
    val p = paths(i)
    var wall = Double.NaN
    var t1 = System.nanoTime()
    operation(s"batch $i") {
      val t0 = System.nanoTime()
      ElbPipeline.run(spark, p.logs, p.cache, p.out, Provider)
      wall = (System.nanoTime() - t0) / 1e9
      t1 = System.nanoTime()
      checkBatch(p, i)
    }
    // batch 0's directory stays for the re-run check
    if (i > 0) deleteTree(new File(work, s"b$i"))
    checkS += (System.nanoTime() - t1) / 1e9
    wall
  }

  /** The generator's planted drops must be what the parser observes. */
  private def selfCheck(): Map[String, Long] = {
    var counts = Map.empty[String, Long]
    operation("generator self-check") {
      // collect() on a frame derived from the parse: its observed
      // metrics are filled by the action that ran on it
      val probe = ElbPipeline.extract(spark, paths(0).logs).select("client_ip")
      probe.collect()
      counts = ElbParser.dropCounts(probe)
      val want = Map(ElbParser.DropsArity -> truth.dropsArity,
        ElbParser.DropsTime -> truth.dropsTime, ElbParser.DropsFloat -> truth.dropsFloat)
      want.toSeq.flatMap { case (k, v) =>
        if (counts.get(k).contains(v)) None else Some(s"$k = ${counts.get(k)}, planted $v")
      }
    }
    counts
  }

  def execute(): Map[String, Any] = {
    setup()
    val setupS = (System.currentTimeMillis() - launchEpochMs) / 1000.0
    val traced = if (trace) Some(new TracedLoop) else None
    val untracedWalls = mutable.ArrayBuffer.empty[Double]

    val first = batch(0)
    // untimed, it also lets the JIT settle before the warm batches
    rerunCheck()
    // the window covers the warm batches; the cold first batch is its own metric
    val deadline = System.nanoTime() + seconds * 1000000000L
    var i = 1
    val minWarm = if (trace) TracedIterations else MinWarmBatches
    while (System.nanoTime() < deadline || untracedWalls.size < minWarm) {
      // a traced iteration alternates which half runs first, so JIT
      // warm-up does not bias the tracing-overhead estimate
      if (trace && i % 2 == 0) traced.get.iteration(i + 1000)
      untracedWalls += batch(i)
      if (trace && i % 2 == 1) traced.get.iteration(i + 1000)
      i += 1
    }
    val drops = selfCheck()
    val calib1 = Seq(calib1t(), calib1t()).min
    calibMt(spark, cores)
    val calibM = Seq(calibMt(spark, cores), calibMt(spark, cores)).min
    val layer = traced.map(_.report(untracedWalls.toSeq))
    spark.stop()
    val rss = vmHwmMb()

    val warm = untracedWalls.toSeq.sorted
    val e2e = Map(
      "setup_s" -> setupS,
      "first_batch_s" -> first,
      "batch_p50_s" -> median(warm),
      "peak_rss_mb" -> rss)
    val t = truth
    Map(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failedOps,
      "failures" -> failures.toSeq,
      "end_to_end" -> e2e,
      "per_layer" -> layer.map(_._1).getOrElse(Map.empty),
      "spans" -> layer.map(_._2).getOrElse(Nil),
      "info" -> Map(
        "workload" -> "etl_backfill", "seed" -> seed, "cores" -> cores,
        "calib_1t" -> calib1, "calib_mt" -> calibM,
        "batch_tail_s" -> tail(warm).getOrElse("fewer than 11 warm batches"),
        "warm_batches" -> warm.size, "warm_batch_s" -> untracedWalls.toSeq,
        "check_s_median" -> median(checkS.toSeq),
        "drop_counts" -> drops,
        "rerun_cleaned_logs" -> rerunCleanedLogs,
        "input" -> Map(
          "lines" -> t.lines, "files" -> spec.files, "bytes" -> t.bytes,
          "distinct_ips" -> t.distinctIps, "ip_population" -> spec.ipPopulation,
          "hottest_ip_share" -> t.hottestIpShare,
          "malformed_share" -> t.malformed.toDouble / t.lines,
          "drops_arity" -> t.dropsArity, "drops_time" -> t.dropsTime,
          "drops_float" -> t.dropsFloat, "cleaned_rows" -> t.cleanedRows,
          "bot_rows" -> t.botRows, "health_rows" -> t.healthRows,
          "cache_rows_at_start" -> 0)))
  }

  /** The traced half of an iteration: one batch under a job group, then
    * the isolated chain of layer calls, each a span over a materialized
    * input.
    */
  final class TracedLoop {
    // registered only while a traced batch or the chain runs, so the
    // untraced batches run without it
    private val listener = new GroupListener
    private val tracer = new Tracer(spark.sparkContext, listener)
    private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    private val perBatch = mutable.ArrayBuffer.empty[Map[String, Double]]
    private val pipelineWalls = mutable.ArrayBuffer.empty[Double]
    private val chainWalls = mutable.ArrayBuffer.empty[Double]

    private def mat(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

    private def sinkStats(name: String, path: String): Map[String, Double] = {
      val files = dataFiles(path)
      Map(s"sources.sink.$name.files" -> files.size.toDouble,
        s"sources.sink.$name.bytes" -> files.map(_.length).sum.toDouble)
    }

    def iteration(i: Int): Unit = {
      val m = mutable.LinkedHashMap.empty[String, Double]
      val p = paths(i)
      val pipeGroup = s"perfbench:b$i:ElbPipeline.run"
      spark.sparkContext.addSparkListener(listener)
      listener.chargeBlocksTo(pipeGroup)
      operation(s"traced batch $i") {
        tracer.span("ElbPipeline.run", i) {
          ElbPipeline.run(spark, p.logs, p.cache, p.out, Provider)
        }
        checkBatch(p, i)
      }
      listener.chargeBlocksTo(null)
      val pipeSpan = tracer.spans.last
      pipelineWalls += pipeSpan.seconds
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      m ++= tracer.schedulerStats(pipeSpan, cores, epochOffsetNs)
      val g = listener.get(pipeGroup)
      m("sources.read.bytes") = g.textReadBytes.toDouble
      m("sources.read.passes") = g.textReadBytes.toDouble / truth.bytes
      m("ElbPipeline.featured.cached_bytes") = g.cachedBytes.toDouble
      m("ElbPipeline.featured.reads") = g.cachedStages.toDouble
      deleteTree(new File(work, s"b$i"))

      // the isolated chain, in ElbPipeline.run's order
      val c = paths(i, "c")
      val chainStart = tracer.spans.size
      val lines = tracer.span("sources.read", i) {
        mat(spark.read.text(c.logs).withColumn("log_source_file", input_file_name()))
      }
      val parsedObs = ElbParser.parse(lines)
      val parsed = tracer.span("ElbParser.parse", i) { mat(parsedObs) }
      val drops = ElbParser.dropCounts(parsedObs)
      val linesIn = lines.count().toDouble
      val parsedRows = parsed.count().toDouble
      m("ElbParser.parse.useful_ratio") = parsedRows / linesIn
      m("ElbParser.parse.drops_arity") = drops.getOrElse(ElbParser.DropsArity, -1L).toDouble
      m("ElbParser.parse.drops_time") = drops.getOrElse(ElbParser.DropsTime, -1L).toDouble
      m("ElbParser.parse.drops_float") = drops.getOrElse(ElbParser.DropsFloat, -1L).toDouble
      val oldCache = tracer.span("GeoCache.load", i) { mat(GeoCache.load(spark, c.cache)) }
      val newIps = tracer.span("GeoCache.newIps", i) { mat(GeoCache.newIps(parsed, oldCache)) }
      val fresh = {
        val session = spark
        import session.implicits._
        tracer.span("GeoCache.fetch", i) { mat(GeoCache.fetch(newIps.as[String], Provider).toDF()) }
      }
      val cache = tracer.span("GeoCache.upsert", i) { mat(GeoCache.upsert(oldCache, fresh)) }
      tracer.span("sources.sink.geo_cache", i) { Sinks.overwriteInPlace(cache, c.cache) }
      m ++= sinkStats("geo_cache", c.cache)
      val lookups = fresh.count().toDouble
      val batchIps = parsed.select("client_ip").distinct().count().toDouble
      m("sources.geo.lookups") = lookups
      m("sources.geo.errors") = fresh.where(col("countryCode") === "Error").count().toDouble
      m("sources.geo.hit_ratio") = 1.0 - lookups / batchIps
      m("GeoCache.cache_rows") = cache.count().toDouble
      val cacheDf = GeoCache.load(spark, c.cache)
      val enriched = tracer.span("GeoCache.enrich", i) { mat(GeoCache.enrich(parsed, cacheDf)) }
      val filtered = tracer.span("ElbParser.filterCategorize", i) {
        mat(ElbParser.filterCategorize(enriched).withColumn("time_abs_order",
          xxhash64(col("trace_id"), col("request"), col("client_ip_port"),
            col("request_creation_time"))))
      }
      m("ElbParser.filterCategorize.useful_ratio") = filtered.count().toDouble / enriched.count()
      val timed = tracer.span("ElbParser.features.time", i) {
        mat(ElbParser.calculateProcessingTimes(ElbParser.extractTimeFeatures(filtered)))
      }
      val sess = tracer.span("Sessionize.sessionize", i) {
        mat(Sessionize.sessionize(timed, keyCol = "client_ip", timeCol = "time",
          tieBreak = col("time_abs_order")))
      }
      val rolled = tracer.span("Rolling.addRollingFeaturesChunked", i) {
        mat(Rolling.addRollingFeaturesChunked(sess))
      }
      val featured = tracer.span("ElbParser.features.path", i) {
        mat(ElbParser.addPathFeatures(rolled).drop("time_abs_order"))
      }
      tracer.span("sources.sink.cleaned_logs", i) { Sinks.cleanedLogs(featured, c.sink("cleaned_logs")) }
      m ++= sinkStats("cleaned_logs", c.sink("cleaned_logs"))
      val reports: Seq[(String, String, DataFrame => DataFrame, (DataFrame, String) => Unit)] = Seq(
        ("hourly", "Aggregates.hourlyAggregates", Aggregates.hourlyAggregates, Sinks.parquet),
        ("errors", "Aggregates.errorSummary", Aggregates.errorSummary, Sinks.csv),
        ("bots", "Aggregates.botDetails", Aggregates.botDetails, Sinks.parquet),
        ("bot_origin", "Aggregates.botOriginSummary", Aggregates.botOriginSummary, Sinks.csv))
      reports.foreach { case (sink, op, agg, write) =>
        val out = tracer.span(op, i) { mat(agg(featured)) }
        tracer.span(s"sources.sink.$sink", i) { write(out, c.sink(sink)) }
        m ++= sinkStats(sink, c.sink(sink))
      }
      val chain = tracer.spans.drop(chainStart)
      chain.foreach(s => m(s"${s.name}.s") = s.seconds)
      m("ElbParser.features.s") = m("ElbParser.features.time.s") + m("ElbParser.features.path.s")
      chainWalls += chain.map(_.seconds).sum
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      perBatch += m.toMap
      // the checkpointed inputs: Dataset.unpersist does not release them
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      deleteTree(new File(work, s"c$i"))
    }

    /** Per-layer medians over traced iterations, and every span with its
      * scheduler figures.
      */
    def report(untraced: Seq[Double]): (Map[String, Double], Seq[Map[String, Any]]) = {
      val keys = perBatch.head.keySet
      val layer = keys.map(k => k -> median(perBatch.map(_(k)).toSeq)).toMap ++ Map(
        "trace.overhead_frac" -> (median(pipelineWalls.toSeq) - median(untraced)) / median(untraced),
        "trace.coverage" -> median(chainWalls.toSeq) / median(untraced))
      val spans = tracer.spans.toSeq.map { s =>
        Map("name" -> s.name, "batch" -> s.batch, "parent" -> s.parent.orNull,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs, "seconds" -> s.seconds,
          "group" -> s.group,
          "cached_stages" -> listener.get(s.group).cachedStageNames.toSeq) ++
          tracer.schedulerStats(s, cores, epochOffsetNs)
      }
      (layer, spans)
    }
  }
}
