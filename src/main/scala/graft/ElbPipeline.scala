package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._
import graft.sources.{GeoProvider, Sinks}

/** The end-to-end batch ETL, mirroring the reference `main()`
  * (elb_logs.py:398-437): extract → cache refresh → enrich → filter →
  * feature-engineer → sessionize → rolling → export.
  *
  * Stage/shuffle budget of the whole DAG (SURVEY.md §3.1): the
  * parse+filter+features chain is narrow (pipelined inside the scan
  * stage); the geo cache is broadcast (no probe-side shuffle). The
  * exchanges a run performs are the new-IP distinct and the cache
  * upsert (one row per IP each), one hash exchange on client_ip for
  * sessionize, the cleaned-logs sink's repartition by its partition
  * columns, and one per grouped report. Rolling adds none: the client_ip
  * hash already clusters its (client_ip, hour-block) windows. The
  * chunked rolling's union plans sessionize twice, once under the rows
  * and once under their next-block carries; adaptive execution runs the
  * two identical exchanges as one shuffle that both branches read, but
  * the sessionize sort and window run in each branch. (perfbench's
  * `--trace 1` checkpoints between the two layers, so there rolling
  * shows its own 2×-row exchange on (client_ip, hour-block).) The
  * reference's six sequential full-frame materializations collapse into
  * this single lazy plan.
  */
object ElbPipeline {

  /** Parse raw lines from gzip/text logs under `logsPath`
    * (reference `extract_log_keys` + `transform_logs`,
    * elb_logs.py:68-71,135-147). Spark's text source lists the prefix,
    * auto-decompresses `.gz` (one partition per gzip file, like the
    * reference's per-file loop), and `input_file_name()` supplies the
    * lineage column. Works identically against `s3a://bucket/prefix`.
    */
  def extract(spark: SparkSession, logsPath: String): DataFrame =
    ElbParser.parse(spark.read.text(logsPath))

  /** Feature-engineering chain (reference elb_logs.py:426-431). The
    * dtype-shrinking `optimize_dtypes` step is a no-op here: the schema
    * already carries the right widths and parquet dictionary-encodes
    * low-cardinality strings (SURVEY.md §1.2).
    */
  def features(df: DataFrame): DataFrame = {
    val timed = ElbParser.calculateProcessingTimes(ElbParser.extractTimeFeatures(df))
    val sess = Sessionize.sessionize(
      timed, keyCol = "client_ip", timeCol = "time",
      tieBreak = org.apache.spark.sql.functions.col("time_abs_order"))
    // Chunked rolling (skew-proof, hash-identical frames) is the
    // pipeline default since round 10: the plain key-partitioned frame
    // degrades 2.1× under a 20% hot key (BASELINE.md skew table) while
    // the (key, hour-block) carry layout stays flat at any skew.
    ElbParser.addPathFeatures(Rolling.addRollingFeaturesChunked(sess))
  }

  /** Full run. Returns the enriched frame for inspection/testing. */
  def run(
      spark: SparkSession,
      logsPath: String,
      cachePath: String,
      outputDir: String,
      provider: GeoProvider): DataFrame = {

    // Step 1-2: extract + cache load (elb_logs.py:402-405)
    val parsed = extract(spark, logsPath)
    val oldCache = GeoCache.load(spark, cachePath)

    // Step 3-4: new IPs → fetch → upsert → persist (elb_logs.py:408-419).
    // The refreshed cache is small (one row per distinct IP ever seen);
    // persist it before the enrichment join reads it back broadcast.
    val cache = GeoCache.refresh(parsed, oldCache, provider)
    Sinks.overwriteInPlace(cache, cachePath)
    val cacheDf = GeoCache.load(spark, cachePath)

    // Step 5: enrich + filter/categorize (elb_logs.py:422-423). Filters
    // touch only probe-side columns, so Catalyst pushes them below the
    // join even though the reference enriches first.
    // Deterministic sessionize tie-break for duplicate (ip, time) pairs:
    // a hash of per-request fields, stable under any partition layout
    // (monotonically_increasing_id would reorder across re-splits).
    val enriched = ElbParser.filterCategorize(GeoCache.enrich(parsed, cacheDf))
      .withColumn("time_abs_order",
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.col("trace_id"),
          org.apache.spark.sql.functions.col("request"),
          org.apache.spark.sql.functions.col("client_ip_port"),
          org.apache.spark.sql.functions.col("request_creation_time")))

    // Step 6: features + sessionization + rolling (elb_logs.py:426-431).
    // Persisted (memory, spilling to disk) before fan-out: the five
    // sinks are five independent jobs, and without a materialization
    // point each would re-run the whole parse → enrich → window DAG.
    val featured = features(enriched).drop("time_abs_order")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Step 7: the five sinks (elb_logs.py:434-437). cleanedLogs runs
    // first — its full-frame write is what materializes the persisted
    // rows — then the four report aggregates, which are INDEPENDENT
    // jobs over the cached frame writing disjoint directories, submit
    // from a small thread pool so each job's task tail back-fills the
    // others' (guide §2.6 overlap-independent-jobs; actions were only
    // sequential because this code called them sequentially). Each
    // sink's bytes are computed and written exactly as before.
    try {
      Sinks.cleanedLogs(featured, s"$outputDir/cleaned_logs")
      val reports: Seq[(String, () => Unit)] = Seq(
        ("hourly" , () => Sinks.parquet(Aggregates.hourlyAggregates(featured),
          s"$outputDir/aggregated_stats/hourly_traffic_by_geo.parquet")),
        ("errors", () => Sinks.csv(Aggregates.errorSummary(featured),
          s"$outputDir/reports/error_summary_geo.csv")),
        ("bots", () => Sinks.parquet(Aggregates.botDetails(featured),
          s"$outputDir/reports/bot_traffic_details.parquet")),
        ("bot_origin", () => Sinks.csv(Aggregates.botOriginSummary(featured),
          s"$outputDir/reports/bot_traffic_by_origin_summary.csv")))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(reports.size)
      try {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        // Await.result rethrows the first failing sink's exception;
        // remaining futures are abandoned but harmless (disjoint dirs)
        reports.map { case (label, run) => Future {
          spark.sparkContext.setJobDescription(s"elb_pipeline sink: $label")
          run()
        } }.foreach(Await.result(_, Duration.Inf))
      } finally pool.shutdown()
    } finally featured.unpersist()
    featured
  }
}
