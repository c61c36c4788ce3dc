package graft

import java.sql.Timestamp

import graft.sources.StaticGeoProvider

/** Differential-parity entry point: run the whole batch pipeline
  * (ElbPipeline.run — reference main(), elb_logs.py:398-437) over a
  * caller-supplied gzip corpus with the deterministic geo provider
  * pinned to a caller-supplied clock, and dump the enriched frame as
  * one parquet file.
  *
  * Driven by `tools/ref_diff.py`, which runs the reference's own pandas
  * functions over the SAME corpus and the SAME static geo mapping, then
  * diffs this run's enriched frame and all four sink outputs against
  * them column-by-column — the engine-vs-reference gate that the
  * DuckDB-reformulation oracles can't provide.
  */
object RefDiffRun {
  def main(args: Array[String]): Unit = {
    val Array(logsGlob, cachePath, outDir, clockMillis) = args.take(4)
    val spark = GraftSession.local(defaultCpus = 8)

    val featured = ElbPipeline.run(spark, logsGlob, cachePath, outDir,
      StaticGeoProvider(new Timestamp(clockMillis.toLong)))
    featured.coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/featured.parquet")
    spark.stop()
  }
}
