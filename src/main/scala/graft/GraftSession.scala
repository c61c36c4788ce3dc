package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** The one session set-up the mains and the test session share:
  * `local[n]` with n shuffle partitions, UTC session time zone, no UI,
  * the legacy nanos-as-long parquet read (the only encoding of the
  * fixtures' `ts` that needs a conf, see [[Tables.normalizeTs]]) and
  * graft's SQL functions. AQE is left at Spark's default, which is on.
  * A `-Dspark.*` system property can add a conf the builder does not
  * set; the builder's own values win over one.
  *
  * Every session-wide setting lives here, fixed when the session is
  * built, so no query's plan depends on which queries ran before it.
  * The two streaming confs are scoped to each stream run instead (see
  * [[graft.streaming.StreamingPipeline]]).
  */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new GraftExtensions)

  /** What a query must leave as it found it: the session's explicitly
    * set confs plus its extra optimizer rules, as one map.
    */
  def setup(spark: SparkSession): Map[String, String] =
    spark.conf.getAll + ("spark.experimental.extraOptimizations" ->
      spark.experimental.extraOptimizations.mkString(","))

  /** Keys whose value differs between two [[setup]] snapshots, each
    * shown as `key: before -> after`.
    */
  def drift(before: Map[String, String], after: Map[String, String]): Seq[String] =
    (before.keySet ++ after.keySet).toSeq.sorted
      .filter(k => before.get(k) != after.get(k))
      .map(k => s"$k: ${before.getOrElse(k, "<unset>")} -> ${after.getOrElse(k, "<unset>")}")

  /** n from SPARK_GRAFT_CPUS, else `defaultCpus`; WARN logging. */
  def local(defaultCpus: Int): SparkSession = {
    val spark = builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
