package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2 (or a
  * training-data-pipeline op), runnable standalone over a testdata sf
  * directory; [[oracleSql]] carries the DuckDB twin the driver verifies
  * against at sf0.01.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    EventQueries.hourlyAgg(spark, "/root/testdata/sf0.001")

  /** Per-module registries, kept as a list so EdgeCaseSpec can assert
    * the union is collision-free — `Map ++` silently keeps the LAST
    * binding, so a duplicate name across modules would shadow an
    * existing query without any compile- or run-time signal.
    */
  val queryModules: Seq[Map[String, (SparkSession, String) => DataFrame]] = Seq(
    EventQueries.queries, ElbQueries.queries, JoinQueries.queries,
    PipelineQueries.queries, DocQueries.queries, VecQueries.queries,
    TextQueries.queries, MiscQueries.queries, CurationQueries.queries,
    ClusterQueries.queries, AnalyticsQueries.queries, SketchQueries.queries,
    TpchQueries.queries, GraphQueries.queries, JourneyQueries.queries,
    RobustQueries.queries, PrivacyQueries.queries, FeatureQueries.queries)

  val oracleModules: Seq[Map[String, String]] = Seq(
    EventQueries.oracle, ElbQueries.oracle, JoinQueries.oracle,
    PipelineQueries.oracle, DocQueries.oracle, VecQueries.oracle,
    TextQueries.oracle, MiscQueries.oracle, CurationQueries.oracle,
    ClusterQueries.oracle, AnalyticsQueries.oracle, SketchQueries.oracle,
    TpchQueries.oracle, GraphQueries.oracle, JourneyQueries.oracle,
    RobustQueries.oracle, PrivacyQueries.oracle, FeatureQueries.oracle)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queryModules.reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    oracleModules.reduce(_ ++ _)

  /** The queries a main runs, sorted by name: every registered query
    * when `filter` is empty, else exactly the names in the comma list.
    * Any unknown name throws, naming each one — a typo must fail the
    * run, not run nothing and report an empty total.
    */
  def select(filter: Option[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val names = filter.fold(all.keySet)(_.split(",", -1).toSet)
    val unknown = names -- all.keySet
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown query names: ${unknown.toSeq.sorted.map("'" + _ + "'").mkString(", ")}")
    names.toSeq.sorted.map(n => n -> all(n))
  }
}
