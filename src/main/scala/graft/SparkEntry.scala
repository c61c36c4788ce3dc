package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** The query registry (SURVEY.md §7).
  *
  * Each query module lists its queries once, as `name -> Query(run,
  * oracle)` entries: the function runs the operator standalone over a
  * testdata sf directory, and the oracle is the DuckDB SQL its result
  * is checked against at sf0.01. [[queries]] and [[oracleSql]] are
  * derived from those entries, so a query cannot ship without an oracle.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    EventQueries.hourlyAgg(spark, "/root/testdata/sf0.001")

  /** Every registered query, module by module: one entry per operator
    * from SURVEY.md §2 (or a training-data-pipeline op), each with its
    * DuckDB twin.
    */
  val entries: Seq[(String, Query)] = Seq(
    EventQueries.entries, ElbQueries.entries, JoinQueries.entries,
    PipelineQueries.entries, DocQueries.entries, VecQueries.entries,
    TextQueries.entries, MiscQueries.entries, CurationQueries.entries,
    ClusterQueries.entries, AnalyticsQueries.entries, SketchQueries.entries,
    TpchQueries.entries, GraphQueries.entries, JourneyQueries.entries,
    RobustQueries.entries, PrivacyQueries.entries, FeatureQueries.entries
  ).flatten

  /** Entries by name. A name registered twice, in one module or in two,
    * throws and names each duplicate — `toMap` would silently keep the
    * last binding and shadow a query with no compile- or run-time signal.
    */
  def byName(entries: Seq[(String, Query)]): Map[String, Query] = {
    val dups = entries.groupBy(_._1).collect { case (n, es) if es.size > 1 => n }
    require(dups.isEmpty, s"query names registered twice: ${dups.toSeq.sorted.mkString(", ")}")
    entries.toMap
  }

  private val registry = byName(entries)

  /** One function per registered query, run over an sf directory. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.view.mapValues(_.run).toMap

  /** For each key in [[queries]], equivalent ANSI SQL runnable by DuckDB
    * on the same parquet tables. */
  val oracleSql: Map[String, String] = registry.view.mapValues(_.oracle).toMap

  /** The queries a main runs, sorted by name: every registered query
    * when `filter` is empty, else exactly the names in the comma list.
    * Any unknown name throws, naming each one — a typo must fail the
    * run, not run nothing and report an empty total.
    */
  def select(filter: Option[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val names = filter.fold(queries.keySet)(_.split(",", -1).toSet)
    val unknown = names -- queries.keySet
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown query names: ${unknown.toSeq.sorted.map("'" + _ + "'").mkString(", ")}")
    names.toSeq.sorted.map(n => n -> queries(n))
  }
}
