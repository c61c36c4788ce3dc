package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: the Spark function that runs it over an sf
  * directory, and the DuckDB SQL its result is checked against on the
  * same parquet tables. A module lists its queries as `name -> Query(...)`
  * pairs; [[graft.SparkEntry]] derives the contract maps from them.
  */
final case class Query(run: (SparkSession, String) => DataFrame, oracle: String)
