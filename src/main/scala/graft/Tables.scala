package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All data flows in as parquet scans so Catalyst gets vectorized reads,
  * predicate pushdown, and column pruning for free. At cluster scale the
  * same call works against `s3a://…` directories — the path is the only
  * thing that changes.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Column-name contract per table (TESTDATA.md). Checked on every load so
    * a driver-side fixture regeneration that drops/renames a column fails
    * with ONE clear message instead of dozens of unrelated resolution
    * errors scattered across the query suite. Types are left flexible —
    * encoding drift on `ts` is normalized (and gated) by [[normalizeTs]].
    */
  private val expectedCols: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey", "r_name"),
    "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
    "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label"))

  /** Parquet schema INFERENCE launches a Spark job per `spark.read`
    * (ParquetUtils reads footers through an RDD even for one file) —
    * ~0.1 s of pure scheduler latency per table reference, paid by
    * every query on every call (a 7-view TPC-H query spent 7 of its 9
    * jobs here). The inferred schema is a [[graft.Artifacts]] state
    * value per parquet path, passed explicitly on every load: metadata
    * reuse only (what a catalog table or Iceberg manifest provides for
    * free — guide §6); the data is re-scanned from parquet on every
    * query, and fresh reads keep fresh expression ids so self-joins
    * are unaffected.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = graft.Artifacts.state(spark, "parquet_schema", sfDir, name) {
      spark.read.parquet(path).schema
    }
    val df = spark.read.schema(schema).parquet(path)
    expectedCols.get(name).foreach { want =>
      val missing = want.filterNot(df.columns.contains)
      if (missing.nonEmpty) throw new IllegalStateException(
        s"fixture drift in $sfDir/$name.parquet: missing columns ${missing.mkString(", ")} " +
          s"(have ${df.columns.mkString(", ")}) — update graft.Tables.expectedCols if intentional")
    }
    df
  }

  /** The fixtures' `ts` encoding has drifted across driver regenerations:
    * parquet TIMESTAMP(NANOS) (read as raw longs via the legacy conf, then
    * truncated ns→µs like DuckDB does) and parquet timestamp[us]
    * (TIMESTAMP_NTZ to Spark). Branch on the ACTUAL loaded dtype so either
    * encoding normalizes to TimestampType (session tz is UTC everywhere, so
    * the NTZ→TZ cast is an identity on the underlying micros) — and any
    * future third encoding fails with one loud error instead of 50 broken
    * queries.
    */
  def normalizeTs(tsType: DataType): Column = tsType match {
    case LongType          => expr("timestamp_micros(ts DIV 1000)")
    case TimestampNTZType  => col("ts").cast(TimestampType)
    case TimestampType     => col("ts")
    case other => throw new IllegalStateException(
      s"events.ts fixture drift: expected INT64-nanos, timestamp[us] (NTZ) or timestamp, got $other — " +
        "update graft.Tables.normalizeTs for the new encoding")
  }

  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // harmless for µs fixtures; required for the reader to accept ns ones
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, sfDir, "events")
    raw.withColumn("ts", normalizeTs(raw.schema("ts").dataType))
  }

  /** `documents`/`embeddings` ship as single-row-group files — ONE scan
    * partition, so CPU-heavy per-row work (md5 shingling, hashing)
    * would run on one core no matter the cluster size. Spread the rows
    * first; the shuffle is tiny next to the per-row compute it
    * parallelizes. (At 100 TB the same applies to any small-file or
    * single-row-group input feeding heavy narrow compute.)
    */
  def distributed(spark: SparkSession, sfDir: String, name: String): DataFrame =
    load(spark, sfDir, name).repartition(spark.sparkContext.defaultParallelism)
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
}
