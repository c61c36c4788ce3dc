package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BENCH-ONLY data scaler: writes an N× copy-shifted variant of a
  * driver sf directory so scaling exponents can be MEASURED instead of
  * argued (BASELINE.md "round-7 sf1 scaling" section). Never used by
  * the correctness gate — oracle queries always run on driver data.
  *
  * Each copy shifts every key column by copy_index × (max_key + 1), so
  * per-key cardinalities (events per user, lineitems per order) match
  * the source exactly — N× rows, N× keys, the same natural shape.
  * Columns that similarity operators read are made copy-disjoint the
  * same way a naturally larger corpus would be:
  *   - documents.text: every word gets a per-copy suffix — vocabulary
  *     disjoint across copies, within-copy shingle structure identical
  *     (a 10× corpus of clones would instead be an adversarial
  *     dedup input, not a scale measurement);
  *   - embeddings.embedding: dimensions rotated per copy — norms and
  *     within-copy geometry identical, cross-copy cosine uncorrelated.
  * `events.ts` keeps the source's encoding (INT64-nanos fixtures read
  * as raw longs under the legacy conf [[GraftSession]] sets), so the
  * output directory is drop-in compatible with every Tables loader.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft-sf1"
    val copies = sys.env.getOrElse("SPARK_GRAFT_COPIES", "10").toInt
    val spark = GraftSession.local(defaultCpus = 32)

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L

    def copyUnion(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(i => f(df, i)).reduce(_ unionAll _)

    // single FILE per table (driver layout): the streaming twins list
    // the sf dir with pathGlobFilter=<table>.parquet, which must match
    // a file name, not a directory of part files.
    // SMALL ROW GROUPS (8 MB, vs the 128 MB default): a coalesce(1)'d
    // 159 MB events file holds 1-2 row groups, and parquet splits can
    // only attach to row-group boundaries — so every CPU-bound scan of
    // the scaled fixture ran on 1-2 of 32 cores (measured: the
    // url_normalize scan stage at sf10 had task_time ≈ wall). At
    // 100 TB a table is thousands of row groups/files; 8 MB groups
    // give the local fixture the same scan fan-out.
    spark.sparkContext.hadoopConfiguration
      .setInt("parquet.block.size", 8 * 1024 * 1024)
    def write(df: DataFrame, name: String): Unit = {
      val hconf = spark.sparkContext.hadoopConfiguration
      val tmp = new org.apache.hadoop.fs.Path(s"$out/_tmp_$name")
      val fs = tmp.getFileSystem(hconf)
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = fs.listStatus(tmp)
        .map(_.getPath).find(_.getName.startsWith("part-")).get
      val target = new org.apache.hadoop.fs.Path(s"$out/$name.parquet")
      if (fs.exists(target)) fs.delete(target, false)
      fs.rename(part, target)
      fs.delete(tmp, true)
      println(s"[scalegen] $name: ${spark.read.parquet(target.toString).count()} rows")
    }

    // SPARK_GRAFT_HOT_FRACTION ∈ (0,1): adversarial hot-key variant —
    // that fraction of ALL event rows (chosen by a deterministic
    // event_id hash, so the set is layout-independent) is remapped to
    // user_id 0. One mega-user owning 20% of a 1M-row table is the
    // skew shape that turns every user_id-keyed window into a single
    // straggler task at cluster scale; the BASELINE.md skew table
    // measures exactly that against the uniform variant.
    val hotFraction = sys.env.getOrElse("SPARK_GRAFT_HOT_FRACTION", "0").toDouble
    val ev = spark.read.parquet(s"$src/events.parquet")
    val (eidS, uidS) = (maxOf(ev, "event_id"), maxOf(ev, "user_id"))
    write(copyUnion(ev) { (df, i) =>
      val shifted = df.withColumn("event_id", col("event_id") + lit(i * eidS))
        .withColumn("user_id", col("user_id") + lit(i * uidS))
      if (hotFraction <= 0) shifted
      else shifted.withColumn("user_id",
        when(pmod(xxhash64(col("event_id"), lit("hotkey")), lit(10000L))
          < (hotFraction * 10000).toLong, lit(0L))
          .otherwise(col("user_id")))
    }, "events")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val didS = maxOf(docs, "doc_id")
    write(copyUnion(docs) { (df, i) =>
      val txt = if (i == 0) col("text")
        else array_join(transform(split(col("text"), " "),
          w => concat(w, lit(s"_$i"))), " ")
      df.withColumn("doc_id", col("doc_id") + lit(i * didS))
        .withColumn("text", txt)
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val vidS = maxOf(emb, "vec_id")
    // Per-copy dimension PERMUTATION out[j] = emb[(a·j + i) mod dims]
    // with a = 2·(i/dims)+1 (odd ⇒ bijective mod a power-of-two dims).
    // For copies < dims this is exactly the old rotation-by-i (same
    // bytes), but the old slice() formulation went NEGATIVE past copy
    // dims−1 (slice(emb, i+1, size−i) — the documented copy-64 crash);
    // the affine index is total in i. Any uniform permutation preserves
    // norms and within-copy dots, so per-copy geometry stays identical
    // while cross-copy cosine decorrelates — the same scale claim as
    // the rotation, now at any copy count.
    write(copyUnion(emb) { (df, i) =>
      val rot =
        if (i == 0) col("embedding")
        else {
          val dims = 64
          val a = 2 * (i / dims) + 1
          transform(sequence(lit(0), lit(dims - 1)),
            j => element_at(col("embedding"), ((j * a + i) % dims) + 1))
        }
      df.withColumn("vec_id", col("vec_id") + lit(i * vidS))
        .withColumn("embedding", rot)
    }, "embeddings")

    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val cust = spark.read.parquet(s"$src/customer.parquet")
    val okS = maxOf(ord, "o_orderkey")
    val ckS = maxOf(cust, "c_custkey")
    write(copyUnion(li) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * okS))
    }, "lineitem")
    write(copyUnion(ord) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * okS))
        .withColumn("o_custkey", col("o_custkey") + lit(i * ckS))
    }, "orders")
    write(copyUnion(cust) { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * ckS))
    }, "customer")

    // dimension tables don't scale (TPC-H semantics): copy verbatim
    Seq("region", "nation", "supplier", "part").foreach { t =>
      write(spark.read.parquet(s"$src/$t.parquet"), t)
    }
    spark.stop()
  }
}
