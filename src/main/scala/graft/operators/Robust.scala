package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Robust (order-statistic) aggregates: exact weighted median and
  * winsorized/trimmed moments. Like the exact rolling median
  * (Rolling.scala), these are holistic aggregates the built-in
  * hash-aggregate path can't express — each one is laid out so the
  * heavy order-dependent work rides ONE hash exchange on the group
  * key, with the per-group collapse reusing that partitioning
  * (`HashPartitioning(key)` satisfies the follow-up groupBy(key)).
  *
  * All arithmetic is exact-integer (cents/weights as longs); the only
  * floating-point steps are single correctly-rounded divisions at the
  * very end, so results are bit-identical across engines and across
  * partitionings.
  */
object Robust {

  /** Exact weighted (lower) median per key: the smallest value whose
    * cumulative weight reaches half the group's total weight —
    * `min{ v : 2·cumw(v) >= W }`.
    *
    * Round 12 re-shape: the cumulative weight runs over the per-key
    * VALUE HISTOGRAM (weight summed per (key, value) by a
    * map-combining hash aggregate), not over raw rows. The old
    * raw-row window partitioned by a low-cardinality key (return
    * flags, event types) was |keys| straggler tasks each sorting its
    * whole group — 70 s at sf10 with 3 flags. The histogram cumsum is
    * value-deterministic by construction (no tie columns needed — ties
    * in `valueCol` land in one histogram row), and the weighted lower
    * median over the histogram is IDENTICAL to the row formulation.
    * Window tasks are bounded by the value domain, not the row count
    * — the madOutliers/auc/feature_bins distinct-value discipline.
    *
    * Output: (key, med — long, total_w — long).
    */
  def weightedMedian(df: DataFrame, keyCol: String, valueCol: String,
      weightCol: String): DataFrame = {
    val h = df.groupBy(col(keyCol), col(valueCol))
      .agg(sum(col(weightCol)).as("_w"))
    val run = Window.partitionBy(keyCol).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(keyCol)
    h
      .withColumn("_cw", sum(col("_w")).over(run))
      .withColumn("_tw", sum(col("_w")).over(all))
      .groupBy(col(keyCol))
      .agg(
        min(when(lit(2L) * col("_cw") >= col("_tw"), col(valueCol)))
          .as("med"),
        max(col("_tw")).as("total_w"))
  }

  /** MAD (median-absolute-deviation) robust outliers per key: flag rows
    * with |v − median| > factor·MAD — the robust z-score screen that,
    * unlike mean/stddev ([[graft.operators.Analytics]] zscore), cannot
    * be dragged by the outliers it is hunting (50% breakdown point vs
    * 0%). Both medians are the exact LOWER median ([[weightedMedian]]
    * with unit weights), so everything stays integer end to end — no
    * interpolated midpoint, no float anywhere, strict `>` at the
    * threshold.
    *
    * Shape: two keyed window exchanges (value median, then deviation
    * median) + two broadcast joins of the ≤|keys|-row median tables —
    * the raw rows shuffle twice and never more; factor·MAD compares as
    * exact integers.
    */
  def madOutliers(df: DataFrame, keyCol: String, valueCol: String,
      tieCol: String, factor: Long = 5L): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    // Lower median from the VALUE HISTOGRAM, not a raw-row window: the
    // keys of a robust screen are typically low-cardinality (event
    // types, segments), so partitioning raw rows by key would make the
    // whole table |keys| straggler tasks at scale. Collapsing to
    // (key, value, cnt) first (map-combining hash agg) leaves the
    // cumulative window a distinct-value-table problem — the
    // feature_bins/auc discipline — and the lower median over the
    // histogram (min v with 2·cum ≥ n) is IDENTICAL to the row
    // formulation, ties included.
    def histMedian(d: DataFrame, vCol: String, outName: String): DataFrame = {
      val h = d.groupBy(col(keyCol), col(vCol))
        .agg(count(lit(1)).as("_cnt"))
      val run = Window.partitionBy(keyCol).orderBy(col(vCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy(keyCol)
      h.withColumn("_cw", sum(col("_cnt")).over(run))
        .withColumn("_tw", sum(col("_cnt")).over(all))
        .groupBy(col(keyCol))
        .agg(min(when(lit(2L) * col("_cw") >= col("_tw"), col(vCol)))
          .as(outName))
    }
    val med = histMedian(df, valueCol, "med")
    val dev = df.join(broadcast(med), keyCol)
      .withColumn("abs_dev", abs(col(valueCol) - col("med")))
    val mad = histMedian(dev, "abs_dev", "mad")
    dev.join(broadcast(mad), keyCol)
      .where(col("abs_dev") > lit(factor) * col("mad"))
      .select(col(keyCol), col(tieCol), col(valueCol), col("med"),
        col("abs_dev"), col("mad"))
  }

  /** Winsorized and trimmed mean per key over an exact integer (cents)
    * column. With n group rows and k = n DIV `tailDenom` (5% tails at
    * the default 20), the k smallest values are clamped up to the
    * (k+1)-th and the k largest down to the (n−k)-th — but instead of
    * materializing clamped rows, the group aggregate folds the clamp
    * algebraically: winsorized sum = k·(lo + hi) + Σ middle.  The
    * trimmed mean drops the tails outright (null when nothing
    * remains).
    *
    * Like [[weightedMedian]], the rank arithmetic runs over the
    * per-key VALUE HISTOGRAM, not raw rows: a robust screen's key is
    * typically low-cardinality (event types), so a raw-row window is
    * |keys| straggler tasks each sorting its whole group. The
    * histogram collapse (map-combining hash aggregate) bounds the
    * window tasks by the value domain — a currency column saturates
    * at its price range — and the stats are unchanged because both
    * means are multiset functions: a value with count c occupies rank
    * interval [cw−c+1, cw] of the (value, id) sort, so the middle
    * contribution is the interval's overlap with [k+1, n−k] and the
    * clamp values are the min values whose cumulative count reaches
    * k+1 and n−k. `idCol` is retained for call-site compatibility; the
    * histogram form no longer needs a tie-break to be deterministic.
    *
    * Output: (key, n, k, lo_cents, hi_cents, wins_mean, trim_mean) —
    * means in currency units (cents / 100), each a single division of
    * exact longs.
    */
  def winsorizedStats(df: DataFrame, keyCol: String, centsCol: String,
      idCol: String, tailDenom: Int = 20): DataFrame = {
    require(tailDenom >= 2, s"tailDenom must be >= 2, got $tailDenom")
    val run = Window.partitionBy(keyCol).orderBy(col(centsCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(keyCol)
    val lo = col("_cw") - col("_c") + 1L   // first rank this value holds
    val overlap =
      least(col("_cw"), col("_n") - col("_k")) -
        greatest(lo, col("_k") + 1L) + 1L  // ranks of this value in the middle
    df
      .groupBy(col(keyCol), col(centsCol))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_cw", sum(col("_c")).over(run))
      .withColumn("_n", sum(col("_c")).over(all))
      .withColumn("_k", expr(s"_n DIV $tailDenom"))
      .groupBy(col(keyCol))
      .agg(
        max(col("_n")).as("n"),
        max(col("_k")).as("k"),
        min(when(col("_cw") >= col("_k") + 1L, col(centsCol))).as("lo_cents"),
        min(when(col("_cw") >= col("_n") - col("_k"), col(centsCol)))
          .as("hi_cents"),
        // null (not 0) when no value overlaps the middle, matching the
        // raw-row sum(when(rn BETWEEN ...)) that returns null on an
        // empty middle (n = 2k) — wins_mean nulls with it
        sum(when(overlap >= 1L, overlap * col(centsCol))).as("_mid"))
      .select(col(keyCol), col("n"), col("k"), col("lo_cents"), col("hi_cents"),
        ((col("k") * (col("lo_cents") + col("hi_cents")) + col("_mid"))
          .cast("double") / (lit(100L) * col("n"))).as("wins_mean"),
        when(col("n") > lit(2L) * col("k"),
          col("_mid").cast("double") / (lit(100L) * (col("n") - lit(2L) * col("k"))))
          .as("trim_mean"))
  }
}
