package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Per-key trailing time-window features (reference
  * `add_rolling_features`, elb_logs.py:271-292).
  *
  * pandas `rolling(window='5min', on='time')` uses a LEFT-OPEN,
  * right-closed interval `(t−Δ, t]`; Spark's `rangeBetween` is closed on
  * both ends, so we range over epoch MICROSECONDS with a `Δ−1 µs` lower
  * bound to exclude the exact left edge (SURVEY.md §2 op 37). The oracle
  * SQL mirrors the identical frame.
  *
  * Unlike the reference — which computes each rolling series into a
  * separate frame and merges it back on (key, time), fanning out on
  * duplicate pairs (SURVEY.md §2 op 31) — window functions compute in
  * place: no self-join, no fan-out, and both features share one
  * shuffle + sort because they use the same partition/order spec.
  */
object Rolling {

  /** Trailing `(t−micros, t]` frame per key, ordered by event time. */
  def trailing(keyCol: Column, timeCol: Column, micros: Long): WindowSpec =
    Window.partitionBy(keyCol)
      .orderBy(unix_micros(timeCol))
      .rangeBetween(-(micros - 1), 0)

  val FiveMinutes: Long = 5L * 60 * 1000000
  val OneHour: Long = 60L * 60 * 1000000

  /** Trailing time-range frames with two-phase within-key TIME
    * CHUNKING — the exact-result escape hatch for hot keys (the
    * BASELINE.md round-9 skew table: one mega-key = one straggler task
    * under [[trailing]], the only window-family member that degrades).
    *
    * Rows block by `floor(micros / blockSpan)` with `blockSpan ≥` the
    * longest frame Δ, and every row is REPLICATED once into the next
    * block as a frame-only carry: a frame reaching back ≤ Δ ≤ blockSpan
    * from any row in block b can only touch blocks b and b−1, so the
    * (key, block) partition contains every frame member and the window
    * result is exactly [[trailing]]'s. Output keeps only the non-carry
    * copies. Cost: 2× rows through ONE shuffle, in exchange for the
    * hot key splitting into per-block tasks — per-task work is bounded
    * by rows-per-(key, block), not rows-per-key, at any skew.
    *
    * Each frame is `(deltaMicros, build, name)`: the builder receives
    * the (key, block) spec ALREADY bounded to the trailing
    * `(t−Δ, t]` range, so the exactness invariant `Δ ≤ blockSpan` is
    * machine-checked here instead of being a doc-only contract —
    * a lookback wider than one block would silently lose frame
    * members past the single-carry horizon. The builder is still a
    * function so composite frames (e.g. a sum/count ratio over the
    * same range) stay expressible.
    */
  def trailingChunked(df: DataFrame, keyCol: Column, timeCol: Column,
      blockSpan: Long)(
      frames: (Long, WindowSpec => Column, String)*): DataFrame = {
    require(blockSpan > 0, s"blockSpan must be positive, got $blockSpan")
    require(frames.nonEmpty, "need at least one frame")
    frames.foreach { case (d, _, name) =>
      require(d > 0, s"frame '$name' needs a positive lookback, got $d")
      require(d <= blockSpan,
        s"frame '$name' looks back $d µs > blockSpan $blockSpan µs — " +
          "carry replication only covers ONE previous block, so this " +
          "would silently drop frame members; raise blockSpan")
    }
    val micros = unix_micros(timeCol)
    // exact while micros < 2^53 (year ~2255); the double division is
    // then integer-valued before floor
    val base = df.withColumn("_blk", floor(micros / lit(blockSpan)).cast("long"))
      .withColumn("_carry", lit(false))
    val both = base.unionByName(
      base.withColumn("_blk", col("_blk") + 1).withColumn("_carry", lit(true)))
    // all frame columns in ONE projection: sequential withColumn would
    // leave a Project between the Window nodes, defeating CollapseWindow
    // — one select plans a single Window node + sort for every frame
    // sharing the (key, block) spec
    val spec = Window.partitionBy(keyCol, col("_blk")).orderBy(unix_micros(timeCol))
    both.select(col("*") +: frames.map { case (d, mk, name) =>
      mk(spec.rangeBetween(-(d - 1), 0)).as(name) }: _*)
      .where(!col("_carry")).drop("_blk", "_carry")
  }

  /** The reference's exact pair, a 5-min trailing request count and a
    * 1-h trailing mean processing time, through [[trailingChunked]]:
    * the frames have [[trailing]]'s `(t−Δ, t]` membership, so the count
    * is bit-identical and the mean agrees to summation-order ulps, but
    * the window partitions by (key, hour-block) with carry replication
    * instead of by key alone, so a hot IP splits into per-block tasks
    * instead of one straggler. [[graft.ElbPipeline.features]] runs it.
    */
  def addRollingFeaturesChunked(
      df: DataFrame,
      keyCol: String = "client_ip",
      timeCol: String = "time",
      countCol: String = "request",
      avgCol: String = "total_processing_time"): DataFrame =
    trailingChunked(df, col(keyCol), col(timeCol), OneHour)(
      (FiveMinutes, w => count(col(countCol)).over(w),
        "rolling_5min_request_count"),
      (OneHour, w => avg(col(avgCol)).over(w),
        "rolling_1h_avg_processing"))

  /** Exponentially-weighted moving average (α = ½) over the last
    * `depth` rows per key, on the exact integer domain.
    *
    * Float EWMA is a power series — partition-order FP drift makes it
    * unverifiable across engines, and an unbounded recursion doesn't
    * fit a window frame anyway. Truncating at `depth` half-lives makes
    * the weights exact powers of two: lag j contributes
    * `cents · 2^(depth-1-j)`, the normalizer is the sum of the weights
    * actually present (short heads and NULL values self-normalize),
    * and the final division of two exactly-representable integers is
    * correctly rounded — bit-identical on any engine. With α = ½ the
    * dropped tail weighs 2^-depth ≤ 1.5e-5 of the mass: truncation IS
    * the definition here, not an approximation of something else.
    *
    * Plan shape: all `2·depth` lag expressions share ONE window spec —
    * a single partition-keyed exchange + sort, everything inside
    * whole-stage codegen (lag is a pure offset expression; no HOF
    * fallback, no self-join fan-out — the reference's merge-back
    * formulation would join 16 shifted copies).
    */
  def ewmaLast(
      df: DataFrame, keyCol: String, timeCol: String, tieCol: String,
      centsCol: String, depth: Int = 16): DataFrame = {
    // The numerator term is cents · 2^(depth-1) and up to `depth` terms
    // sum: depth ≤ 30 keeps |cents| < 2^31 rows exactly inside int64
    // (2^31·2^29·30 < 2^63). A deeper tail would weigh ≤ 2^-30 anyway —
    // raising this cap needs a decimal widening, not a bigger shift.
    require(depth >= 1 && depth <= 30, s"depth out of range (1..30): $depth")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(timeCol), col(tieCol))
    def weight(j: Int): Long = 1L << (depth - 1 - j)
    val num = (0 until depth).map { j =>
      coalesce(lag(col(centsCol), j).over(w), lit(0L)) * weight(j)
    }.reduce(_ + _)
    val den = (0 until depth).map { j =>
      when(lag(col(centsCol), j).over(w).isNotNull, lit(weight(j)))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    df.withColumn("ewma_num", num)
      .withColumn("ewma_den", den)
      .withColumn("ewma",
        when(col("ewma_den") > 0,
          col("ewma_num").cast("double") / col("ewma_den")))
  }
}
