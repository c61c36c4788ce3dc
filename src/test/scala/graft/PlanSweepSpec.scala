package graft

import org.apache.spark.sql.catalyst.plans.logical.Window

/** Whole-registry screen for GLOBAL RANGE SORTS — the one scale-killer
  * the exact-equality cartesian/BNLJ gate in [[PlanSpec]] doesn't
  * cover. An `Exchange rangepartitioning` on a data-sized set is a
  * full parallel sort; that's either a deliberate layout decision
  * (audited below) or an accidental `orderBy` someone left on a
  * result, and the two must not be confusable. The same pass screens
  * for windows with no partition spec, the other single-task shape.
  * Streaming twins are skipped (executedPlan is undefined pre-start;
  * StreamingSpec covers their shapes).
  */
class PlanSweepSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Queries whose range partitioning is a designed, priced decision. */
  private val rangeAudited = Set(
    // zorder_value was audited here through round 12 (range-partitioned
    // sorted write layout) but its registered plan no longer carries a
    // range exchange — pruned round 13 when this list became
    // self-pruning (the tightness test below).
    "corpus_shuffle",       // md5-order dense rank (bounded rank table)
    // The packing family's two-phase global prefix sum IS a parallel
    // range sort (TeraSort shape): range-partition by doc order, sum
    // within partitions, add broadcast per-partition offsets. That is
    // the scalable formulation — the killer alternative is the
    // single-partition window it replaced.
    "seq_pack", "pack_emit", "tokenize_pack",
    // Round 12: curriculum/token-budget moved onto the same two-phase
    // grouped prefix sum (Packing.groupedCumSum) — the range exchange
    // here REPLACES the per-source/per-stage total-order window that
    // was the scale-killer (VERDICT r11 items 3-4).
    "curriculum_order", "token_budget_sample",
    // dsir_resample was audited here round 13 (two-phase prefix sum)
    // but its registered budget (200 ≤ takeCap) now plans as
    // TakeOrderedAndProject — no range exchange; pruned round 14. The
    // prefix-sum fallback above the cap stays covered by the packing
    // entries (same groupedCumSum shape).
    // TPC-H queries carry the spec's ORDER BY over already-reduced
    // outputs (post-aggregation, O(groups) rows).
    "tpch_q4", "tpch_q7", "tpch_q8", "tpch_q9", "tpch_q11", "tpch_q12",
    "tpch_q13", "tpch_q15", "tpch_q16", "tpch_q20", "tpch_q22")

  /** Queries whose plan holds a `Window` with no partition spec — one
    * task runs the whole window — each with the bound on its input.
    * The list does not fix them; it stops new ones. The value domains
    * (score cents, sensitive values, prices) grow with the data.
    */
  private val windowAudited: Map[String, String] = Map(
    "auc_exact" -> "distinct score cents (Evaluation.aucExact)",
    "ks_statistic" -> "distinct score cents, and a Window.partitionBy() total (Evaluation.ksStatistic)",
    "t_closeness" -> "distinct sensitive values (Privacy.tCloseness)",
    "dp_quantile" -> "distinct sensitive values (Privacy.dpQuantile)",
    "feature_bins" -> "distinct prices (FeatureQueries.featureBins)",
    "shard_balance" -> "shard totals (Partitioning.shardBalance)",
    "hybrid_retrieval" -> "a top-20 rank (VecQueries.hybridRetrieval)",
    "dsir_resample" -> "the budget, after a limit (Dsir's take path)",
    "corpus_shuffle" -> "partition ids (Packing.globalOffsets)",
    "seq_pack" -> "partition ids (Packing.globalOffsets)",
    "pack_emit" -> "partition ids (Packing.globalOffsets)",
    "tokenize_pack" -> "partition ids (Packing.globalOffsets)")

  /** One pass over every registered batch query: does its physical plan
    * range-partition, and does its optimized plan hold an unpartitioned
    * `Window` (subqueries included)? Windows inside eager artifact
    * builds run before the plan exists and are not seen here.
    */
  private lazy val shapes: Map[String, (Boolean, Boolean)] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => name.startsWith("streaming_") }
      .map { case (name, fn) =>
        val qe = fn(spark, sf).queryExecution
        name -> (
          qe.executedPlan.toString.contains("Exchange rangepartitioning"),
          qe.optimizedPlan.collectWithSubqueries {
            case w: Window if w.partitionSpec.isEmpty => w
          }.nonEmpty)
      }.toMap

  private def rangeSorted(name: String) = shapes(name)._1
  private def globalWindow(name: String) = shapes(name)._2

  test("the range audit list is tight: every entry still range-partitions") {
    // self-pruning (the PlanSpec BNLJ-list discipline): an audit entry
    // whose plan no longer contains a range exchange is stale cover —
    // a future accidental global orderBy on that query would pass the
    // sweep unexamined.
    val stale = rangeAudited.toSeq.sorted.filterNot(rangeSorted)
    assert(stale.isEmpty,
      s"stale range-audit entries (no range exchange anymore): $stale —" +
        " prune them from rangeAudited")
  }

  test("global range sorts appear only in audited queries") {
    val offenders = shapes.keys.toSeq.sorted
      .filter(name => rangeSorted(name) && !rangeAudited(name))
    assert(offenders.isEmpty,
      s"unaudited global sorts in: $offenders — a global orderBy on a" +
        " data-sized set is a scale killer; sort within partitions or" +
        " bound the sorted set and add to the audit list")
  }

  test("the window audit list is tight: every entry still has an unpartitioned window") {
    val stale = windowAudited.keys.toSeq.sorted.filterNot(globalWindow)
    assert(stale.isEmpty,
      s"stale window-audit entries (no unpartitioned window anymore): $stale —" +
        " prune them from windowAudited")
  }

  test("unpartitioned windows appear only in audited queries") {
    val offenders = shapes.keys.toSeq.sorted
      .filter(name => globalWindow(name) && !windowAudited.contains(name))
    assert(offenders.isEmpty,
      s"unaudited single-partition windows in: $offenders — a Window" +
        " without partitionBy moves all its input to one task; partition" +
        " it, bound its input, or add it to windowAudited with the bound")
  }
}
