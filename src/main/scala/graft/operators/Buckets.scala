package graft.operators

import org.apache.spark.sql.DataFrame

/** Bucket-count dial for the session's physical artifacts (the shingle
  * index, the trade-edge table, the basket index, the ANN index).
  *
  * Round 16 shipped these as fixed constants (32/32/32/16) with "raise
  * at scale" comments — prose, not posture. The dial makes the 100-TB
  * sizing EXECUTABLE: the count is a documented function of the source
  * corpus's size, derived from Catalyst's own statistics (file-size
  * based for file scans — no action, no sampling), targeting buckets
  * that stay executor-sized:
  *
  *     buckets = clamp(floor, 4096, ceil(corpusBytes / 256 MB))
  *
  * At the repo's test scales every corpus is far below 256 MB × floor,
  * so the dial returns the floor and every measured plan/anchor is
  * unchanged; at 100 TB the same call sizes the artifact to ~400k ×
  * 256 MB... capped at 4096 — past that you shard by a partition
  * column FIRST (bucketing-within-partitions), which is a layout
  * decision above this helper's pay grade and documented in SCALE.md.
  *
  * The count is resolved ONCE per artifact build and baked into the
  * written layout; readers take whatever the table was written with
  * (bucket-to-bucket joins only need the two sides to AGREE, which
  * sharing one artifact guarantees).
  */
object Buckets {

  /** Conservative floor — the local-mode parallelism every artifact
    * already uses; never dial below it or small corpora lose their
    * scan parallelism.
    */
  val DefaultFloor = 32

  /** Ceiling: past 4096 buckets the per-bucket file count stops being
    * the bottleneck and partition-column sharding takes over.
    */
  val Max = 4096

  /** Target on-disk bytes per bucket: comfortably under a 512 MB
    * executor-core working set after decompression.
    */
  val TargetBucketBytes: Long = 256L * 1024 * 1024

  /** Bucket count for an artifact derived from `source`. Reads the
    * optimizer's sizeInBytes statistic of the SOURCE plan (for file
    * scans: the actual file footprint), not the artifact's — the
    * artifact doesn't exist yet at sizing time, and the source bound
    * is the conservative one (indexes/edge lists are smaller than
    * their corpus).
    *
    * PASS A LEAF SCAN (the corpus table itself), never a derived
    * frame: without CBO, Catalyst's join/explode estimates multiply
    * child sizes, so a joined plan's sizeInBytes reads as petabytes at
    * toy SF and pegs the dial at [[Max]] — caught live in round 17
    * when sizing the trade-edge artifact from the orders⋈lineitem
    * plan produced 4096 one-row buckets and half a million tasks.
    */
  def artifact(source: DataFrame, floor: Int = DefaultFloor): Int = {
    require(floor >= 1 && floor <= Max, s"floor $floor out of [1, $Max]")
    val bytes = source.queryExecution.optimizedPlan.stats.sizeInBytes
    val need = (bytes + TargetBucketBytes - 1) / TargetBucketBytes
    need.min(BigInt(Max)).max(BigInt(floor)).toInt
  }
}
