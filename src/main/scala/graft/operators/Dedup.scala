package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash groupBy), MinHash+LSH banding, SimHash fingerprints,
  * n-gram Jaccard verification, and embedding-cosine near-dup.
  *
  * Design for 100 TB: everything per-document (shingles, signatures,
  * fingerprints) is a NARROW array computation — no explode, no
  * shuffle — so the only exchanges are the final hash-aggregate or the
  * band-bucket self-join, whose width is one row per (doc, band), never
  * per shingle. Signatures use md5-string min-hashing: deterministic,
  * seedable, and reproducible in any engine (no JVM-specific hash).
  */
object Dedup {

  /** Exact dedup: group identical texts by content hash, keep the
    * smallest id as representative.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Distinct word k-shingles of a text column. Texts shorter than k
    * words collapse to a single whole-text shingle.
    *
    * Backed by the codegen'd [[graft.functions.WordShingles]] — the
    * equivalent builtin chain (`array_distinct(transform(sequence(...),
    * i => concat_ws(" ", slice(words, i+1, k))))`) is a higher-order
    * function that evaluates interpreted, per gram, with a slice
    * allocation each — and shingling is the front half of five
    * operators.
    */
  def shingles(text: Column, k: Int): Column =
    graft.functions.WordShingles.word_shingles(text, k)

  /** 60-bit md5-prefix draw of a string (numeric value of the first
    * 15 hex chars — the repo's standard reproducible-draw idiom,
    * driver-side twin of `conv(substring(md5(x), 1, 15), 16, 10)`).
    */
  private def md5U60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var u = 0L
    var i = 0
    while (i < 7) { u = (u << 8) | (d(i) & 0xffL); i += 1 }
    (u << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  /** Multiply–shift MinHash family constants, regenerable from the
    * public md5 formula alone: `A_s` odd < 2³⁹ (odd ⇒ the map is a
    * bijection mod 2⁴⁸; < 2³⁹ ⇒ every intermediate product fits a
    * SIGNED 64-bit long, so the identical arithmetic runs under
    * Spark's ANSI overflow checking and in DuckDB BIGINT), `B_s` < 2⁴⁸.
    */
  val minhashA: IndexedSeq[Long] =
    (0 until 32).map(s => (md5U60(s"minhash-a:$s") % (1L << 38)) * 2 + 1)
  val minhashB: IndexedSeq[Long] =
    (0 until 32).map(s => md5U60(s"minhash-b:$s") % (1L << 48))

  /** sig_s(u) = (A_s·u + B_s) mod 2⁴⁸ without 128-bit arithmetic:
    * split u into 24-bit halves, so A·u mod 2⁴⁸ =
    * ((A·u_lo) mod 2⁴⁸ + (((A mod 2²⁴)·(u_hi mod 2²⁴)) mod 2²⁴)·2²⁴)
    * mod 2⁴⁸ — every product < 2⁶³ (exact bit ops: &, <<, >>; no
    * overflow under ANSI, same literals in the DuckDB oracle). Odd A
    * makes u ↦ sig a bijection of the low 48 bits, so min-wise hash
    * quality matches the classic seeded family at one md5 per shingle
    * instead of one per (shingle, seed).
    */
  private[graft] def minhashSig(u: Column, s: Int): Column = {
    val a = minhashA(s)
    val b = minhashB(s)
    val m24 = 0xFFFFFFL
    val m48 = 0xFFFFFFFFFFFFL
    val t1m = (lit(a) * u.bitwiseAND(lit(m24))).bitwiseAND(lit(m48))
    val t2 = (lit(a & m24) * shiftright(u, 24).bitwiseAND(lit(m24)))
      .bitwiseAND(lit(m24))
    (t1m + shiftleft(t2, 24) + lit(b)).bitwiseAND(lit(m48))
  }

  /** The 60-bit md5-prefix draw of a shingle, as a Column.
    * `private[graft]` so DedupSpec's collision soft-assert can verify
    * that a fixture has no 60-bit collision (a collision would make
    * the hash-equality intersection counts off-by-one vs the
    * string-exact brute force — surface it as a named failure, not a
    * silent set diff).
    */
  private[graft] def shingleU(sh: Column): Column =
    conv(substring(md5(sh), 1, 15), 16, 10).cast("long")

  /** MinHash signature columns `sig_0 … sig_{n-1}`: per hash-family
    * member s, the min of (A_s·u + B_s) mod 2⁴⁸ over the shingle set,
    * u the shingle's 60-bit md5 prefix — ONE md5 per shingle, the
    * other n−1 draws are three-multiply integer arithmetic
    * ([[minhashSig]]). Pure array expressions: zero shuffle.
    * NOTE: higher-order functions interpret per element AND recompute
    * the u-array per signature — prefer [[minhashSignatureTable]] on
    * hot paths.
    */
  def minhashSignatures(shingleCol: Column, numHashes: Int): Seq[Column] = {
    val us = transform(shingleCol, sh => shingleU(sh))
    (0 until numHashes).map { s =>
      array_min(transform(us, u => minhashSig(u, s))).as(s"sig_$s")
    }
  }

  /** Same signatures via explode + hash-aggregate: the shingle array is
    * computed ONCE per doc, each md5 runs on the codegen'd row path, and
    * map-side partial mins collapse the exploded rows back to one per
    * doc before the (tiny) shuffle. ~10× faster than the array-HOF form
    * and the shape that scales: explode width never crosses the wire.
    */
  def minhashSignatureTable(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int): DataFrame = {
    // one md5 per DISTINCT (doc, shingle) materialized in the exploded
    // projection; each signature is then three integer multiplies over
    // the shared u ([[minhashSig]]) inside the map-side partial min —
    // the pre-round-12 family paid numHashes md5s per shingle and
    // shuffled 32-char string signatures; longs cut both the hash CPU
    // ~numHashes× and the partial-agg exchange bytes ~6×.
    val exploded = df
      .select(col(idCol), explode(shingles(col(textCol), shingleK)).as("sh"))
      .select(col(idCol), shingleU(col("sh")).as("_u"))
    val sigAggs = (0 until numHashes).map { s =>
      min(minhashSig(col("_u"), s)).as(s"sig_$s")
    }
    exploded.groupBy(col(idCol)).agg(sigAggs.head, sigAggs.tail: _*)
  }

  /** LSH banding: concatenate `rowsPerBand` consecutive signatures per
    * band; docs sharing any band value are candidate pairs. The band
    * key is the ':'-joined decimal signatures (injective — no hash, no
    * collision-induced false candidates). Returns
    * (id, band_idx, band_hash) rows — the ONLY shuffled shape, one row
    * per (doc, band).
    */
  def lshBands(df: DataFrame, idCol: String, numHashes: Int, rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be divisible by rowsPerBand ($rowsPerBand) — " +
        "trailing signatures would be silently unused")
    val numBands = numHashes / rowsPerBand
    val bandStructs = (0 until numBands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(s => col(s"sig_$s").cast("string"))
      struct(lit(b).as("band_idx"),
        concat_ws(":", cols: _*).as("band_hash"))
    }
    df.select(col(idCol), explode(array(bandStructs: _*)).as("b"))
      .select(col(idCol), col("b.band_idx"), col("b.band_hash"))
  }

  /** Skew guard for LSH-bucket self-joins. Annotates bucket-keyed rows
    * with `_kept` (a deterministic ≈`cap`-row subset of each bucket —
    * the whole bucket when it fits) and `_anchor` (the bucket's min
    * id, always kept). An adversarial corpus — millions of IDENTICAL
    * documents — collapses into ONE bucket, and an unguarded self-join
    * does O(B²) work on a single shuffle key; with the guard, pairs
    * are emitted only among the kept subset (O(cap²)) while every
    * dropped row still links to the anchor (O(B) star edges), so
    * CONNECTIVITY is exact — connected-components dedup downstream
    * sees the same clusters. What is traded is pair-level recall among
    * the dropped tail of a >cap bucket (two dropped near-dups that are
    * NOT near the anchor won't surface as a pair).
    *
    * Shape: skew is DETECTED ON A SAMPLE, the way AQE detects it from
    * runtime statistics — an exact per-bucket count would either
    * recompute the whole upstream bucket derivation a second time or
    * force a materialization/window sort of the big table, and all
    * three cost more on natural data than the skew they guard against.
    * A deterministic 1-in-`sampleMod` hash-sample of ids flows through
    * the same bucket derivation (the id filter pushes below the
    * per-doc aggregates, so only the sampled docs are shingled at
    * all), per-bucket sample counts scale up to a size estimate, and
    * only the estimated-oversized buckets (normally ZERO rows)
    * broadcast back over a left join — everything else passes through
    * a broadcast miss. The cap is therefore approximate: a bucket near
    * the cap may engage or not (both behaviors are correct candidate
    * sets), but a catastrophic bucket (B ≫ cap, the O(B²) killer) is
    * flagged with overwhelming probability, and the decision is a pure
    * hash function of the data — deterministic, partition-independent.
    * The anchor is the min sampled id of the bucket (kept by
    * construction); star edges order ids with least/greatest since the
    * global min may be unsampled.
    *
    * The detection job runs EAGERLY (the same driver-side adaptivity
    * as [[BloomJoin]]'s build job and Spark's own runtime filters),
    * and its result — the tiny oversized-bucket list — is a
    * [[graft.Artifacts]] state value per (input plan, bucket cols,
    * cap, sampleMod): skew is a property of a corpus version, so one
    * detection pass serves every dedup query and repeat over the same
    * input (production would persist the verdict next to the band
    * table).
    * When no oversized bucket exists — every natural corpus — the
    * returned plan is the UNGUARDED plan plus constant columns, so
    * `where(!_kept)` star-edge branches constant-fold to empty and
    * the self-join plan is byte-for-byte what it was before the
    * guard existed.
    */
  def bucketSkewGuard(rows: DataFrame, bucketCols: Seq[String],
      idCol: String, cap: Int, sampleMod: Int = 100): DataFrame = {
    require(cap >= 2, s"cap must be >= 2, got $cap")
    val overRows = graft.Artifacts.state(rows.sparkSession, "skew_buckets",
        rows, bucketCols, idCol, cap, sampleMod) {
      rows
        .where(pmod(Sketches.hash60(col(idCol), "skewdetect"),
          lit(sampleMod.toLong)) === 0)
        .groupBy(bucketCols.map(col): _*)
        .agg((count(lit(1)) * sampleMod).as("_bsize"),
          min(col(idCol)).as("_anchor"))
        .where(col("_bsize") > cap)
        .collect().toSeq
    }
    if (overRows.isEmpty) {
      rows
        .withColumn("_bsize", lit(null).cast("long"))
        .withColumn("_anchor", lit(null).cast(rows.schema(idCol).dataType))
        .withColumn("_kept", lit(true))
    } else {
      val spark = rows.sparkSession
      val overSchema = org.apache.spark.sql.types.StructType(
        bucketCols.map(rows.schema(_)) :+
          org.apache.spark.sql.types.StructField("_bsize",
            org.apache.spark.sql.types.LongType) :+
          org.apache.spark.sql.types.StructField("_anchor",
            rows.schema(idCol).dataType))
      val over = spark.createDataFrame(
        new java.util.ArrayList(scala.jdk.CollectionConverters
          .SeqHasAsJava(overRows).asJava), overSchema)
      rows.join(broadcast(over), bucketCols, "left")
        .withColumn("_kept",
          col("_bsize").isNull || col(idCol) === col("_anchor") ||
            pmod(Sketches.hash60(col(idCol), "skew"), col("_bsize")) < cap)
    }
  }

  /** Cast-to-long graph ids must BE integral: see the call sites. */
  private def requireIntegralIds(
      df: DataFrame, cols: Seq[String], op: String): Unit =
    cols.foreach { c =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.ByteType
           | org.apache.spark.sql.types.ShortType
           | org.apache.spark.sql.types.IntegerType
           | org.apache.spark.sql.types.LongType => ()
        case dt => throw new IllegalArgumentException(
          s"$op needs integral node ids; column '$c' is $dt " +
            "(dense-rank or hash60 string ids to longs first)")
      }
    }

  /** Candidate near-dup pairs (a < b) from shared LSH buckets. The
    * self-join shuffles on (band_idx, band_hash); bucket sizes are the
    * skew knob — more hashes/bands shrink buckets at 100 TB — and
    * buckets that still exceed `bucketCap` go through
    * [[bucketSkewGuard]]: kept-subset pairs plus anchor star edges,
    * never O(bucket²) on one key. Natural corpora stay far below the
    * default cap, where output is bit-identical to the unguarded join.
    */
  def minhashCandidates(
      df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, numHashes: Int = 9, rowsPerBand: Int = 3,
      bucketCap: Int = 10000): DataFrame = {
    // Signatures derive from the SHARED [[ShingleIndex]] artifact the
    // set-similarity family already maintains (round 18): one
    // MinhashSigs kernel pass over each doc's persisted sorted-hash
    // array replaces the per-query shingle → md5 → explode →
    // hash-aggregate pipeline — at bench SF that pipeline was the
    // front half of FIVE queries (dedup_clusters/canonical/weights,
    // split_leakage_safe, curate_corpus re-run it per call), and at
    // 100 TB the index is a maintained table, not a pass you re-run.
    // Bit-identical: min over the same distinct-u set, same
    // multiply-shift family ([[minhashSig]]) — the equality
    // [[ngramJaccardPairs]] relies on (and the oracle replays).
    val idx = shingleIndex(df, idCol, textCol, shingleK)
    val sigKernel = graft.functions.MinhashSigs.minhash_sigs(col("us"),
      (0 until numHashes).map(minhashA), (0 until numHashes).map(minhashB))
    val sigs = idx.arr.select(col("doc").as(idCol), sigKernel.as("_sigs"))
      .select(col(idCol) +: (0 until numHashes).map(s =>
        element_at(col("_sigs"), s + 1).as(s"sig_$s")): _*)
    val bands = lshBands(sigs, idCol, numHashes, rowsPerBand)
    val guarded =
      bucketSkewGuard(bands, Seq("band_idx", "band_hash"), idCol, bucketCap)
    val kept = guarded.where(col("_kept"))
    val a = kept.select(col("band_idx"), col("band_hash"), col(idCol).as("doc_a"))
    val b = kept.select(col("band_idx"), col("band_hash"), col(idCol).as("doc_b"))
    val keptPairs = a.join(b, Seq("band_idx", "band_hash"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    // the anchor is the min SAMPLED id (always kept); a dropped id may
    // sort on either side of it, so order the edge explicitly
    val starPairs = guarded.where(!col("_kept"))
      .select(least(col("_anchor"), col(idCol)).as("doc_a"),
        greatest(col("_anchor"), col(idCol)).as("doc_b"))
    keptPairs.union(starPairs).distinct()
  }

  /** Incremental (batch-vs-corpus) near-dup detection: the daily-ingest
    * shape. A `fresh` batch is checked against the `base` corpus by
    * MinHash-LSH band match — a fresh doc sharing ANY band hash with a
    * base doc is flagged with `dup_of` = the smallest matching base id;
    * clean docs carry `dup_of` = -1. Output: one row per fresh doc
    * (idCol, dup_of, is_dup).
    *
    * Scale posture: the join is the bucketed band equi-join (one row per
    * (doc, band), never per shingle, never all-pairs). In production the
    * base band table is computed ONCE and persisted (it is a pure
    * function of the corpus — recompute only for new base docs); the
    * fresh side is a day's batch, so Spark's size estimate will usually
    * broadcast it against the 100 TB side. Band parameters must match
    * the ones the base table was built with.
    */
  def incrementalDups(
      base: DataFrame, fresh: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, numHashes: Int = 9, rowsPerBand: Int = 3): DataFrame = {
    val baseBands = lshBands(
      minhashSignatureTable(base, idCol, textCol, shingleK, numHashes),
      idCol, numHashes, rowsPerBand)
      .select(col("band_idx"), col("band_hash"), col(idCol).as("_base_id"))
    val freshBands = lshBands(
      minhashSignatureTable(fresh, idCol, textCol, shingleK, numHashes),
      idCol, numHashes, rowsPerBand)
    val matches = freshBands
      .join(baseBands, Seq("band_idx", "band_hash"))
      .groupBy(col(idCol))
      .agg(min(col("_base_id")).as("_dup_of"))
    fresh.select(col(idCol))
      .join(matches, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_dup_of"), lit(-1L)).as("dup_of"),
        col("_dup_of").isNotNull.as("is_dup"))
  }

  /** SimHash fingerprint (`bits` ≤ 32): per distinct word, take the high
    * bit of each md5 nibble as ±1; the fingerprint sets bit j when the
    * j-th sum is non-negative. Near-dups differ in few bits (compare
    * with bit_count(xor)). Narrow, shuffle-free.
    */
  def simhash(text: Column, bits: Int = 16): Column =
    // codegen byte-walk kernel (round 14); coalesce mirrors the
    // interpreted twin's null semantics — its per-bit
    // when(null >= 0).otherwise(0) yields fingerprint 0 for null text
    coalesce(
      graft.functions.SimhashText.simhash_text(text, bits), lit(0L))

  /** SimHash near-dup PAIRS via bit-block LSH: split the `bits`-bit
    * fingerprint into `blocks` equal blocks and bucket-join on any
    * identical block. By pigeonhole this is EXACT (100% recall), not
    * approximate, whenever `maxHamming < blocks`: a pair differing in
    * ≤ maxHamming bits cannot touch every block. The block join is the
    * only shuffle (one row per (doc, block)); the Hamming distance is
    * one xor+popcount per surviving candidate. The scale knobs are the
    * same as MinHash banding: more/narrower blocks → bigger buckets →
    * more candidates; wider fingerprints (bits=32) keep random
    * collisions negligible at corpus scale.
    */
  def simhashPairs(
      df: DataFrame, textCol: String, idCol: String,
      bits: Int = 32, blocks: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(bits % blocks == 0, s"bits ($bits) must divide into $blocks blocks")
    require(maxHamming < blocks,
      s"pigeonhole exactness needs maxHamming ($maxHamming) < blocks ($blocks)")
    val bpb = bits / blocks
    val mask = (1L << bpb) - 1
    val fps = df.select(col(idCol), simhash(col(textCol), bits).as("fp"))
    val blocked = fps.select(col(idCol), col("fp"),
      explode(array((0 until blocks).map { b =>
        struct(lit(b).as("block_idx"),
          shiftright(col("fp"), b * bpb).bitwiseAND(lit(mask)).as("block_val"))
      }: _*)).as("blk"))
      .select(col(idCol), col("fp"), col("blk.block_idx"), col("blk.block_val"))
    val a = blocked.select(col("block_idx"), col("block_val"),
      col(idCol).as("id_a"), col("fp").as("fp_a"))
    val b = blocked.select(col("block_idx"), col("block_val"),
      col(idCol).as("id_b"), col("fp").as("fp_b"))
    a.join(b, Seq("block_idx", "block_val"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "fp_a", "fp_b").distinct()
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Exact n-gram Jaccard over multi-band MinHash-LSH candidate pairs:
    * |A∩B| / |A∪B| on distinct shingle sets. Integer set sizes → the
    * division is bit-identical across engines.
    *
    * Scale posture: candidates come from the SAME multi-band blocking as
    * [[minhashCandidates]] (docs must share ALL `rowsPerBand` consecutive
    * min-hashes of some band), never from a single hash — a single
    * popular min-shingle would otherwise collect every doc that contains
    * it into one O(block²) bucket with a single-key shuffle hotspot. The
    * exploded shingle table is built once and shared by signature
    * aggregation and the per-doc sorted hash arrays; the verify is a
    * two-pointer merge per candidate pair (round 14 — previously a
    * broadcast-candidates join back into the exploded shingle table
    * whose pair×shared-shingle row expansion dominated the query's sf10
    * cost). Oversized band buckets go through the
    * same [[bucketSkewGuard]] as [[minhashCandidates]] — an adversarial
    * all-identical corpus would otherwise emit O(n²) candidate pairs
    * AND broadcast them (pairs for dropped docs are the documented
    * recall trade; no-skew corpora are bit-identical to unguarded).
    */
  def ngramJaccardPairs(
      df: DataFrame, textCol: String, idCol: String, shingleK: Int = 3,
      numHashes: Int = 9, rowsPerBand: Int = 3,
      bucketCap: Int = 10000): DataFrame = {
    // Round 15: signatures, set sizes and sorted arrays all derive from
    // the SHARED [[ShingleIndex]] artifact — this query previously
    // built a near-identical shingle pipeline a third time next to
    // [[prefixFilterJoin]]/[[containmentPairs]]. Signatures are the
    // SAME numeric multiply-shift family as [[minhashCandidates]]
    // ([[minhashSig]] over the index's 60-bit u), which is also exactly
    // the formula the DuckDB oracle replays — the earlier md5-string
    // per-seed family matched the oracle's candidates only because the
    // fixture's band collisions were all high-J pairs that collide
    // under any min-hash family.
    val idx = shingleIndex(df, idCol, textCol, shingleK)
    // one kernel pass over the per-doc hash ARRAYS (vocabulary-sized
    // map, no corpus-sized exchange) computes all signatures —
    // bit-identical to a per-seed min aggregate over the exploded rows
    val sigs = graft.functions.MinhashSigs.minhash_sigs(col("us"),
      (0 until numHashes).map(minhashA), (0 until numHashes).map(minhashB))
    // materialize the sig ARRAY in its own projection before fanning
    // out to per-seed columns: a single-select element_at(sigs, ·)×k
    // would rely on Catalyst subexpression elimination to avoid k full
    // kernel walks — the two-step shape makes one evaluation structural
    val stats = idx.arr.select(col("doc"), sigs.as("_sigs"))
      .select(col("doc") +: (0 until numHashes).map(s =>
        element_at(col("_sigs"), s + 1).as(s"sig_$s")): _*)
    val bands = lshBands(stats, "doc", numHashes, rowsPerBand)
    val kept = bucketSkewGuard(bands, Seq("band_idx", "band_hash"), "doc", bucketCap)
      .where(col("_kept"))
    val cand = kept.select(col("band_idx"), col("band_hash"), col("doc").as("doc_a"))
      .join(kept.select(col("band_idx"), col("band_hash"), col("doc").as("doc_b")),
        Seq("band_idx", "band_hash"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // Verify via per-doc SORTED hash arrays + a two-pointer merge count
    // per candidate pair ([[graft.functions.SortedIntersectCount]] —
    // the prefixFilterJoin/containment verify): ONE array per candidate
    // side crosses the exchange and the intersection is primitive
    // compares, replacing the pair×shared-shingle row expansion (a
    // broadcast-candidates join back into the exploded shingle table
    // plus a candidate×overlap-row count aggregate). Equality is on the
    // 60-bit md5-prefix hashes ([[shingleU]]) — the same collision
    // caveat (< 2⁻⁴⁰ per pair) and DedupSpec soft-assert as the
    // set-similarity joins; the string-exact DuckDB oracle stays the
    // gate.
    cand
      .join(idx.arr.select(col("doc").as("doc_a"), col("us").as("us_a"),
        col("sz").as("n_a")), "doc_a")
      .join(idx.arr.select(col("doc").as("doc_b"), col("us").as("us_b"),
        col("sz").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.SortedIntersectCount
          .sorted_intersect_count(col("us_a"), col("us_b")).as("n_common"),
        col("n_a"), col("n_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
  }

  /** Connected components over an undirected edge list: every node gets
    * the MINIMUM id reachable from it — the canonical dedup-clustering
    * step that turns near-dup PAIRS into duplicate groups (keep one doc
    * per cluster). The fixpoint (min over the component) is unique, so
    * the result is deterministic regardless of iteration or partition
    * order.
    *
    * Hybrid strategy: min-label propagation (Pregel-style; one join +
    * partial-aggregating min per round; rounds = graph diameter) runs
    * first — near-dup graphs are shallow, so it usually converges in a
    * handful of cheap rounds. If the graph turns out deep (diameter >
    * `propagationRounds` — adversarial chains, pathological blocking
    * keys), the partially-propagated labels CONTRACT the graph (edges
    * re-keyed to current labels, self-loops dropped) and the remainder
    * finishes with [[starComponents]] — alternating large-star /
    * small-star contraction, whose round count is logarithmic in
    * component size rather than linear in diameter (the MapReduce CC
    * algorithm of Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14). Final labels compose: node → propagation
    * label → star cluster.
    *
    * Scale notes: every step shuffles by node id only — no skew beyond
    * the graph's own degree distribution. `localCheckpoint` materializes
    * each round and cuts the lineage, which would otherwise grow
    * linearly and blow up the planner; the driver-side convergence
    * counts are the standard Pregel control loop, not a data collect.
    */
  def connectedComponents(
      edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25, propagationRounds: Int = 8): DataFrame = {
    // integral ids only: a non-ANSI cast of a string id to long yields
    // NULL per row, silently collapsing the graph into one null
    // "cluster" — fail loud instead (hash/dense-rank string ids first)
    requireIntegralIds(edges, Seq(aCol, bCol), "connectedComponents")
    // both directions, NO distinct: min-propagation is idempotent over
    // duplicate edges (min over a multiset = min over its set), the
    // contraction fallback's starComponents does its own distinct, and
    // the candidate generators already emit distinct a < b pairs — the
    // corpus-sized distinct exchange bought nothing (round 18).
    val sym = edges
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .unionByName(edges.select(col(bCol).cast("long").as("src"),
        col(aCol).cast("long").as("dst")))
      .cache()
    // the [[Graph.pagerank]] CSR discipline applied to the label
    // frontier (round 18): the edge list collapses ONCE into a
    // per-node adjacency keyed by the label-holding endpoint, so each
    // round probes |V| cached adjacency rows and exchanges only the
    // node-sized label/partial-min tables — the flat formulation
    // re-shuffled the full edge list by dst EVERY round. Hub caveat as
    // documented on pagerank: one row holds a node's whole neighbor
    // list; at extreme-degree hubs chunk the rows (several rows per
    // node) — min-propagation is exact over chunks.
    val adj = sym.groupBy(col("dst"))
      .agg(collect_list(col("src")).as("srcs"))
      .persist()
    // round ONE is fused into the init: with labels₀ = node ids, the
    // first propagation round computes exactly least(node,
    // min(neighbors)) — an array_min over the adjacency row, free in
    // the same projection (no exchange, no count job). The loop then
    // starts from the round-1 state; the fixpoint and every
    // intermediate label are identical (min-propagation is monotone),
    // and the contraction invariant — every label is a node of its own
    // component — holds (a neighbor is in the component).
    var labels = adj.select(col("dst").as("node"),
      least(col("dst"), array_min(col("srcs"))).as("label"))
    var prevRound: DataFrame = null
    var converged = false
    var i = 0
    while (!converged && i < math.min(propagationRounds, maxIter)) {
      // SHUFFLE_HASH building the node-sized labels side — the
      // persisted adjacency already satisfies hash(dst); sort-merge
      // would re-sort both sides per round
      val neighborMin = adj
        .join(labels.hint("shuffle_hash"), adj("dst") === labels("node"))
        .select(col("label"), explode(col("srcs")).as("src"))
        .groupBy(col("src")).agg(min(col("label")).as("nmin"))
      // ONE scheduler job per round (round 18): a LAZY localCheckpoint
      // whose materializing action is the convergence count itself —
      // the previous eager-checkpoint + count pair cost two driver
      // round-trips per round, and at bench SF the CC family's wall is
      // scheduler latency, not compute. The checkpoint (not a persist)
      // is load-bearing: labels feed the next round's plan TWICE, so
      // an uncut lineage doubles per round — exponential plan size by
      // propagationRounds (a persist variant OOMed stringifying the
      // plan). Blocks of round t−1 release once round t has
      // materialized (the kcore cascade discipline).
      val updated = labels.as("l")
        .join(neighborMin.hint("shuffle_hash"),
          col("l.node") === neighborMin("src"), "left")
        .select(col("l.node").as("node"),
          least(col("l.label"), coalesce(col("nmin"), col("l.label"))).as("label"),
          (coalesce(col("nmin"), col("l.label")) < col("l.label")).as("_changed"))
        .localCheckpoint(false)
      val changes = updated.where(col("_changed")).count()
      if (prevRound != null)
        org.apache.spark.sql.GraftBridge.releaseLocalCheckpoint(prevRound)
      prevRound = updated
      labels = updated.drop("_changed")
      converged = changes == 0
      i += 1
    }
    val out = if (converged) labels
    else {
      // deep graph: contract by the partial labels and finish in
      // logarithmic rounds. Correct for any label state in which every
      // node's label is SOME node of its own component (true at every
      // propagation round), because contraction preserves inter-label
      // connectivity and the final cluster of a node is the star
      // cluster of its current label.
      val la = labels.select(col("node").as("src"), col("label").as("la"))
      val lb = labels.select(col("node").as("dst"), col("label").as("lb"))
      val contracted = sym.join(la, "src").join(lb, "dst")
        .where(col("la") =!= col("lb"))
        .select(col("la"), col("lb"))
      val stars = starComponents(contracted, maxRounds = maxIter, "la", "lb")
      labels.as("l")
        .join(stars.as("s"), col("l.label") === col("s.node"), "left")
        .select(col("l.node").as("node"),
          coalesce(col("s.cluster"), col("l.label")).as("label"))
    }
    sym.unpersist()
    adj.unpersist()
    out.withColumnRenamed("label", "cluster")
  }

  /** Large-star/small-star connected components (Kiveris et al.,
    * SoCC'14): edges are repeatedly rewired toward per-neighborhood
    * minima — large-star hangs every larger neighbor of `u` under
    * `min(Γ(u) ∪ u)`, small-star re-parents `u` and its smaller
    * neighbors likewise — until the edge set stabilizes as star graphs
    * centered at each component's minimum. Round count is logarithmic
    * in component size (not diameter), so million-node chains converge
    * in ~20 rounds where label propagation needs a million.
    *
    * Returns (node, cluster) for every node in `edges`; cluster is the
    * component minimum. Non-convergence (only possible if `maxRounds`
    * is set far too low) raises with the surviving edge count so the
    * failure is diagnosable, not silent.
    */
  def starComponents(edges: DataFrame, maxRounds: Int,
      aCol: String = "a", bCol: String = "b"): DataFrame = {
    requireIntegralIds(edges, Seq(aCol, bCol), "starComponents")
    val allNodes = edges.select(col(aCol).cast("long").as("node"))
      .unionByName(edges.select(col(bCol).cast("long").as("node")))
      .distinct().localCheckpoint()
    // canonical directed form: u > v. LAZY localCheckpoint: the sig()
    // aggregate below is the materializing action, so each round costs
    // ONE scheduler job instead of checkpoint + aggregate, while the
    // lineage still cuts — each round references its predecessor
    // multiple times, so an uncut chain grows exponentially (round 18
    // — the connectedComponents loop discipline).
    var cur = edges.select(
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("u"),
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint(false)
    // convergence = identical edge set; (count, 2 independently seeded
    // hash XORs) is an order-insensitive set signature, cheaper than
    // except(). bit_xor, not sum: a hash SUM overflows Long under ANSI
    // mode; XOR can't, and edges are distinct so multiset == set.
    def sig(df: DataFrame): (Long, Long, Long) = {
      val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v"))),
        bit_xor(xxhash64(col("v"), col("u"), lit(17)))).first()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    var prev = sig(cur)
    var converged = prev._1 == 0
    var round = 0
    while (!converged && round < maxRounds) {
      // large-star: m(u) = min over u's full neighborhood (and u);
      // every neighbor v > u re-hangs onto m(u)
      val symE = cur.unionByName(cur.select(col("v").as("u"), col("u").as("v")))
      val minsL = symE.groupBy("u")
        .agg(least(min(col("v")), col("u")).as("m"))
      val ls = symE.join(minsL, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
      // small-star: on the now-directed (u > v) edges, re-parent u and
      // all its parents onto the smallest of them
      val minsS = ls.groupBy("u").agg(min(col("v")).as("m"))
      val ss = ls.join(minsS, "u")
        .select(col("v").as("n"), col("m"))
        .unionByName(minsS.select(col("u").as("n"), col("m")))
        .where(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct().localCheckpoint(false)
      val now = sig(ss)
      org.apache.spark.sql.GraftBridge.releaseLocalCheckpoint(cur)
      converged = now == prev
      prev = now
      cur = ss
      round += 1
    }
    require(converged,
      s"starComponents did not stabilize in $maxRounds rounds; ${prev._1} directed edges remain")
    // at the fixpoint `cur` is a star forest: u → component min; roots
    // (the minima) never appear on the left
    allNodes.as("n")
      .join(cur.as("e"), col("n.node") === col("e.u"), "left")
      .select(col("n.node").as("node"),
        coalesce(col("e.v"), col("n.node")).as("cluster"))
  }

  /** Quantize an embedding to integers (round(x·10⁴)): dot products and
    * norms become EXACT integer arithmetic — order-independent and
    * bit-identical in every engine, so similarity thresholds never
    * flicker at the last ulp. 1e-4 quantization error is far below any
    * useful near-dup threshold.
    */
  def quantize(embedding: Column): Column =
    // the float→double widening is explicit: a float-typed multiply
    // rounds x·10⁴ through 24-bit precision and can land exactly on a
    // .5 boundary that the double path avoids (observed at sf0.001:
    // float(-0.04285·10⁴) = -428.5 → -429, double → -428.49999 → -428);
    // both engines must take the double path
    transform(embedding, x => round(x.cast("double") * 10000).cast("long"))

  /** Exact cosine over quantized vectors — dot via the codegen'd
    * [[graft.functions.LongArrayDot]] primitive (the builtin
    * aggregate/zip_with chain interprets per element and dominates
    * O(n²) similarity joins).
    */
  def quantizedCosine(qa: Column, qb: Column, n2a: Column, n2b: Column): Column =
    graft.functions.LongArrayDot.long_dot(qa, qb)
      .cast("double") / sqrt(n2a.cast("double") * n2b.cast("double"))

  def squaredNorm(q: Column): Column =
    graft.functions.LongArrayDot.long_dot(q, q)

  /** Embedding-cosine near-dup pairs above `threshold` — exhaustive
    * O(n²) baseline via an explicit cross join. This is deliberately the
    * EXACTNESS reference, not the scale path: `maxRows` guards against
    * accidentally pointing it at a large table (n² pairs is a cartesian
    * scale-killer — 1e6 rows is already 5e11 comparisons). Raise the cap
    * consciously for a bigger ground-truth run, or use
    * [[embeddingNearDupsLsh]], which buckets candidates and scales.
    */
  def embeddingNearDups(
      df: DataFrame, idCol: String, embCol: String, threshold: Double,
      maxRows: Long = 100000): DataFrame = {
    val n = df.count()
    require(n <= maxRows,
      s"embeddingNearDups is the exhaustive O(n²) baseline and the input has " +
        s"$n rows (cap $maxRows): that cross join is a cartesian scale-killer. " +
        "Use embeddingNearDupsLsh for large tables, or raise maxRows deliberately.")
    embeddingNearDupsUnchecked(df, idCol, embCol, threshold)
  }

  /** [[embeddingNearDups]] WITHOUT the cap-guard count — for callers
    * that already measured/bounded the input ([[embeddingNearDupsSampled]]
    * counts once for its sampling rule; a second count here would be a
    * full extra pass per invocation, round-17 ADVICE).
    */
  private def embeddingNearDupsUnchecked(
      df: DataFrame, idCol: String, embCol: String,
      threshold: Double): DataFrame = {
    val q = df.select(col(idCol), quantize(col(embCol)).as("q"))
      .withColumn("n2", squaredNorm(col("q")))
    val a = q.select(col(idCol).as("vec_a"), col("q").as("qa"), col("n2").as("n2a"))
    val b = q.select(col(idCol).as("vec_b"), col("q").as("qb"), col("n2").as("n2b"))
    a.crossJoin(b)
      .where(col("vec_a") < col("vec_b"))
      .withColumn("cosine", quantizedCosine(col("qa"), col("qb"), col("n2a"), col("n2b")))
      .where(col("cosine") > threshold)
      .select("vec_a", "vec_b", "cosine")
  }

  /** Row-capped deterministic-sample twin of [[embeddingNearDups]] —
    * the anchor path for scales where the exhaustive baseline's cap
    * guard correctly REFUSES to run (its refusal left the sf10 anchor
    * at 238/239 measured): every row draws a 40-bit md5 uniform and
    * survives iff u·n < cap·2⁴⁰ (exact integer cross-multiplication —
    * no float quotient to round differently across engines), giving a
    * ~`capRows` expected sample independent of corpus size; the
    * exhaustive exact pass then runs over the sample only. Below the
    * cap the filter keeps everything, so at oracle SF the query IS
    * [[embeddingNearDups]] — and the oracle SQL replays the filter
    * rule itself, so the sampling stays gate-checked at any SF.
    * O(cap²) work forever; [[embeddingNearDupsLsh]] remains the real
    * scale path — this is the bounded ground-truth probe.
    */
  def embeddingNearDupsSampled(
      df: DataFrame, idCol: String, embCol: String, threshold: Double,
      capRows: Long = 4096): DataFrame = {
    val n = df.count()
    // u40·n must stay exact in int64: 2⁴⁰ · 2²³ = 2⁶³
    require(n < (1L << 23),
      s"embeddingNearDupsSampled's 40-bit draw supports < 2^23 input rows, " +
        s"got $n — widen the draw before raising this")
    val sampled = if (n <= capRows) df else {
      val u40 = conv(substring(md5(concat(lit("esamp:"),
        col(idCol).cast("string"))), 1, 10), 16, 10).cast("long")
      df.where(u40 * lit(n) < lit(capRows * (1L << 40)))
    }
    // the one count above already guards the bound: below the cap the
    // sample IS df (≤ capRows rows); above it the md5 draw's binomial
    // tail (E = capRows, sd ≈ √capRows) puts a 2× blowout at e^-Ω(cap)
    // — not a live class at cap ≥ 64. Re-counting through the public
    // guard cost a second full corpus pass per invocation.
    embeddingNearDupsUnchecked(sampled, idCol, embCol, threshold)
  }

  /** The scale path for embedding near-dup: candidates restricted to
    * pairs sharing a random-hyperplane LSH bucket (high-cosine vectors
    * land together with high probability), then exact quantized cosine.
    * Replaces the O(n²) cross join with one bucket-keyed self-join —
    * candidate volume ~ n²/2^bits for uniform data. Recall < 1 by
    * construction; tune `bits` down (or OR multiple hash tables) for
    * recall, up for speed.
    */
  def embeddingNearDupsLsh(
      df: DataFrame, idCol: String, embCol: String, threshold: Double,
      bits: Int = 8, dims: Int = 64, bucketCap: Int = 10000): DataFrame = {
    val q = df.select(col(idCol), quantize(col(embCol)).as("q"))
      .withColumn("n2", squaredNorm(col("q")))
      .withColumn("bucket", Similarity.lshBucket(col("q"), bits, dims))
    // Identical embeddings all land in one bucket — the adversarial
    // O(B²) single-key case; [[bucketSkewGuard]] caps the self-join at
    // O(cap²) + O(B) anchor comparisons per bucket.
    val guarded = bucketSkewGuard(q, Seq("bucket"), idCol, bucketCap)
    val kept = guarded.where(col("_kept"))
    val a = kept.select(col("bucket"), col(idCol).as("vec_a"), col("q").as("qa"), col("n2").as("n2a"))
    val b = kept.select(col("bucket"), col(idCol).as("vec_b"), col("q").as("qb"), col("n2").as("n2b"))
    val keptPairs = a.join(b, "bucket")
      .where(col("vec_a") < col("vec_b"))
    // dropped rows are compared against their bucket's anchor only —
    // the 1-row anchor side fans out across the bucket, no O(B²)
    val anchors = kept.where(col(idCol) === col("_anchor"))
      .select(col("bucket"), col(idCol).as("vec_a"), col("q").as("qa"), col("n2").as("n2a"))
    val starPairs = guarded.where(!col("_kept"))
      .select(col("bucket"), col(idCol).as("vec_b"), col("q").as("qb"), col("n2").as("n2b"))
      .join(anchors, "bucket")
    val cols = Seq("bucket", "vec_a", "qa", "n2a", "vec_b", "qb", "n2b")
    keptPairs.select(cols.map(col): _*)
      .union(starPairs.select(cols.map(col): _*))
      .withColumn("cosine", quantizedCosine(col("qa"), col("qb"), col("n2a"), col("n2b")))
      .where(col("cosine") > threshold)
      // star edges may carry anchor > dropped id; normalize (cosine is
      // symmetric, so only the id order needs fixing)
      .select(least(col("vec_a"), col("vec_b")).as("vec_a"),
        greatest(col("vec_a"), col("vec_b")).as("vec_b"),
        col("cosine"), col("bucket"))
  }

  /** Shared SHINGLE INDEX for the set-similarity family. The three
    * exact set-similarity operators ([[prefixFilterJoin]],
    * [[containmentPairs]], [[ngramJaccardPairs]]) all consume the same
    * two derived tables over a (corpus, k):
    *
    *   - `ranked` (u, doc, sz, rn): every distinct (doc, shingle-hash)
    *     row with the doc's set size and the shingle's rank under ONE
    *     global rarity order (document-frequency asc, hash asc) — the
    *     prefix-filter theorems only need the order to be fixed and
    *     global, and rarity keeps prefix buckets small;
    *   - `arr` (doc, us, sz): each doc's SORTED 60-bit hash array for
    *     the two-pointer verify.
    *
    * Round 15: built ONCE per (session, corpus plan, k) and written as
    * a physical parquet artifact the operators read back — at 100 TB
    * the ranked-shingle table is an index you build once, not a
    * pipeline you re-run per query (the measured sf10 cost of
    * rebuilding it per query was ~75 % of the family's combined 55.8 s).
    * A physical artifact rather than a persist(): the bench harness
    * (and any well-behaved multi-query driver) unpersists blocks
    * between queries, and the parquet round-trip additionally gives
    * later queries a column-pruned scan of exactly the columns they
    * need. A [[graft.Artifacts]] layout per (corpus plan, idCol,
    * textCol, k).
    */
  final case class ShingleIndex(ranked: DataFrame, arr: DataFrame)

  /** Bucket-count FLOOR of the ranked artifact; the actual count comes
    * from the [[Buckets]] dial over the corpus plan at build time
    * (round 17 — "raise at scale" is now executable, not prose). Never
    * the session's shuffle parallelism: every session reading the same
    * index must see the same physical layout.
    */
  private val ShIdxFloor = 32

  def shingleIndex(df: DataFrame, idCol: String, textCol: String,
      k: Int): ShingleIndex = {
    val spark = df.sparkSession
    val idx = graft.Artifacts.table(spark, "shingle_index", df, idCol,
        textCol, k) { layout =>
      import org.apache.spark.sql.expressions.Window
      val dir = layout.dir
      // WordShingles emits DISTINCT shingles, so (doc, u) is unique (up
      // to the 2⁻⁴⁰ md5-prefix collision caveat the verify inherits);
      // one md5 per shingle, longs everywhere downstream. The exploded
      // table persists only within the build: both artifacts derive
      // from it, then it drops.
      val sh = df
        .select(col(idCol).as("doc"), explode(shingles(col(textCol), k)).as("sh"))
        .select(col("doc"), shingleU(col("sh")).as("u"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // try/finally: a failed artifact write (disk full, task failure)
      // must not leak the corpus-sized persisted table for the session
      // — the kcore hardening discipline
      try {
      sh.groupBy(col("doc"))
        .agg(sort_array(collect_list(col("u"))).as("us"),
          count(lit(1)).as("sz"))
        .write.mode("overwrite").parquet(s"$dir/arr")
      val dfreq = sh.groupBy("u").agg(count(lit(1)).as("tdf"))
      // dial on the corpus plan (union/project stats are additive —
      // only join/explode plans mis-estimate; a doc corpus is neither)
      val shIdxBuckets = Buckets.artifact(df, floor = ShIdxFloor)
      val byRarity = Window.partitionBy("doc").orderBy("tdf", "u")
      // sz rides the SAME doc partitioning as the rank window (an
      // unbounded count over the sorted partition) — the earlier
      // sizes-table join paid one more corpus-sized exchange for the
      // same number.
      val wDoc = Window.partitionBy("doc")
      // The ranked artifact is BUCKETED AND SORTED BY u: both sides of
      // every candidate join downstream are scans of this one table
      // (prefix rows are a plain rn filter of it), so the join runs
      // bucket-to-bucket with NO exchange — the corpus-sized shuffle
      // the candidate join used to pay per query moves into the
      // one-time index build (the repartition below uses the same
      // murmur3 pmod the bucket spec does, so each write task emits
      // exactly one bucket file). This is the IVF "probe reads only
      // its buckets" discipline applied to set-similarity. The
      // candidate joins additionally hint SHUFFLE_HASH: the bucketed
      // distribution already satisfies the join's requirement on both
      // sides, and the sort-merge alternative buffered every
      // duplicate-u group through ExternalAppendOnlyUnsafeRowArray —
      // measured 4× the warm cost of the per-bucket hash build
      // (sf10 warm containment 19 → 4.8 s, ssjoin 7.2 → ~5 s).
      // SHUFFLE_HASH on the df attach: both sides exchange by u either
      // way; hash-building the (u, tdf) side skips sorting the full
      // corpus-sized shingle run that sort-merge would pay
      sh.join(dfreq.hint("shuffle_hash"), "u")
        .withColumn("rn", row_number().over(byRarity))
        .withColumn("sz", count(lit(1)).over(wDoc))
        .select(col("u"), col("doc"), col("sz"), col("rn"))
        .repartition(shIdxBuckets, col("u"))
        .write.mode("overwrite").format("parquet")
        .option("path", s"$dir/ranked")
        .bucketBy(shIdxBuckets, "u").sortBy("u")
        .saveAsTable(layout.name("shidx"))
      } finally sh.unpersist()
    }
    ShingleIndex(
      spark.table(idx.name("shidx")), spark.read.parquet(s"${idx.dir}/arr"))
  }

  /** EXACT Jaccard-threshold self-join via prefix filtering — the
    * AllPairs/PPJoin family (Bayardo et al. WWW'07, Xiao et al.
    * ICDE'08), the non-probabilistic sibling of [[minhashCandidates]]:
    * where banded LSH trades recall for candidate count, prefix
    * filtering is LOSSLESS — every pair with shingle-Jaccard ≥
    * tauNum/tauDen is returned, none missed.
    *
    * The pruning theorem: order every document's shingles by one
    * GLOBAL rarity order (ascending document frequency, ties by
    * token); a document of set size s keeps only its first
    * `s − ⌈τ·s⌉ + 1` tokens as its prefix. Two documents with
    * J ≥ τ MUST share a prefix token, so the candidate join runs
    * only over prefixes — dominated by RARE tokens, whose buckets
    * are small by construction. A length filter (τ·|A| ≤ |B| ≤
    * |A|/τ) prunes further before the exact intersection count
    * confirms with pure integer arithmetic:
    * J ≥ n/d ⇔ (n+d)·inter ≥ n·(szA+szB).
    *
    * Scale posture: the df table and per-doc prefix windows are one
    * keyed exchange each; the candidate join shuffles only prefix
    * rows (≈ (1−τ)·corpus shingle mass); verification attaches each
    * doc's SORTED 60-bit shingle-hash array to the candidate pair
    * (two hash joins, one array per candidate crossing the wire) and
    * counts the intersection per row — the round-12 rewrite of a
    * formulation that expanded every candidate into |doc| shingle
    * rows and pushed them through two shuffles + a 10⁹-row aggregate
    * (measured superlinear: 3.6 s sf0.1 → 17–34 s sf1 → killed at
    * 15+ min sf10; now 3.6 s → 7.9 s warm → 66 s — 29 s once the
    * fixture row-group fix restored scan fan-out — linear in the
    * 312 k → 3.1 M candidate count). Equality is on
    * md5-prefix hashes: a 60-bit collision could merge two shingles
    * (per-pair probability < 2⁻⁴⁰; the string-exact DuckDB brute
    * force stays the oracle and has never diverged). Residual skew
    * exposure: a document made ENTIRELY of corpus-common shingles
    * still puts a common token in its prefix — bucket-cap with
    * [[bucketSkewGuard]] if a real corpus shows it.
    */
  def prefixFilterJoin(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, tauNum: Int = 3, tauDen: Int = 5): DataFrame = {
    require(tauNum >= 1 && tauNum < tauDen,
      s"threshold must satisfy 0 < tauNum/tauDen < 1, got $tauNum/$tauDen")
    // Round 15: the tokenize → shingle → df → rarity-rank pipeline and
    // the per-doc sorted arrays come from the SHARED [[ShingleIndex]]
    // (built once per session/corpus/k, read as parquet) — the ranked
    // table is τ-independent (it stores EVERY rank; the prefix is a
    // plain rn filter below), so one index serves every threshold.
    val idx = shingleIndex(df, idCol, textCol, k)
    // Round 13: PPJoin's positional filter rides along — each prefix
    // row keeps its rarity rank, and a match at ranks (rnA, rnB) bounds
    // the overlap by 1 + min(szA − rnA, szB − rnB) (all shared tokens
    // sit at-or-after the pair's first common token in both orders).
    // A qualifying pair needs overlap ≥ ⌈τ/(1+τ)·(szA+szB)⌉ =
    // ⌈n·(szA+szB)/(n+d)⌉, and its first common token row passes the
    // bound — lossless — while late-rank matches on common tokens die
    // before the distinct.
    // Round 14: c-PREFIX witness filter, the two-sided twin of the
    // containment one. J ≥ τ forces |A∩B| ≥ ⌈τ·szX⌉ =: t_X for BOTH
    // sides (I ≥ τ(szA+szB)/(1+τ) plus the length filter), and the
    // c-th smallest shared token (global rarity order) must sit within
    // EACH side's first szX − t_X + c ranks — else S's ranks ≥ c, of
    // which there are ≥ t_X − c + 1, would all fit in the last t_X − c
    // positions. So extend both prefixes by c−1 rows and demand
    // min(c, t_A, t_B) match witnesses per pair: lossless, and the
    // single-shared-rare-shingle junk pairs die before the array
    // attach. The PPJoin positional bound rides along, evaluated only
    // on joint c=1-prefix rows where its first-common-shingle argument
    // holds.
    val cWit = 3
    val prefix = idx.ranked
      .where(expr(s"rn <= sz - (($tauNum * sz + ${tauDen - 1}) DIV $tauDen) + $cWit"))
      .select(col("u"), col("doc"), col("sz"), col("rn"))
    val tOfA = expr(s"($tauNum * sz_a + ${tauDen - 1}) DIV $tauDen")
    val tOfB = expr(s"($tauNum * sz_b + ${tauDen - 1}) DIV $tauDen")
    val cand = prefix.select(col("u"), col("doc").as("doc_a"),
        col("sz").as("sz_a"), col("rn").as("rn_a"))
      .hint("shuffle_hash")
      .join(prefix.select(col("u"), col("doc").as("doc_b"),
        col("sz").as("sz_b"), col("rn").as("rn_b")), "u")
      .where(col("doc_a") < col("doc_b") &&
        lit(tauDen) * col("sz_b") >= lit(tauNum) * col("sz_a") &&
        lit(tauDen) * col("sz_a") >= lit(tauNum) * col("sz_b") &&
        // c-RELAXED positional prune, pre-shuffle: the i-th smallest
        // shared token (i ≤ c) of a qualifying pair has at most i−1
        // shared tokens before it, so c + min(szX−rnX) ≥ t must hold
        // at every witness row — rows failing it can't be witnesses
        // (nor the first common token: the strict bound implies this
        // one) and die before the exchange.
        lit(tauNum + tauDen) * (lit(cWit.toLong) +
          least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b"))) >=
          lit(tauNum) * (col("sz_a") + col("sz_b")))
      .groupBy(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("_nw"),
        max(when(col("rn_a") <= col("sz_a") - tOfA + lit(1) &&
            col("rn_b") <= col("sz_b") - tOfB + lit(1),
          lit(1L) + least(col("sz_a") - col("rn_a"),
            col("sz_b") - col("rn_b"))).otherwise(lit(0L))).as("_pb"))
      .where(col("_nw") >= least(lit(cWit.toLong), least(tOfA, tOfB)) &&
        lit(tauNum + tauDen) * col("_pb") >=
          lit(tauNum) * (col("sz_a") + col("sz_b")))
      .select("doc_a", "doc_b")
    // per-doc sorted hash arrays (the index's `arr` artifact): ONE
    // array per candidate side crosses the exchange; the intersection
    // count is a per-row two-pointer merge
    // ([[graft.functions.SortedIntersectCount]] — no per-pair hash
    // set, no boxing) — no pair×shingle row expansion, no
    // billion-row agg
    cand
      .join(idx.arr.select(col("doc").as("doc_a"), col("us").as("us_a"),
        col("sz").as("size_a")), "doc_a")
      .join(idx.arr.select(col("doc").as("doc_b"), col("us").as("us_b"),
        col("sz").as("size_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.SortedIntersectCount
          .sorted_intersect_count(col("us_a"), col("us_b")).as("inter"),
        col("size_a"), col("size_b"))
      .where(lit(tauNum + tauDen) * col("inter") >=
        lit(tauNum) * (col("size_a") + col("size_b")))
  }

  /** Exact duplicated-SPAN detection (the "exact substring dedup" of
    * Lee et al. 2021, Deduplicating Training Data Makes Language
    * Models Better, re-expressed relationally): find, per document,
    * the maximal token spans whose every k-gram occurs ≥ 2 times in
    * the corpus — including repeats WITHIN one document, which is how
    * boilerplate self-repetition gets caught too. Where the paper
    * builds a suffix array over the concatenated corpus, the
    * distributed formulation is:
    *   1. positional k-gram rows (doc, pos, md5(gram)) — a map-side
    *      explode, no suffix structure;
    *   2. one hash aggregate over gram hashes keeps those with total
    *      count ≥ 2 (at 100 TB both sides of the following join
    *      partition by the hash — no skewed key can concentrate,
    *      because equal grams ARE the signal being counted);
    *   3. per doc, duplicated positions merge gaps-and-islands style
    *      under ONE (doc, pos) window: successive positions ≤ k apart
    *      overlap or touch, so a break opens only past k — max−min+k
    *      is then the exact merged span length in tokens.
    * Output per document: n_tokens, n_spans, dup_tokens (Σ merged
    * span lengths), dup_ratio — the signal a curation pipeline
    * thresholds on (e.g. drop docs with dup_ratio > 0.5, or excise
    * the spans themselves).
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, minCount: Long = 2L): DataFrame = {
    require(k >= 2, s"span gram size must be >= 2, got $k")
    import org.apache.spark.sql.expressions.Window
    // non-distinct positional grams: 1-based pos, docs < k words emit
    // none — the PositionalGrams codegen kernel (md5 digested in place
    // per byte span; the interpreted transform(sequence(...)) twin it
    // replaces is pinned bit-equal in NormalizeSpec)
    val grams = graft.functions.PositionalGrams
      .positional_grams(col(textCol), k, hashed = true)
    val shr = df.select(col(idCol).as("_doc"), posexplode(grams))
      .select(col("_doc"), (col("pos") + 1).as("_pos"), col("col").as("_h"))
    val dup = shr.groupBy("_h").agg(count(lit(1)).as("_c"))
      .where(col("_c") >= minCount).select("_h")
    val w = Window.partitionBy("_doc").orderBy("_pos")
    val spans = shr.join(dup, "_h")
      .withColumn("_brk",
        when(col("_pos") - lag(col("_pos"), 1).over(w) <= k, lit(0))
          .otherwise(lit(1)))
      .withColumn("_island", sum(col("_brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("_doc"), col("_island"))
      .agg((max(col("_pos")) - min(col("_pos")) + k).as("_span_len"))
      .groupBy(col("_doc"))
      .agg(count(lit(1)).as("_n_spans"), sum(col("_span_len")).as("_dup_tokens"))
    df.select(col(idCol), size(split(col(textCol), " ")).as("n_tokens"))
      .join(spans, col(idCol) === col("_doc"), "left")
      .select(col(idCol),
        col("n_tokens").cast("long").as("n_tokens"),
        coalesce(col("_n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("_dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("_dup_tokens"), lit(0L)).cast("double")
          / col("n_tokens"), 6).as("dup_ratio"))
  }

  /** SemDeDup-style cluster-scoped embedding dedup (Abbas et al. 2023):
    * k-means buckets the corpus, then near-identical embeddings are
    * resolved WITHIN each cluster only — the pairwise work drops from
    * O(n²) to O(Σ|cluster|²), and the cluster count is the scale dial
    * (k ≈ √n keeps per-cluster work flat as the corpus grows).
    *
    * Deterministic keep rule: a vector is dropped iff some LOWER-id
    * vector in the same cluster has cosine > `tau` with it — the same
    * greedy "first seen wins" order both engines can replay exactly.
    * Cosine runs on quantized integer vectors ([[quantize]]), so the
    * threshold never flickers at the last ulp.
    *
    * Plan shape: one broadcast-centroid assignment pass
    * ([[Clustering.assign]]), the assigned table persisted (it feeds
    * both sides of the pair join and the final re-attach), a
    * cluster-keyed shuffle hash self-join for the pairs, and a
    * map-side-partial max per higher id.
    *
    * Output: (cluster, id, max_cos_lo — highest cosine to any lower-id
    * cluster-mate (null if none), kept — 0/1).
    */
  def semanticDedup(df: DataFrame, idCol: String, embCol: String,
      k: Int, tau: Double, salt: String = "kmeans"): DataFrame = {
    val cents = Clustering.seedCentroids(df, idCol, embCol, k, salt)
    val m = Clustering.assign(df, idCol, embCol, cents)
      .withColumn("_n2", squaredNorm(col("q")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lo = m.select(col(idCol).as("_lo_id"), col("cluster").as("_lo_c"),
      col("q").as("_lo_q"), col("_n2").as("_lo_n2"))
    val hi = m.select(col(idCol).as("_hi_id"), col("cluster").as("_hi_c"),
      col("q").as("_hi_q"), col("_n2").as("_hi_n2"))
    val maxLo = lo.join(hi,
      col("_lo_c") === col("_hi_c") && col("_lo_id") < col("_hi_id"))
      .groupBy(col("_hi_id"))
      .agg(max(quantizedCosine(col("_lo_q"), col("_hi_q"),
        col("_lo_n2"), col("_hi_n2"))).as("max_cos_lo"))
    m.join(maxLo, col(idCol) === col("_hi_id"), "left")
      .select(col("cluster").cast("long").as("cluster"), col(idCol),
        col("max_cos_lo"),
        when(col("max_cos_lo") > tau, 0L).otherwise(1L).as("kept"))
  }

  /** Asymmetric shingle-containment near-dup pairs: (a, b) with
    * |shingles(a) ∩ shingles(b)| / |shingles(a)| ≥ `tau` — the measure
    * that catches a document CONTAINED in a larger one (quotes,
    * partial mirrors, truncated re-crawls), which symmetric Jaccard
    * misses because the size imbalance dilutes the union.
    *
    * Relational shape (round 12 — the full inverted-index self-join
    * whose candidate mass is Σ_t df(t)² is gone; it held 122 s at
    * sf10): a containment-prefix filter on the CONTAINED side. Under
    * any one fixed global shingle order, if |A∩B| ≥ ⌈τ·|A|⌉ then A
    * misses at most |A|−⌈τ·|A|⌉ of its shingles from B, so among A's
    * first |A|−⌈τ·|A|⌉+1 shingles at least one is in B — candidates
    * come from prefix(a) ⋈ FULL index(b), lossless. Ordering by
    * (global df asc, hash asc) makes prefixes the RARE shingles:
    * bucket mass is Σ_t prefixCount(t)·df(t), where common t have
    * tiny prefixCount and rare t tiny df. A length filter
    * (τ·|A| ≤ |B|, since |A∩B| ≤ |B|) prunes before verification,
    * which attaches each side's sorted 60-bit shingle-hash array
    * (one md5 per shingle) and counts `array_intersect` per pair —
    * no pair×shingle row expansion (same device, same 2⁻⁴⁰
    * hash-collision caveat, and same string-exact DuckDB oracle as
    * [[prefixFilterJoin]]). Measured sf10: 122 → see BASELINE.md.
    * Residual skew: a document made entirely of corpus-common
    * shingles still puts a common token in its prefix —
    * [[bucketSkewGuard]] if a real corpus shows it.
    *
    * `tau` = tauNum/tauDen keeps the prefix length and length filter
    * in exact integer arithmetic (the repo's no-float-thresholds
    * rule); the output `containment` ratio and its filter stay the
    * double division the oracle uses (equivalent below 10¹⁶ sizes).
    *
    * Output: (doc_a — contained, doc_b — container, n_shared, size_a,
    * containment), both orientations when mutual.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int, tauNum: Int, tauDen: Int): DataFrame = {
    require(tauNum >= 1 && tauNum < tauDen,
      s"threshold must satisfy 0 < tauNum/tauDen < 1, got $tauNum/$tauDen")
    val tau = tauNum.toDouble / tauDen
    // Round 15: ranked table + sorted arrays come from the SHARED
    // [[ShingleIndex]] artifact (one build per session/corpus/k across
    // the whole set-similarity family). (A round-12 variant fused the
    // rank window and the array aggregate into one struct-array
    // groupBy — it benched 120 vs 89 s at sf10: the persisted struct
    // arrays spill and the per-side re-sorts cost more than the window
    // they removed. Kept the simpler shape.)
    //
    // Round 13 adds PPJoin's positional filter (Xiao et al. ICDE'08):
    // the full ranked table — every shingle with its rarity rank —
    // feeds BOTH candidate-join sides, so each match knows how much of
    // either document remains past it. Take the pair's FIRST common
    // shingle in the global order, at ranks (rnA, rnB): every shared
    // shingle sits at or after it in both orders, so
    // |A∩B| ≤ 1 + min(szA − rnA, szB − rnB). A qualifying pair
    // (|A∩B| ≥ ⌈τ·szA⌉) therefore has SOME surviving match row —
    // lossless — while matches on late-rank occurrences (the bulk of
    // a common token's df) die before the distinct and the array
    // attach. The length filter (τ·szA ≤ szB, since |A∩B| ≤ szB)
    // moves up here too — round 12 applied it only at verify, after
    // both array joins had already paid for the doomed pairs.
    val idx = shingleIndex(df, idCol, textCol, shingleK)
    val ranked = idx.ranked.select(col("u").as("_u"),
      col("doc").as("_doc"), col("sz").as("_sz"), col("rn").as("_rn"))
    val arr = idx.arr.select(col("doc").as("_doc"), col("us").as("_us"),
      col("sz").as("_sz"))
    // Round 14: c-PREFIX filter (the multi-witness generalization of
    // the prefix theorem — the published "suffix-filter family" lever
    // left on the table in round 13). If |A∩B| ≥ t := ⌈τ·szA⌉ then A
    // misses at most szA − t shingles from B, so among A's first
    // min(szA, szA − t + c) rarity-ranked shingles at least min(c, t)
    // are in B. Extending the prefix by c−1 rows and demanding
    // min(c, t) match WITNESSES per pair (a groupBy count in place of
    // the old distinct — same shuffle mass) is lossless, and kills
    // the single-shared-rare-shingle junk pairs that dominated the
    // verify: measured at sf10, c=1 passed 17.5 M candidate pairs to
    // the array attach, c=3 passes 0.70 M against 0.25 M true pairs.
    // The PPJoin positional bound rides along as before, evaluated on
    // the ORIGINAL (c=1) prefix rows where its first-common-shingle
    // argument holds.
    val cWit = 3
    val prefix = ranked
      .where(expr(
        s"_rn <= _sz - (($tauNum * _sz + ${tauDen - 1}) DIV $tauDen) + $cWit"))
      .select(col("_u"), col("_doc").as("doc_a"), col("_sz").as("_sz_a"),
        col("_rn").as("_rn_a"))
    // ⌈τ·szA⌉ and the c=1 prefix length, both exact-integer
    val tOfA = expr(s"($tauNum * _sz_a + ${tauDen - 1}) DIV $tauDen")
    val baseLen = col("_sz_a") - tOfA + lit(1)
    val cand = prefix.hint("shuffle_hash")
      .join(ranked.select(col("_u"), col("_doc").as("doc_b"),
        col("_sz").as("_sz_b"), col("_rn").as("_rn_b")), "_u")
      .where(col("doc_a") =!= col("doc_b") &&
        lit(tauDen) * col("_sz_b") >= lit(tauNum) * col("_sz_a") &&
        // c-RELAXED positional prune, pre-shuffle (round 14): the i-th
        // smallest shared token (i ≤ c) has at most i−1 shared tokens
        // before it, so c + min(szA−rnA, szB−rnB) ≥ t = ⌈τ·szA⌉ holds
        // at every witness row; rows failing it can't be witnesses and
        // die before the groupBy exchange.
        lit(tauDen) * (lit(cWit.toLong) +
          least(col("_sz_a") - col("_rn_a"), col("_sz_b") - col("_rn_b"))) >=
          lit(tauNum) * col("_sz_a"))
      .groupBy(col("doc_a"), col("doc_b"), col("_sz_a"))
      .agg(count(lit(1)).as("_nw"),
        max(when(col("_rn_a") <= baseLen,
          lit(1L) + least(col("_sz_a") - col("_rn_a"),
            col("_sz_b") - col("_rn_b"))).otherwise(lit(0L))).as("_pb"))
      .where(col("_nw") >= least(lit(cWit.toLong), tOfA) &&
        lit(tauDen) * col("_pb") >= lit(tauNum) * col("_sz_a"))
      .select("doc_a", "doc_b")
    // verify: two-pointer merge count over the sorted hash arrays
    // ([[graft.functions.SortedIntersectCount]]) — size(array_intersect)
    // boxes every long through a per-row OpenHashSet and was the top
    // CPU stage of the whole suite's sf10 profile
    cand
      .join(arr.select(col("_doc").as("doc_a"), col("_us").as("_us_a"),
        col("_sz").as("size_a")), "doc_a")
      .join(arr.select(col("_doc").as("doc_b"), col("_us").as("_us_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.SortedIntersectCount
          .sorted_intersect_count(col("_us_a"), col("_us_b"))
          .as("n_shared"),
        col("size_a"))
      .filter(col("n_shared").cast("double") / col("size_a") >= tau)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("size_a"),
        (col("n_shared").cast("double") / col("size_a")).as("containment"))
  }
}
