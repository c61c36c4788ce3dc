package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) vocabulary training — the
  * tokenizer-construction step of a training-data pipeline, run as an
  * iterative sequence of declarative plans.
  *
  * Classic BPE over a word histogram: every word starts as
  * space-separated characters (`" k e y "`); each round counts
  * adjacent symbol pairs corpus-wide (weighted by word frequency),
  * picks the most frequent pair, and merges every non-overlapping
  * left-to-right occurrence. Merge application is a plain literal
  * `replace` of `" p1 p2 "` with `" p1p2 "`, which gives the identical
  * scan semantics in Spark and DuckDB — including one deliberate
  * variant vs textbook BPE: the replaced occurrence consumes its
  * TRAILING separator, so the symbol immediately after a merge cannot
  * begin another merge in the same round (`b b b b b` becomes
  * `bb b bb`, not `bb bb b`; the skipped merge is simply picked up by
  * a later round). PropertySpec pins this rule against a sequential
  * reference model, and the unrolled-CTE oracle hash-verifies the
  * learned merge table. Argmax ties break by (freq DESC, p1, p2):
  * fully deterministic, any partitioning.
  *
  * Scale posture: the state is the word HISTOGRAM (vocabulary-sized,
  * millions of rows at 100 TB — not corpus-sized; the one corpus-sized
  * pass is the initial word count). Each round is one explode +
  * hash-aggregate shuffle over the histogram plus a TakeOrdered(1);
  * the winning pair rejoins as a broadcast single row (never a
  * driver-side collect-loop). `localCheckpoint` after every round
  * keeps the plan linear in rounds instead of exponential (each
  * round's input appears in both the argmax and the rewrite).
  */
object Bpe {

  /** Corpus word histogram: one corpus pass, vocabulary-sized output. */
  def wordHistogram(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** `" k e y "` — per-character split with wrapping spaces, as the
    * [[graft.functions.CharSpaced]] codegen byte walk (codepoint
    * boundaries == the oracle's substr comprehension unit; Spark's
    * split-on-empty-regex keeps a trailing empty token, so it is NOT
    * used). The interpreted HOF twin lives on as
    * [[graft.functions.CharSpaced.charSpacedTwin]] for the spec pins.
    */
  private def charSpaced(colName: String): Column =
    graft.functions.CharSpaced.char_spaced(col(colName))

  /** Train `rounds` merges. Returns (merges, vocab):
    * merges = (round, p1, p2, freq) one row per learned merge;
    * vocab  = (word, cnt, toks) the final symbol sequence per word.
    */
  def train(docs: DataFrame, textCol: String, rounds: Int): (DataFrame, DataFrame) = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    var cur = wordHistogram(docs, textCol)
      .withColumn("toks", charSpaced("word"))
      .localCheckpoint()
    val merges = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      // adjacent symbol pairs = word-2-grams of the single-space toks
      // string: the codegen byte-walk kernel replaces the interpreted
      // transform(sequence(...), i -> struct(arr[i], arr[i+1])) chain
      // (the round-14 PositionalGrams discipline). Symbols never
      // contain a space, so each gram "p1 p2" splits back losslessly —
      // the (p1, p2) grouping and tie-break are bit-identical. Words
      // with <2 symbols emit an empty gram array and drop at explode.
      val pairs = cur
        .select(col("cnt"), explode(graft.functions.PositionalGrams
          .positional_grams(trim(col("toks")), 2, hashed = false)).as("_g"))
        .groupBy(
          substring_index(col("_g"), " ", 1).as("p1"),
          substring_index(col("_g"), " ", -1).as("p2"))
        .agg(sum("cnt").as("freq"))
      val best = pairs
        .orderBy(col("freq").desc, col("p1"), col("p2")).limit(1)
        .select(lit(r).as("round"), col("p1"), col("p2"), col("freq"))
        .localCheckpoint()
      merges += best
      // LEFT join on TRUE, not crossJoin: when a round learns no merge
      // (the corpus is fully merged before `rounds` runs out) `best` is
      // EMPTY, and a crossJoin would silently erase the vocabulary —
      // the left join keeps every word with a null pair, and the CASE
      // passes toks through unchanged. The oracle mirrors this shape.
      cur = cur
        .join(broadcast(best.select(col("p1").as("_bp1"), col("p2").as("_bp2"))),
          lit(true), "left")
        .withColumn("toks", expr(
          """CASE WHEN _bp1 IS NULL THEN toks
            |ELSE replace(toks, concat(' ', _bp1, ' ', _bp2, ' '),
            |  concat(' ', _bp1, _bp2, ' ')) END""".stripMargin))
        .drop("_bp1", "_bp2")
        .localCheckpoint()
    }
    (merges.result().reduce(_ unionByName _), cur)
  }

  /** Trained state, memoized per (session, corpus plan, textCol,
    * rounds) — the tokenizer is INDEX STATE, like the PQ codebook and
    * the shingle index: you train once per corpus, then every
    * tokenize/count call is a map pass. The merge table is ≤ `rounds`
    * rows and the word→token-count table is vocabulary-sized —
    * driver-small by the same argument as the DSIR model (cap-guarded
    * loudly; at 100 TB a natural-language vocabulary is millions of
    * words, far under the cap, while corpus SIZE is irrelevant here).
    * A [[graft.Artifacts]] state value.
    */
  private def trainedState(docs: DataFrame, textCol: String, rounds: Int)
      : (Array[org.apache.spark.sql.Row],
         org.apache.spark.sql.types.StructType, Map[String, Long]) =
    graft.Artifacts.state(docs.sparkSession, "bpe_merges", docs, textCol,
        rounds) {
      val (m, vocab) = train(docs, textCol, rounds)
      val mergeRows = m.collect()
      // cap BEFORE the collect: checking after would let a pathological
      // corpus OOM the driver before the intended loud failure fires
      // (vocab is checkpointed, so the count is a cached-scan job)
      val nWords = vocab.count()
      require(nWords <= 4L * 1000 * 1000,
        s"BPE vocabulary has $nWords words — past the 4M driver-state " +
          "cap; sample the training corpus (the codebook discipline) " +
          "before training")
      val vocabRows = vocab.select(col("word"),
        size(split(trim(col("toks")), " ")).cast("long").as("ntok"))
        .collect()
      (mergeRows, m.schema,
        vocabRows.map(r => r.getString(0) -> r.getLong(1)).toMap)
    }

  /** The learned merge table. Trains (and memoizes) on first call per
    * (session, corpus, rounds); the returned plan is a local relation
    * of ≤ `rounds` rows — no train stages re-run per consumer.
    */
  def trainMerges(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val (rows, schema, _) = trainedState(docs, textCol, rounds)
    docs.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** Per-document token counts under the trained vocabulary — a
    * MAP-ONLY pass: the [[graft.functions.BpeWordTokens]] kernel walks
    * each doc once with the memoized word→token-count table as a
    * reference object. The pre-round-15 shape re-trained per
    * invocation and paid a corpus explode + broadcast join; the
    * explode/join semantics (empty words skipped, unknown words count
    * toward neither column, zero-known-word docs absent) are preserved
    * exactly — the DuckDB oracle's inner-join formulation is unchanged.
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame = {
    val (_, _, vocabTok) = trainedState(docs, textCol, rounds)
    docs
      .select(col(idCol), graft.functions.BpeWordTokens
        .bpe_word_tokens(col(textCol), vocabTok).as("_wt"))
      .select(col(idCol), col("_wt.n_words").as("n_words"),
        col("_wt.n_tokens").as("n_tokens"))
      .where(col("n_words") > 0L)
  }
}
