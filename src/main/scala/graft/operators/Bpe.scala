package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BPE (byte-pair-encoding) vocabulary training — the
  * tokenizer-construction step of a training-data pipeline: one Spark
  * action collects the corpus word histogram, and the merge rounds run
  * on the driver over it.
  *
  * Classic BPE over a word histogram: every word starts as
  * space-separated characters (`" k e y "`); each round counts
  * adjacent symbol pairs corpus-wide (weighted by word frequency),
  * picks the most frequent pair, and merges every non-overlapping
  * left-to-right occurrence. Merge application is a plain literal
  * `replace` of `" p1 p2 "` with `" p1p2 "` — Java's `String.replace`
  * scans exactly as Spark's and DuckDB's `replace` do — including one
  * deliberate variant vs textbook BPE: the replaced occurrence consumes
  * its TRAILING separator, so the symbol immediately after a merge
  * cannot begin another merge in the same round (`b b b b b` becomes
  * `bb b bb`, not `bb bb b`; the skipped merge is simply picked up by
  * a later round). PropertySpec pins this rule against a sequential
  * reference model, and the unrolled-CTE oracle hash-verifies the
  * learned merge table. Argmax ties break by (freq DESC, p1, p2) with
  * strings in UTF-8 byte order, which is codepoint order and the order
  * Spark and DuckDB sort in: fully deterministic, any partitioning.
  *
  * Scale posture: the state is the word HISTOGRAM (vocabulary-sized,
  * millions of rows at 100 TB — not corpus-sized; the one corpus-sized
  * pass is the word count). It is collected under a 4M-word cap that
  * fails loudly before the driver can run out of memory, so a
  * distributed round (an aggregate, an argmax and a rewrite job per
  * merge) would only move a driver-sized table through the scheduler.
  */
object Bpe {

  private val MaxWords = 4 * 1000 * 1000

  /** Corpus word histogram: one corpus pass, vocabulary-sized output. */
  def wordHistogram(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** `" k e y "` — one space before every codepoint plus a trailing
    * space: the oracle's `substr(word, i, 1)` unit, so a surrogate pair
    * is one symbol.
    */
  private[graft] def seed(word: String): String = {
    val sb = new java.lang.StringBuilder(2 * word.length + 1)
    var i = 0
    while (i < word.length) {
      val next = word.offsetByCodePoints(i, 1)
      sb.append(' ').append(word, i, next)
      i = next
    }
    sb.append(' ').toString
  }

  /** UTF-8 byte order, which is codepoint order. `String.compareTo`
    * compares UTF-16 units and so sorts U+1D11E before U+FFFD.
    */
  private val utf8Order: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))
  }

  /** Train `rounds` merges. Returns (merges, toks):
    * merges = (round, p1, p2, freq) one per learned merge;
    * toks   = word → its final symbol sequence (`" k ey "`).
    * A round with no adjacent pair left learns nothing.
    */
  def train(docs: DataFrame, textCol: String, rounds: Int)
      : (Seq[(Int, String, String, Long)], Map[String, String]) = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    // the limit keeps the collect itself under the cap: checking only
    // after an unbounded collect would let a pathological corpus OOM
    // the driver before the intended loud failure fires
    val hist = wordHistogram(docs, textCol).limit(MaxWords + 1).collect()
    require(hist.length <= MaxWords,
      s"BPE vocabulary has over $MaxWords words — past the driver-state " +
        "cap; sample the training corpus (the codebook discipline) " +
        "before training")
    val words = hist.map(_.getString(0))
    val cnts = hist.map(_.getLong(1))
    val toks = words.map(seed)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to rounds) {
      val freq = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for (w <- toks.indices) {
        // drop the wrapping spaces only: `trim` would also strip a
        // tab or newline symbol
        val syms = toks(w).substring(1, toks(w).length - 1).split(" ")
        for (i <- 0 until syms.length - 1) {
          val pair = (syms(i), syms(i + 1))
          freq(pair) = freq.getOrElse(pair, 0L) + cnts(w)
        }
      }
      if (freq.nonEmpty) {
        val top = freq.valuesIterator.max
        val (p1, p2) = freq.iterator.collect { case (p, f) if f == top => p }
          .min(Ordering.Tuple2(utf8Order, utf8Order))
        merges += ((r, p1, p2, top))
        for (w <- toks.indices)
          toks(w) = toks(w).replace(s" $p1 $p2 ", s" $p1$p2 ")
      }
    }
    (merges.result(), words.zip(toks).toMap)
  }

  /** Trained state, memoized per (session, corpus plan, textCol,
    * rounds) — the tokenizer is INDEX STATE, like the PQ codebook and
    * the shingle index: you train once per corpus, then every
    * tokenize/count call is a map pass. The merge table is ≤ `rounds`
    * rows and the word→token-count table is vocabulary-sized —
    * driver-small by the same argument as the DSIR model (cap-guarded
    * loudly in [[train]]; at 100 TB a natural-language vocabulary is
    * millions of words, far under the cap, while corpus SIZE is
    * irrelevant here). A [[graft.Artifacts]] state value.
    */
  private def trainedState(docs: DataFrame, textCol: String, rounds: Int)
      : (Seq[(Int, String, String, Long)], Map[String, Long]) =
    graft.Artifacts.state(docs.sparkSession, "bpe_merges", docs, textCol,
        rounds) {
      val (merges, toks) = train(docs, textCol, rounds)
      (merges, toks.map { case (w, t) => w -> (t.count(_ == ' ') - 1L) })
    }

  /** The learned merge table (round int, p1 string, p2 string, freq
    * bigint). Trains (and memoizes) on first call per (session, corpus,
    * rounds); the returned plan is a local relation of ≤ `rounds` rows
    * — no train stages re-run per consumer.
    */
  def trainMerges(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    import docs.sparkSession.implicits._
    trainedState(docs, textCol, rounds)._1.toDF("round", "p1", "p2", "freq")
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
    val (_, vocabTok) = trainedState(docs, textCol, rounds)
    docs
      .select(col(idCol), graft.functions.BpeWordTokens
        .bpe_word_tokens(col(textCol), vocabTok).as("_wt"))
      .select(col(idCol), col("_wt.n_words").as("n_words"),
        col("_wt.n_tokens").as("n_tokens"))
      .where(col("n_words") > 0L)
  }
}
