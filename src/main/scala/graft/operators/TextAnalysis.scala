package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language ID
  * (marker-word n-gram heuristic), quality scoring (length/punctuation/
  * stopword ratios), token counting (whitespace + a BPE-style
  * pre-tokenizer regex), and document fingerprinting (normalized md5 +
  * min-shingle winnow).
  *
  * All pure column expressions over codegen'd regex/array builtins — a
  * narrow map over the corpus, embarrassingly parallel at any scale.
  * Regexes stick to syntax shared by Java regex and RE2 (no lookaround)
  * so SQL oracles in other engines count identically.
  */
object TextAnalysis {

  /** Marker rules per language — tiny, order-matters table. Latin-
    * script languages use marker stopwords (word-boundary alternations,
    * incl. transliterated Russian); zh/ja use character-class counts
    * (CJK ideographs / kana), written as LITERAL unicode ranges so the
    * same pattern bytes run identically under Java regex and RE2.
    * Pure data: extending coverage is adding a row here.
    */
  val markers: Seq[(String, String)] = Seq(
    "en" -> "(^| )(the|and|of|to|is|in|that|it)( |$)",
    "es" -> "(^| )(el|la|de|que|y|los|las|una)( |$)",
    "de" -> "(^| )(der|die|das|und|ist|nicht|ein)( |$)",
    "fr" -> "(^| )(le|les|et|est|une|dans|pour)( |$)",
    "pt" -> "(^| )(o|os|dos|das|uma|não|são|como)( |$)",
    "it" -> "(^| )(il|gli|che|per|sono|con|della)( |$)",
    "nl" -> "(^| )(het|een|niet|aan|ook|maar|zijn)( |$)",
    "pl" -> "(^| )(się|jest|nie|która|przez|oraz|tym)( |$)",
    "ru" -> "(^| )(chto|eto|kak|tak|vot|ili|net)( |$)",
    "zh" -> "[一-鿿]",
    "ja" -> "[ぁ-ゖァ-ヺ]")

  /** The marker table parsed for the single-pass
    * [[graft.functions.MarkerCounts]] kernel: Latin rows become exact
    * token sets, zh/ja become their literal char ranges.
    */
  private val markerKinds
      : Seq[(String, Either[Set[String], (Char, Char, Option[(Char, Char)])])] =
    markers.map {
      case ("zh", _) => "zh" -> Right(('一', '鿿', None))
      case ("ja", _) => "ja" -> Right(('ぁ', 'ゖ', Some(('ァ', 'ヺ'))))
      case (l, pat) => l -> Left(
        pat.stripPrefix("(^| )(").stripSuffix(")( |$)").split('|').toSet)
    }

  def markerCount(text: Column, lang: String): Column = {
    // since round 11: ONE lowercase + one walk for ALL languages via
    // the MarkerCounts kernel (the 11 per-language calls in langId /
    // stopwordRatio collapse to a single evaluation under codegen
    // CSE), value-identical to the regexp formulation the SQL oracles
    // keep — equivalence spec-pinned, including the non-overlap
    // trailing-space consumption
    val idx = markers.indexWhere(_._1 == lang)
    require(idx >= 0, s"unknown marker language $lang")
    element_at(
      graft.functions.MarkerCounts.marker_counts(text, markerKinds), idx + 1)
  }

  /** The regexp formulation [[markerCount]] replaced — the oracle
    * twin, kept for the equivalence spec.
    */
  private[graft] def markerCountRegexp(text: Column, lang: String): Column = {
    val pat = markers.toMap.apply(lang)
    // overlapping "( |$)(w)( |$)" matches don't overlap-count in either
    // engine; acceptable for a frequency heuristic
    size(regexp_extract_all(lower(text), lit(pat), lit(0)))
  }

  /** Arg-max language with deterministic ties to the earlier table row
    * (en > es > … > ja); no markers at all → "und" (undetermined).
    * Generated from the table, so adding a language never touches this
    * logic; repeated count subexpressions collapse under codegen CSE.
    */
  def langId(text: Column): Column = {
    val counts = markers.map { case (l, _) => markerCount(text, l) }
    val total = counts.reduce(_ + _)
    val n = markers.length
    var expr = when(total === 0, lit("und"))
    for (i <- 0 until n - 1) {
      val cond = (i + 1 until n).map(j => counts(i) >= counts(j)).reduce(_ && _)
      expr = expr.when(cond, lit(markers(i)._1))
    }
    expr.otherwise(lit(markers.last._1))
  }

  // the four scan counts share ONE TextScanStats walk per row (CSE
  // collapses the repeated deterministic kernel); each remains
  // value-identical to its regexp twin below — equivalence spec-pinned
  private def scan(text: Column): Column =
    graft.functions.TextScanStats.text_scan_stats(text)

  def wordCount(text: Column): Column = element_at(scan(text), 4)

  private[graft] def wordCountRegexp(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-style pre-tokenizer segment count (letters runs, digit runs,
    * punctuation runs, each with optional leading space — the shape of
    * the GPT-2 pre-tokenizer, minus lookahead). Since round 11 the
    * codegen'd single-pass [[graft.functions.BpeSegmentCount]] byte
    * walk, value-identical to the regexp formulation the SQL oracles
    * keep (`regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+|
    * ?[^a-zA-Z0-9 ]+')`) and ~10× its throughput — spec-pinned equal
    * on random unicode inputs.
    */
  def bpeTokenCount(text: Column): Column =
    graft.functions.BpeSegmentCount.bpe_segment_count(text)

  /** The regexp formulation [[bpeTokenCount]] replaced — kept as the
    * differential twin for the equivalence spec.
    */
  private[graft] def bpeTokenCountRegexp(text: Column): Column =
    size(regexp_extract_all(text,
      lit(" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"), lit(0)))

  def punctRatio(text: Column): Column =
    element_at(scan(text), 1).cast("double") /
      greatest(length(text), lit(1))

  private[graft] def punctRatioRegexp(text: Column): Column =
    size(regexp_extract_all(text, lit("[^a-zA-Z0-9\\s]"), lit(0))).cast("double") /
      greatest(length(text), lit(1))

  def digitRatio(text: Column): Column =
    element_at(scan(text), 2).cast("double") /
      greatest(length(text), lit(1))

  private[graft] def digitRatioRegexp(text: Column): Column =
    size(regexp_extract_all(text, lit("[0-9]"), lit(0))).cast("double") /
      greatest(length(text), lit(1))

  /** Stopword ratio: marker hits (any language) per word. */
  def stopwordRatio(text: Column): Column = {
    val hits = markers.map { case (l, _) => markerCount(text, l) }.reduce(_ + _)
    hits.cast("double") / greatest(wordCount(text), lit(1))
  }

  def avgWordLen(text: Column): Column =
    element_at(scan(text), 3).cast("double") /
      greatest(wordCount(text), lit(1))

  private[graft] def avgWordLenRegexp(text: Column): Column =
    length(regexp_replace(text, "\\s+", "")).cast("double") /
      greatest(wordCountRegexp(text), lit(1))

  /** Composite quality score in [0,1]-ish: rewards stopword presence and
    * mid-length words, penalizes punctuation/digit noise. Heuristic
    * weights; the exact formula is mirrored by oracles, so keep the
    * operand order stable.
    */
  def qualityScore(text: Column): Column =
    least(stopwordRatio(text), lit(0.5)) * 0.8 +
      when(avgWordLen(text) >= 3 && avgWordLen(text) <= 10, 0.3).otherwise(0.0) +
      when(wordCount(text) >= 20, 0.3).otherwise(0.1) -
      punctRatio(text) * 0.5 - digitRatio(text) * 0.5

  /** Linear quality CLASSIFIER over hashed n-gram features — the
    * fastText/CCNet curation shape (Joulin et al. 2016): word
    * unigrams+bigrams hash into a fixed bucket space, a broadcast
    * weight vector scores each bucket, the doc keeps iff the summed
    * score clears the gate. Model application is ONE codegen
    * projection ([[graft.functions.HashedGramScore]] — the weight
    * vector rides as a reference object, the PQ-codebook broadcast
    * discipline), so at 100 TB this is scan-bound: no explode, no
    * join, no shuffle before the terminal sink. Weights here derive
    * from the public md5 formula (deterministic, oracle re-derives
    * them inline); training real ones swaps the array only. Exact
    * integer milli-weights end-to-end; `keep` = sign gate.
    */
  def linearQualityFilter(df: DataFrame, idCol: String, textCol: String,
      buckets: Int = 65536): DataFrame = {
    val w = graft.functions.HashedGramScore.deriveWeights(buckets)
    // null text drops the doc (not a null-score row): the SQL twin's
    // unnest-over-split produces no gram rows for NULL, so the doc is
    // absent from its GROUP BY — match that, don't diverge on the
    // first fixture regeneration that introduces a null
    df.where(col(textCol).isNotNull)
      .select(col(idCol),
        graft.functions.HashedGramScore
          .hashed_gram_score(col(textCol), w, Seq(1, 2)).as("_s"))
      .select(col(idCol),
        col("_s.n_grams").as("n_grams"),
        col("_s.score_sum").as("score_sum"),
        (col("_s.score_sum") >= 0L).cast("int").as("keep"))
  }

  // -- PII redaction ---------------------------------------------------

  /** PII patterns — syntax shared by Java regex and RE2 (no lookaround)
    * so SQL oracles match identically. Deliberately high-recall shapes:
    * training-data scrubbing prefers over-redaction to leakage.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\+[0-9][0-9-]{6,}[0-9]"

  /** Redact emails → `[EMAIL]`, IPv4s → `[IP]`, +intl phone runs →
    * `[PHONE]`, in that order (counts are taken on the ORIGINAL text;
    * the three patterns cannot overlap-match the same span: emails have
    * no `+`-led digit runs, IPs no `@`). Narrow map — three codegen'd
    * regex passes, embarrassingly parallel; at 100 TB this is a scan,
    * not a shuffle.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "[EMAIL]"),
        Ipv4Re, "[IP]"),
      PhoneRe, "[PHONE]")

  def piiCounts(text: Column): Seq[Column] = Seq(
    regexp_count(text, lit(EmailRe)).as("n_emails"),
    regexp_count(text, lit(Ipv4Re)).as("n_ips"),
    regexp_count(text, lit(PhoneRe)).as("n_phones"))

  /** Canonical-form fingerprint: md5 of lowercased, punctuation-stripped,
    * whitespace-collapsed text. Robust to formatting-only edits. The
    * normalization runs as the [[graft.functions.NormalizeText]] codegen
    * kernel (strip mode) — one byte walk instead of the three-pass regex
    * stack it replaces (twin pinned in NormalizeSpec).
    */
  def fingerprint(text: Column): Column =
    md5(graft.functions.NormalizeText.normalize_text(text, punctToSpace = false))

  /** Winnowing-style rolling fingerprint: the minimum md5 over the
    * document's word 5-gram shingles — stable under small edits
    * anywhere outside the minimal window. One codegen'd pass
    * ([[graft.functions.WinnowMinMd5]]); the `array_min(transform(
    * shingles, md5))` twin it replaces evaluated the HOF interpreted
    * per gram (twin pinned in NormalizeSpec).
    */
  def winnowMin(text: Column): Column =
    graft.functions.WinnowMinMd5.winnow_min_md5(text, 5)

  /** Interpreted-HOF twin of [[winnowMin]] — spec pinning only. */
  def winnowMinTwin(text: Column): Column =
    array_min(transform(Dedup.shingles(text, 5), sh => md5(sh)))

  /** Duplicate word-n-gram fraction within a document (the Gopher
    * repetition signal: boilerplate and looping generations score
    * high): `1 − distinct_ngrams / total_ngrams`, 0 for texts shorter
    * than n words. Pure array expression — narrow map, no shuffle.
    */
  def repNgramFraction(text: Column, n: Int): Column = {
    val words = split(text, " ")
    val total = size(words) - (n - 1)
    // distinct-gram count via the GramDistinctCount codegen kernel (one
    // byte walk, no gram array) — the interpreted transform/
    // array_distinct twin is pinned bit-equal in NormalizeSpec
    when(size(words) >= n,
      lit(1.0) - graft.functions.PositionalGrams
        .gram_distinct_count(text, n).cast("double") / total)
      .otherwise(lit(0.0))
  }

  /** Interpreted-HOF twin of [[repNgramFraction]] — spec pinning only. */
  def repNgramFractionTwin(text: Column, n: Int): Column = {
    val words = split(text, " ")
    val total = size(words) - (n - 1)
    val grams = transform(
      sequence(lit(0), size(words) - n),
      i => concat_ws(" ", slice(words, i + 1, lit(n))))
    when(size(words) >= n,
      lit(1.0) - size(array_distinct(grams)).cast("double") / total)
      .otherwise(lit(0.0))
  }

  /** Count-based bigram LM quality scoring — the CCNet-style "score
    * every document against a corpus language model" gate, with the
    * model being the corpus's own bigram counts and the score kept in
    * EXACT integers (a log-prob perplexity sums floats whose order the
    * engine controls, so it can't be hash-verified; the rare-bigram
    * ratio ranks documents the same way for filtering purposes: noisy
    * docs are exactly the ones made of bigrams the corpus has never
    * seen twice).
    *
    * Shape: positional bigram rows explode map-side; ONE hash aggregate
    * builds the corpus count table (the "LM"); the score join is keyed
    * on the bigram hash (both sides partition by it) and collapses
    * straight back into a per-doc aggregate. Emitted per doc:
    *   n_bigrams, sum_freq (Σ corpus counts of the doc's bigrams, a
    *   mean-logprob stand-in), n_rare (bigrams with corpus count ≤
    *   rareMax — each seen basically nowhere else), rare_ratio.
    * Train/score splits fall out for free: build `freq` on one corpus,
    * join any other against it.
    */
  def bigramLmScore(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, rareMax: Long = 2L): org.apache.spark.sql.DataFrame = {
    // 60-bit LONG-hashed positional bigrams via the PositionalGrams
    // codegen kernel (md5 digested in place from the byte span — no
    // gram string, no interpreted HOF; twin pinned in NormalizeSpec).
    // Round 17: the hex-string mode still shuffled 32 chars per gram
    // row through the frequency join (1.06 GB at sf10) — the long
    // carries 8 bytes, and the oracle replays the identical prefix
    // with CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT).
    val grams = graft.functions.PositionalGrams
      .positional_gram_hashes64(col(textCol), 2)
    val rows = df.select(col(idCol).as("_doc"), explode(grams).as("_h"))
    val freq = rows.groupBy("_h").agg(count(lit(1)).as("_f"))
    val scored = rows.join(freq, "_h")
      .groupBy("_doc")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("_f")).as("sum_freq"),
        sum(when(col("_f") <= rareMax, lit(1L)).otherwise(lit(0L))).as("n_rare"))
    df.select(col(idCol))
      .join(scored, col(idCol) === col("_doc"), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_freq"), lit(0L)).as("sum_freq"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        coalesce(round(col("n_rare").cast("double") / col("n_bigrams"), 6),
          lit(0.0)).as("rare_ratio"))
  }

  /** Inverted index build: one posting list per token — sorted doc ids
    * plus document frequency. The classic IR construction as one
    * partial-aggregating hash aggregate: explode is map-side, the
    * shuffle carries one partially-built posting per (task, token), and
    * `sort_array` makes the list deterministic regardless of partition
    * arrival order. At 100 TB the caveat is posting-list width for
    * stopword-grade tokens — cap with `maxDf` (lists longer than the
    * cap are usually stopwords you'd skip-list anyway).
    */
  def invertedIndex(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, maxDf: Long = Long.MaxValue): org.apache.spark.sql.DataFrame =
    df.select(col(idCol), explode(array_distinct(split(col(textCol), " "))).as("token"))
      .where(col("token") =!= "")
      .groupBy("token")
      .agg(sort_array(collect_list(col(idCol))).as("postings"),
        count(lit(1)).as("df"))
      .where(col("df") <= maxDf)

  /** Shared TOKEN-FREQUENCY index for the lexical-scoring family —
    * one (doc, token, tf) row per distinct pair, written ONCE per
    * (session, corpus plan) as a parquet artifact BUCKETED AND SORTED
    * BY token (the [[graft.operators.Dedup.shingleIndex]] discipline
    * applied to plain tokens): tfidf_topk, bm25_topk and the hybrid
    * retriever's BM25 arm all start from the same explode + (doc,
    * token) hash-aggregate over the corpus, and at 100 TB that table
    * is an index you maintain, not a pass you re-run per query. The
    * token bucketing makes every token-keyed aggregate downstream
    * (document frequency, query-term selection) exchange-free.
    */
  def tokenFrequencyIndex(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    // digest the NORMALIZED two-column projection so callers that
    // pre-project (hybrid's select) and callers that pass the raw
    // table converge on one artifact
    val proj = df.select(col(idCol), col(textCol))
    val idx = graft.Artifacts.table(spark, "token_index", proj, idCol,
        textCol) { layout =>
      val buckets = Buckets.artifact(df, floor = 32)
      proj
        .select(col(idCol).as("doc"),
          explode(split(col(textCol), " ")).as("token"))
        .where(col("token") =!= "")
        .groupBy(col("doc"), col("token"))
        .agg(count(lit(1)).as("tf"))
        .repartition(buckets, col("token"))
        .write.mode("overwrite").format("parquet")
        .option("path", s"${layout.dir}/tf")
        .bucketBy(buckets, "token").sortBy("token")
        .saveAsTable(layout.name("tokidx"))
    }
    spark.table(idx.name("tokidx"))
  }

  /** Top-k TF-IDF terms per document: tf·ln(N/df), rounded to 6 dp
    * BEFORE ranking so the (score desc, token asc) order is total and
    * engine-portable (ln may differ in the last ulp across libms; the
    * rounding absorbs it).
    *
    * `totalDocs` is the corpus size — passed in, not counted here, so
    * the operator stays action-free (callers usually know N or count
    * once). Shape: tf is a partial-aggregating (doc, token) count, df a
    * token-keyed aggregate of it, the join is token-keyed (planner
    * broadcasts while vocab is small; sort-merge when it isn't), and
    * ranking is the bounded-heap string aggregate.
    */
  def tfIdfTopK(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, totalDocs: Long, k: Int): org.apache.spark.sql.DataFrame = {
    // tf comes off the shared token-frequency artifact (round 18): the
    // per-query explode + (doc, token) aggregate was the query's front
    // half, and the bucketed-by-token layout makes the df aggregate
    // exchange-free
    val tf = tokenFrequencyIndex(df, idCol, textCol)
      .select(col("doc").as(idCol), col("token"), col("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("dfc"))
    val scored = tf.join(dfreq, "token")
      .withColumn("tfidf",
        round(col("tf") * log(lit(totalDocs.toDouble) / col("dfc")), 6))
    scored.groupBy(col(idCol))
      .agg(graft.functions.TopKByScore
        .top_k_string_by(col("tfidf"), col("token"), k).as("topk"))
      .select(col(idCol), posexplode(col("topk")).as(Seq("pos", "ts")))
      .select(col(idCol), col("ts.token").as("token"),
        (col("pos") + 1).cast("int").as("rank"),
        col("ts.score").as("tfidf"))
  }

  /** BM25 ranked retrieval (Robertson/Spärck Jones; k1 = 1.2, b = 0.75 —
    * the Lucene defaults, with Lucene's `ln(1 + (N − df + 0.5)/(df +
    * 0.5))` non-negative idf): top-`k` documents for a deterministic
    * self-contained query — the corpus's own top-`nTerms` tokens by
    * (count desc, token asc). Completes the retrieval family
    * (inverted_index → phrase_search → tfidf_topk → BM25 ranking).
    *
    * Exactness discipline: each (doc, term) contribution is computed as
    * ONE double expression tree mirrored operator-for-operator by the
    * DuckDB oracle (identical parenthesization, so identical IEEE
    * rounding), then quantized to integer micro-points
    * (`round(c·10⁶)::long`) BEFORE the per-doc sum — long addition is
    * order-free, where a double sum over terms would be
    * summation-order-dependent across engines.
    *
    * Shape at 100 TB: the query-term vocab is ≤ nTerms rows (broadcast
    * semi filter), tf is a partial-aggregating (doc, term) count over
    * the filtered stream, df a ≤ nTerms-row aggregate of it (broadcast
    * back), dl one doc-keyed count, and the final top-k is a bounded
    * heap per partition (`TakeOrderedAndProject`) — never a global
    * range sort.
    */
  def bm25TopK(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, nTerms: Int, k: Int): org.apache.spark.sql.DataFrame =
    bm25Ranked(df, idCol, textCol, k) { tf =>
      (tf.groupBy("token").agg(sum(col("tf")).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc).limit(nTerms)
        .select("token"), tf)
    }

  /** BM25 "more-like-this": top-`k` documents for the query DOCUMENT
    * `queryId` — its own top-`nTerms` tokens (count desc, token asc)
    * are the query, and the query document itself is excluded from the
    * ranking (the self-match would trivially win). Corpus statistics
    * (N, avgdl) stay whole-corpus; document frequency is counted over
    * the scored (query-excluded) candidate set. Same integer
    * micro-point exactness discipline and 100 TB shape as [[bm25TopK]];
    * the sparse half of hybrid sparse+dense retrieval.
    */
  def bm25MoreLikeThis(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, queryId: Long, nTerms: Int,
      k: Int): org.apache.spark.sql.DataFrame =
    bm25Ranked(df, idCol, textCol, k) { tf =>
      // the artifact is already one row per (doc, token): the query
      // doc's per-token counts ARE its tf values
      (tf.where(col(idCol) === queryId)
        .orderBy(col("tf").desc, col("token").asc).limit(nTerms)
        .select("token"), tf.where(col(idCol) =!= queryId))
    }

  /** Shared BM25 scorer: `pick` maps the shared (doc, token, tf)
    * artifact ([[tokenFrequencyIndex]], idCol-renamed) to (query
    * terms, scored candidate tf rows); everything else — one fused
    * corpus-stat action, broadcast term semi-join, micro-point
    * contribution, bounded top-k — is common to every BM25 variant,
    * so the mirrored-expression-tree contract lives in one place.
    * Round 18: tf rows come pre-aggregated off the artifact — the
    * per-query corpus explode + persist + (doc, token) aggregate is
    * the index build, paid once per session.
    */
  private def bm25Ranked(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int)(
      pick: org.apache.spark.sql.DataFrame =>
        (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame))
      : org.apache.spark.sql.DataFrame = {
    val tfIdx = tokenFrequencyIndex(df, idCol, textCol)
      .select(col("doc").as(idCol), col("token"), col("tf"))
    // ONE corpus-stat action at plan-build time (round 14 — previously
    // TWO separate whole-corpus actions, df.count() then toks.count()):
    // doc count and total token count in a single tiny aggregate.
    // size(array_remove(split, '')) is the codegen'd per-doc non-empty
    // token count (no HOF lambda); null text contributes 0 tokens but
    // still counts as a document, matching the artifact's totals.
    val r = df.agg(count(lit(1)).as("n"),
      sum(coalesce(size(array_remove(split(col(textCol), " "), "")),
        lit(0))).as("ntok")).head()
    val nDocs = r.getLong(0).toDouble
    val avgdl = (if (r.isNullAt(1)) 0.0 else r.getLong(1).toDouble) / nDocs
    val (qTerms, cands) = pick(tfIdx)
    val tf = cands.join(broadcast(qTerms), Seq("token"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("dfc"))
    // dl is a NARROW per-doc projection of the source frame, not a
    // token-stream aggregate: size(array_remove(split)) counts exactly
    // the non-empty tokens the explode emits, without re-reading the
    // 100×-larger cached token stream a third time (round 14 — the tf
    // join is inner, so the extra dl rows of docs matching no query
    // term never surface).
    val dl = df.select(col(idCol),
      coalesce(size(array_remove(split(col(textCol), " "), "")), lit(0))
        .cast("long").as("dl"))
    val out = tf.join(broadcast(dfreq), "token")
      .join(dl, idCol)
      .withColumn("contrib", round(
        log((lit(nDocs) - col("dfc") + lit(0.5)) / (col("dfc") + lit(0.5))
            + lit(1.0))
          * (col("tf") * lit(2.2))
          / (col("tf") + lit(1.2)
            * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / lit(avgdl)))
          * lit(1000000.0)).cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms"), sum(col("contrib")).as("score_micro"))
      .orderBy(col("score_micro").desc, col(idCol).asc)
      .limit(k)
      // eager k-row checkpoint: keeps the registered query's own plan
      // a trivial scan (the round-13 ADVICE posture, unchanged)
      .localCheckpoint()
    out
  }

  /** Per-group top-k vocabulary: (group, token, rank, cnt), rank by
    * count desc then token asc (a total order, so reproducible).
    *
    * Two-phase shape built for 100 TB: the (group, token) count is a
    * partial-aggregating hash aggregate (one row per distinct token
    * crosses the wire), and the ranking is the bounded-heap
    * [[graft.functions.TopKStringByScore]] — map-side heaps of k
    * entries, never a row_number window that would funnel the whole
    * vocabulary into |groups| partitions.
    */
  def vocabTopK(df: org.apache.spark.sql.DataFrame, textCol: String,
      groupCol: String, k: Int): org.apache.spark.sql.DataFrame =
    df.select(col(groupCol), explode(split(col(textCol), " ")).as("token"))
      .where(col("token") =!= "")
      .groupBy(col(groupCol), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(groupCol))
      .agg(graft.functions.TopKByScore
        .top_k_string_by(col("cnt").cast("double"), col("token"), k).as("topk"))
      .select(col(groupCol), posexplode(col("topk")).as(Seq("pos", "ts")))
      .select(col(groupCol), col("ts.token").as("token"),
        (col("pos") + 1).cast("int").as("rank"),
        col("ts.score").cast("long").as("cnt"))
}
