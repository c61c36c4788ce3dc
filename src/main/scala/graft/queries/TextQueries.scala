package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{TextAnalysis => T}

/** Driver-contract queries for the text-analysis family over
  * `documents`. DuckDB note: its regexp_replace needs the 'g' flag to
  * match Spark's always-global replacement.
  */
object TextQueries {

  def textStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.distributed(spark, sfDir, "documents").select(
      col("doc_id"),
      T.wordCount(col("text")).as("n_words"),
      T.bpeTokenCount(col("text")).as("bpe_tokens"),
      length(col("text")).as("n_chars_measured"),
      T.avgWordLen(col("text")).as("avg_word_len"),
      T.punctRatio(col("text")).as("punct_ratio"),
      T.digitRatio(col("text")).as("digit_ratio"))

  def textLangid(spark: SparkSession, sfDir: String): DataFrame =
    Tables.distributed(spark, sfDir, "documents").select(
      col("doc_id") +: T.langId(col("text")).as("lang_pred") +:
        T.markers.map { case (l, _) =>
          T.markerCount(col("text"), l).as(s"${l}_hits")
        }: _*)

  def textQuality(spark: SparkSession, sfDir: String): DataFrame =
    Tables.distributed(spark, sfDir, "documents").select(
      col("doc_id"),
      T.stopwordRatio(col("text")).as("stopword_ratio"),
      T.qualityScore(col("text")).as("quality_score"))

  // winnowMin (array-HOF) measured FASTER here than the exploded-join
  // form: one narrow pass beats an explode + aggregate + join shuffle
  // when every doc needs exactly one output row.
  def textFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.distributed(spark, sfDir, "documents").select(
      col("doc_id"),
      T.fingerprint(col("text")).as("fingerprint"),
      T.winnowMin(col("text")).as("winnow_min"))

  /** PII scrubbing over the corpus with deterministic synthetic PII
    * planted in every third doc (the raw corpus is clean words, so the
    * plant guarantees the redactor is actually exercised; the oracle
    * plants identically).
    */
  def textPiiRedact(spark: SparkSession, sfDir: String): DataFrame = {
    val planted = Tables.distributed(spark, sfDir, "documents")
      .withColumn("text",
        when(col("doc_id") % 3 === 0, concat(
          col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com"),
          lit(" from 10."), col("doc_id") % 250, lit(".0."), col("doc_id") % 97,
          lit(" call +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(col("text")))
    planted.select(
      col("doc_id") +: T.piiCounts(col("text")) :+
        T.redactPii(col("text")).as("clean_text"): _*)
  }

  /** Inverted index with a df cap (stopword-grade tokens skipped). The
    * posting list is emitted as a comma-joined string: the driver's
    * compare harness hashes flat scalar columns, and the joined form is
    * byte-identical across engines while `sort_array` already fixed the
    * element order.
    */
  def invertedIndex(spark: SparkSession, sfDir: String): DataFrame =
    T.invertedIndex(Tables.distributed(spark, sfDir, "documents"),
      idCol = "doc_id", textCol = "text", maxDf = 400)
      .withColumn("postings",
        array_join(col("postings").cast("array<string>"), ","))

  /** Top-5 TF-IDF terms per document. N comes from the table itself
    * (one count action at plan-build time, like the reference corpus
    * stats any tf-idf needs).
    */
  def tfidfTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.distributed(spark, sfDir, "documents")
    T.tfIdfTopK(docs, idCol = "doc_id", textCol = "text",
      totalDocs = docs.count(), k = 5)
  }

  /** Per-doc vocabulary coverage against the corpus's global top-100
    * tokens — the tokenizer-coverage / OOV-rate report a pipeline runs
    * before committing to a vocab. The vocab is tiny and broadcast; the
    * exploded token stream aggregates straight back to one row per doc.
    */
  def vocabCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.distributed(spark, sfDir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .where(col("token") =!= "")
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc).limit(100)
      .select(col("token"), lit(1L).as("_in"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("_in"), lit(0L))).as("n_in_vocab"))
      .withColumn("coverage",
        round(col("n_in_vocab").cast("double") / col("n_tokens"), 6))
  }

  /** BM25 top-20 documents for the corpus's own top-8 tokens (the
    * deterministic self-contained query) — integer-exact micro-point
    * scores; see [[graft.operators.TextAnalysis.bm25TopK]].
    */
  def bm25Topk(spark: SparkSession, sfDir: String): DataFrame =
    T.bm25TopK(Tables.distributed(spark, sfDir, "documents"),
      idCol = "doc_id", textCol = "text", nTerms = 8, k = 20)

  /** Per-language top-20 vocabulary by frequency. */
  def vocabTopk(spark: SparkSession, sfDir: String): DataFrame =
    T.vocabTopK(Tables.distributed(spark, sfDir, "documents"),
      textCol = "text", groupCol = "lang", k = 20)

  /** The same vocabulary query written in PURE SQL against the custom
    * aggregate the session builder installs — proving the extension
    * surface is a first-class way to drive the library, not just the
    * Scala API.
    */
  def sqlVocabTopk(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.distributed(spark, sfDir, "documents")
      .createOrReplaceTempView("documents_v")
    spark.sql(
      """WITH tok AS (
        |  SELECT lang, explode(split(text, ' ')) AS token FROM documents_v
        |), counts AS (
        |  SELECT lang, token, count(*) AS cnt FROM tok
        |  WHERE token <> '' GROUP BY lang, token
        |), ranked AS (
        |  SELECT lang,
        |    top_k_string_by(CAST(cnt AS DOUBLE), token, 20) AS topk
        |  FROM counts GROUP BY lang
        |)
        |SELECT lang, ts.token AS token,
        |  CAST(pos + 1 AS INT) AS rank, CAST(ts.score AS BIGINT) AS cnt
        |FROM ranked LATERAL VIEW posexplode(topk) AS pos, ts""".stripMargin)
  }

  /** Gopher-style repetition metrics: duplicate 2-/3-gram fractions. */
  def textRepetition(spark: SparkSession, sfDir: String): DataFrame =
    Tables.distributed(spark, sfDir, "documents").select(
      col("doc_id"),
      T.repNgramFraction(col("text"), 2).as("rep2"),
      T.repNgramFraction(col("text"), 3).as("rep3"))

  /** Per-language corpus length profile with EXACT quantiles (linear
    * interpolation, like pandas/DuckDB quantile_cont) — the
    * distribution check run before setting sequence-length budgets.
    */
  def docLengthStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.distributed(spark, sfDir, "documents")
      .select(col("lang"), T.wordCount(col("text")).as("n_words"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("n_words")).as("min_words"),
        max(col("n_words")).as("max_words"),
        round(avg(col("n_words")), 6).as("avg_words"),
        round(percentile(col("n_words"), lit(0.25)), 6).as("p25"),
        round(percentile(col("n_words"), lit(0.5)), 6).as("p50"),
        round(percentile(col("n_words"), lit(0.75)), 6).as("p75"),
        round(percentile(col("n_words"), lit(0.95)), 6).as("p95"))

  private val BpeRounds = 8

  /** BPE vocabulary training: the learned merge table. */
  def bpeTrain(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Bpe.trainMerges(
      Tables.distributed(spark, sfDir, "documents"), "text", BpeRounds)

  /** Per-doc token counts under the trained BPE vocabulary. */
  def bpeTokenCount(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Bpe.tokenCounts(
      Tables.distributed(spark, sfDir, "documents"), "doc_id", "text", BpeRounds)

  /** Exact-phrase search via positional grams: find every occurrence
    * of the corpus's most frequent word bigram (total order: count
    * desc, gram asc — fully deterministic, so the query is
    * self-contained). The positional-index shape is the one a real
    * phrase search runs: token positions explode map-side, the phrase
    * probe is a broadcast single-row join, hits collapse per doc.
    */
  def phraseSearch(spark: SparkSession, sfDir: String): DataFrame = {
    // positional bigrams via the PositionalGrams codegen kernel — the
    // interpreted transform(sequence(...)) twin it replaces is pinned
    // bit-equal in NormalizeSpec
    val grams = graft.functions.PositionalGrams
      .positional_grams(col("text"), 2, hashed = false)
    val rows = Tables.distributed(spark, sfDir, "documents")
      .select(col("doc_id"), posexplode(grams))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("gram"))
    val top = rows.groupBy("gram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram").asc).limit(1)
      .select("gram")
    rows.join(broadcast(top), "gram")
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("n_hits"), min(col("pos")).as("first_pos"))
      .select(col("doc_id"), col("gram").as("phrase"),
        col("n_hits"), col("first_pos"))
  }

  /** Count-based bigram LM score per doc (rare-bigram quality gate). */
  def textLmScore(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.TextAnalysis.bigramLmScore(
      Tables.distributed(spark, sfDir, "documents"), "doc_id", "text")

  /** The end-to-end tokenize→pack path of a training-data pipeline in
    * ONE oracle-gated query: documents are tokenized under the
    * corpus-trained BPE vocabulary (Bpe.tokenCounts) and the resulting
    * per-doc token weights feed the 512-token concat-and-chunk pack
    * assignment (Packing.packAssignments, two-phase global prefix sum).
    * Each stage is verified standalone (`bpe_token_count`, `seq_pack`);
    * this gates their COMPOSITION — the handoff a real sequence writer
    * runs.
    */
  def tokenizePack(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Packing.packAssignments(
      graft.operators.Bpe.tokenCounts(
        Tables.distributed(spark, sfDir, "documents"), "doc_id", "text",
        BpeRounds)
        .select(col("doc_id"), col("n_tokens")),
      idCol = "doc_id", weightCol = "n_tokens", budget = 512)
      .select("doc_id", "n_tokens", "start_offset",
        "start_pack", "end_pack", "n_packs")

  /** Length-quartile curriculum schedule with deterministic
    * round-robin source interleaving — see
    * [[graft.operators.Curriculum.curriculumOrder]].
    */
  def curriculumOrder(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Curriculum.curriculumOrder(
      Tables.distributed(spark, sfDir, "documents"),
      "doc_id", "text", "source")

  /** 600-token-per-source deterministic budget draw — see
    * [[graft.operators.Curriculum.tokenBudgetSample]].
    */
  def tokenBudgetSample(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Curriculum.tokenBudgetSample(
      Tables.distributed(spark, sfDir, "documents"),
      "doc_id", "text", "source", tokensPerSource = 600L)

  /** The published Gopher quality-rule suite per document — see
    * [[graft.operators.Hygiene.gopherColumns]].
    */
  def qualityFilterGopher(spark: SparkSession, sfDir: String): DataFrame =
    Tables.distributed(spark, sfDir, "documents")
      .select(col("doc_id") +:
        graft.operators.Hygiene.gopherColumns(col("text")): _*)
      .withColumn("gopher_keep", graft.operators.Hygiene.gopherKeep)

  /** Linear hashed-ngram quality classifier (fastText/CCNet shape) —
    * one codegen projection, broadcast weight vector; see
    * [[graft.operators.TextAnalysis.linearQualityFilter]].
    */
  def qualityFilterLinear(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.TextAnalysis.linearQualityFilter(
      Tables.distributed(spark, sfDir, "documents"), "doc_id", "text")

  /** DSIR importance selection: the crawl slice whose hashed-ngram
    * distribution resembles the English target slice — see
    * [[graft.operators.Dsir.dsirSelect]] (integer-bit-quantized LLR,
    * broadcast bucket models, one data-sized exchange).
    */
  def dsirSelect(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Dsir.dsirSelect(
      Tables.distributed(spark, sfDir, "documents"),
      "doc_id", "text", col("lang") === "en", buckets = 4096)

  /** Fixed-budget DSIR importance draw (Gumbel-top-k over the
    * bit-quantized LLR) — see [[graft.operators.Dsir.dsirResample]].
    */
  def dsirResample(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Dsir.dsirResample(
      Tables.distributed(spark, sfDir, "documents"),
      "doc_id", "text", col("lang") === "en", budgetDocs = 200L,
      buckets = 4096)

  /** Deterministic HTML wrapping of each document — the html_extract
    * fixture, synthesized IDENTICALLY by both engines: a head with
    * style and script bodies, a link-dense nav, an h1, the document
    * text as sentence-split paragraphs, an entity-bearing paragraph,
    * and a link footer. Newlines flatten first so the synthesized
    * markup is terminator-free (the kernel still handles terminators;
    * HtmlSpec covers them).
    */
  private[graft] def htmlCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    Tables.distributed(spark, sfDir, "documents").select(
      col("doc_id"),
      concat(
        lit("<html><head><style>p{margin:0}</style><script>var n="), id,
        lit(";track(n)</script></head><body>"),
        lit("<div class=\"nav\"><a href=\"/\">Home</a> " +
          "<a href=\"/about\">About</a> <a href=\"/doc/"), id,
        lit("\">doc</a></div>"),
        lit("<h1>Doc "), id, lit("</h1><p>"),
        replace(translate(col("text"), "\n\r", "  "),
          lit(". "), lit(".</p><p>")),
        lit("</p><p>Tom &amp; Jerry &lt;3 &quot;q&quot;&nbsp;&#39;end&#39; fin</p>"),
        lit("<div><a href=\"/p\">prev</a> <a href=\"/n\">next</a></div>" +
          "</body></html>")).as("html"))
  }

  /** HTML main-content extraction over the synthesized crawl corpus —
    * boilerplate (nav/footer/heading) drops by the word-count and
    * link-density rules; prose lines and the entity paragraph survive
    * with exact per-line statistics. See operators.Html.
    */
  def htmlExtract(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Html
      .extractMainText(htmlCorpus(spark, sfDir), "doc_id", "html")
      .select(col("doc_id"), col("line_no").cast("bigint").as("line_no"),
        col("content"), col("n_words").cast("bigint").as("n_words"),
        col("n_chars"), col("link_chars"))

  // -- oracle SQL ------------------------------------------------------

  private def hits(lang: String): String = {
    val pat = T.markers.toMap.apply(lang)
    s"len(regexp_extract_all(lower(text), '$pat'))"
  }

  private[queries] val nWords = """len(string_split_regex(trim(text), '\s+'))"""
  private val punct =
    """len(regexp_extract_all(text, '[^a-zA-Z0-9\s]'))::DOUBLE / greatest(length(text), 1)"""
  private val digit =
    """len(regexp_extract_all(text, '[0-9]'))::DOUBLE / greatest(length(text), 1)"""
  private val awl =
    s"""length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / greatest($nWords, 1)"""
  private val langNames: Seq[String] = T.markers.map(_._1)

  private val stopRatio =
    s"""(${langNames.map(hits).mkString(" + ")})::DOUBLE
       | / greatest($nWords, 1)""".stripMargin

  /** The arg-max language rule over a `text` column — GENERATED from
    * the same marker table as TextAnalysis.langId (ties to the earlier
    * row), so adding a language updates engine and oracle together.
    * Shared with the curation-funnel oracle.
    */
  private[queries] val langPredExpr: String = {
    val whens = langNames.init.zipWithIndex.map { case (l, i) =>
      val laterGe = langNames.drop(i + 1)
        .map(l2 => s"${hits(l)} >= ${hits(l2)}").mkString(" AND ")
      s"WHEN $laterGe THEN '$l'"
    }
    s"""CASE WHEN ${langNames.map(hits).mkString(" + ")} = 0 THEN 'und'
       |    ${whens.mkString("\n    ")}
       |    ELSE '${langNames.last}' END""".stripMargin
  }

  /** The full quality-score formula over a `text` column, verbatim from
    * the `text_quality` oracle — shared so cluster-canonical selection
    * scores documents identically.
    */
  private[queries] val qualityExpr: String =
    s"""least($stopRatio, 0.5) * 0.8
       |    + CASE WHEN $awl >= 3 AND $awl <= 10 THEN 0.3 ELSE 0.0 END
       |    + CASE WHEN $nWords >= 20 THEN 0.3 ELSE 0.1 END
       |    - ($punct) * 0.5 - ($digit) * 0.5""".stripMargin

  private def repN(n: Int): String = {
    val gram = (0 until n).map(j => s"words[i+$j]").mkString(" || ' ' || ")
    s"""CASE WHEN len(words) >= $n THEN
       |  1.0 - len(list_distinct(list_transform(
       |    generate_series(1, len(words) - ${n - 1}), i -> $gram)))::DOUBLE
       |    / (len(words) - ${n - 1})
       |  ELSE 0.0 END""".stripMargin
  }

  private val vocabOracle: String =
    """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS token
      |           FROM documents),
      |c AS (SELECT lang, token, count(*) AS cnt FROM t
      |      WHERE token <> '' GROUP BY 1, 2),
      |r AS (SELECT lang, token, cnt, row_number() OVER (PARTITION BY lang
      |        ORDER BY cnt DESC, token ASC) AS rn FROM c)
      |SELECT lang, token, CAST(rn AS INT) AS rank, CAST(cnt AS BIGINT) AS cnt
      |FROM r WHERE rn <= 20""".stripMargin

  /** Unrolled-CTE twin of Bpe.train: rK holds the symbol table after k
    * merges; bK the k-th learned merge. DuckDB's `replace` has the same
    * scan-and-skip-past-replacement semantics as the Java
    * `String.replace` the driver loop applies, which is what makes the
    * merge application hash-comparable.
    */
  private def bpeCtes(rounds: Int): String = {
    val base =
      """wh AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE word <> '' GROUP BY word),
        |r0 AS (SELECT word, cnt,
        |  ' ' || array_to_string([substr(word, i, 1)
        |    for i in generate_series(1, len(word))], ' ') || ' ' AS toks
        |  FROM wh)""".stripMargin
    val steps = (1 to rounds).map { k =>
      s"""p$k AS (
         |  SELECT p1, p2, CAST(sum(cnt) AS BIGINT) AS freq
         |  FROM (
         |    SELECT cnt, arr[i] AS p1, arr[i + 1] AS p2
         |    FROM (
         |      SELECT cnt, string_split(trim(toks), ' ') AS arr,
         |        unnest(generate_series(1, len(string_split(trim(toks), ' ')) - 1)) AS i
         |      FROM r${k - 1})
         |  ) GROUP BY p1, p2),
         |b$k AS (SELECT $k AS round, p1, p2, freq FROM p$k
         |  ORDER BY freq DESC, p1, p2 LIMIT 1),
         |r$k AS (SELECT word, cnt,
         |  CASE WHEN b.p1 IS NULL THEN toks
         |    ELSE replace(toks, ' ' || b.p1 || ' ' || b.p2 || ' ',
         |      ' ' || b.p1 || b.p2 || ' ') END AS toks
         |  FROM r${k - 1} LEFT JOIN b$k b ON TRUE)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  private def bpeTrainOracle: String =
    s"""WITH ${bpeCtes(BpeRounds)}
       |SELECT CAST(round AS INT) AS round, p1, p2, freq
       |FROM (${(1 to BpeRounds).map(k => s"SELECT * FROM b$k").mkString(" UNION ALL ")})""".stripMargin

  private def bpeTokenCountOracle: String =
    s"""WITH ${bpeCtes(BpeRounds)},
       |pw AS (SELECT word,
       |  CAST(len(string_split(trim(toks), ' ')) AS BIGINT) AS ntok
       |  FROM r$BpeRounds),
       |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM documents)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(ntok) AS BIGINT) AS n_tokens
       |FROM dw JOIN pw USING (word)
       |WHERE word <> ''
       |GROUP BY doc_id""".stripMargin

  private def tokenizePackOracle: String =
    s"""WITH ${bpeCtes(BpeRounds)},
       |pw AS (SELECT word,
       |  CAST(len(string_split(trim(toks), ' ')) AS BIGINT) AS ntok
       |  FROM r$BpeRounds),
       |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM documents),
       |tc AS (SELECT doc_id, CAST(sum(ntok) AS BIGINT) AS n_tokens
       |  FROM dw JOIN pw USING (word) WHERE word <> '' GROUP BY doc_id),
       |c AS (SELECT doc_id, n_tokens,
       |  CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
       |    - n_tokens AS BIGINT) AS start_offset
       |  FROM tc)
       |SELECT doc_id, n_tokens, start_offset,
       |  CAST(start_offset // 512 AS BIGINT) AS start_pack,
       |  CAST((start_offset + n_tokens - 1) // 512 AS BIGINT) AS end_pack,
       |  CAST((start_offset + n_tokens - 1) // 512
       |    - start_offset // 512 + 1 AS BIGINT) AS n_packs
       |FROM c""".stripMargin

  val entries: Seq[(String, Query)] = Seq(
    // html_extract: the identical synthesis + extraction chain, step
    // for step (see operators.Html.extractColumns). chr(1)/chr(2) are
    // the anchor markers; entity decode order puts &amp; last.
    "html_extract" -> Query(htmlExtract,
      """WITH h0 AS (SELECT doc_id,
        |  '<html><head><style>p{margin:0}</style><script>var n='
        |  || doc_id || ';track(n)</script></head><body>'
        |  || '<div class="nav"><a href="/">Home</a> <a href="/about">About</a> <a href="/doc/'
        |  || doc_id || '">doc</a></div>'
        |  || '<h1>Doc ' || doc_id || '</h1><p>'
        |  || replace(replace(replace(text, chr(10), ' '), chr(13), ' '),
        |       '. ', '.</p><p>')
        |  || '</p><p>Tom &amp; Jerry &lt;3 &quot;q&quot;&nbsp;&#39;end&#39; fin</p>'
        |  || '<div><a href="/p">prev</a> <a href="/n">next</a></div></body></html>'
        |  AS h FROM documents),
        |h1 AS (SELECT doc_id,
        |  regexp_replace(h, '<script[^>]*>.*?</script>', ' ', 'g') AS h FROM h0),
        |h2 AS (SELECT doc_id,
        |  regexp_replace(h, '<style[^>]*>.*?</style>', ' ', 'g') AS h FROM h1),
        |h3 AS (SELECT doc_id,
        |  regexp_replace(h, '<a [^>]*>', chr(1), 'g') AS h FROM h2),
        |h4 AS (SELECT doc_id, replace(h, '</a>', chr(2)) AS h FROM h3),
        |h5 AS (SELECT doc_id, regexp_replace(h,
        |  '</p>|</div>|</li>|</h[1-6]>|<br>|<br/>', chr(10), 'g') AS h FROM h4),
        |h6 AS (SELECT doc_id, regexp_replace(h, '<[^>]*>', '', 'g') AS h FROM h5),
        |h7 AS (SELECT doc_id,
        |  replace(replace(replace(replace(replace(replace(h,
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
        |    '&nbsp;', ' '), '&amp;', '&') AS h FROM h6),
        |lsx AS (SELECT doc_id, string_split(h, chr(10)) AS ls FROM h7),
        |ex AS (SELECT doc_id,
        |  unnest(generate_series(1, len(ls))) AS line_no, ls FROM lsx),
        |ln AS (SELECT doc_id, CAST(line_no AS BIGINT) AS line_no,
        |  ls[line_no] AS line FROM ex),
        |st AS (SELECT doc_id, line_no, line,
        |  replace(replace(line, chr(1), ''), chr(2), '') AS nomark FROM ln),
        |c AS (SELECT doc_id, line_no,
        |  trim(regexp_replace(nomark, ' +', ' ', 'g')) AS content,
        |  CAST(length(nomark) AS BIGINT) AS raw_chars,
        |  CAST(coalesce(list_sum(list_transform(
        |      regexp_extract_all(line, chr(1) || '[^' || chr(2) || ']*' || chr(2)),
        |      x -> length(x) - 2)), 0)
        |    + CASE WHEN regexp_extract(line, chr(1) || '[^' || chr(2) || ']*$') <> ''
        |        THEN length(regexp_extract(line, chr(1) || '[^' || chr(2) || ']*$')) - 1
        |        ELSE 0 END AS BIGINT) AS link_chars
        |  FROM st),
        |w AS (SELECT doc_id, line_no, content,
        |  CAST(CASE WHEN content = '' THEN 0
        |    ELSE len(string_split(content, ' ')) END AS BIGINT) AS n_words,
        |  CAST(length(content) AS BIGINT) AS n_chars, link_chars, raw_chars
        |  FROM c)
        |SELECT doc_id, line_no, content, n_words, n_chars, link_chars
        |FROM w WHERE n_words >= 3 AND 2 * link_chars <= raw_chars""".stripMargin),
    // the hashed-ngram linear classifier: features = word unigrams +
    // bigrams (positional, non-distinct), bucket = 60-bit md5 prefix
    // mod 65536, weight = the public md5 milli-weight formula the
    // engine's broadcast vector is derived from
    "quality_filter_linear" -> Query(qualityFilterLinear,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(words) AS g FROM t
        |  UNION ALL
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(words) - 1),
        |    i -> words[i] || ' ' || words[i+1])) AS g
        |  FROM t),
        |w AS (SELECT doc_id,
        |  (CAST(concat('0x', substr(md5('qw:' || CAST(
        |      CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) % 65536
        |    AS VARCHAR)), 1, 15)) AS BIGINT) % 2001) - 1000 AS w
        |  FROM g)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(w) AS BIGINT) AS score_sum,
        |  CAST(sum(w) >= 0 AS INT) AS keep
        |FROM w GROUP BY doc_id""".stripMargin),
    "quality_filter_gopher" -> Query(qualityFilterGopher,
      s"""WITH w AS (SELECT doc_id, text,
         |    string_split_regex(trim(text), '\\s+') AS words,
         |    string_split(text, chr(10)) AS lines
         |  FROM documents),
         |s AS (SELECT doc_id,
         |    CAST(len(words) AS INT) AS n_words,
         |    $awl AS mean_word_len,
         |    len(regexp_extract_all(text, '#|\\.\\.\\.'))::DOUBLE
         |      / greatest(len(words), 1) AS symbol_word_ratio,
         |    len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]')))::DOUBLE
         |      / greatest(len(lines), 1) AS bullet_line_frac,
         |    len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.\\s*$$')))::DOUBLE
         |      / greatest(len(lines), 1) AS ellipsis_line_frac,
         |    len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
         |      / greatest(len(words), 1) AS alpha_word_frac,
         |    CAST(${Seq("the", "be", "to", "of", "and", "that", "have", "with")
            .map(s => s"(CASE WHEN list_contains(list_transform(words, " +
              s"x -> lower(x)), '$s') THEN 1 ELSE 0 END)").mkString(" + ")}
         |      AS INT) AS stop_hits
         |  FROM w)
         |SELECT *, (n_words >= 50 AND n_words <= 100000
         |  AND mean_word_len >= 3 AND mean_word_len <= 10
         |  AND symbol_word_ratio <= 0.1 AND bullet_line_frac <= 0.9
         |  AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8
         |  AND stop_hits >= 2) AS gopher_keep
         |FROM s""".stripMargin),
    "dsir_select" -> Query(dsirSelect,
      """WITH w AS (SELECT doc_id, lang = 'en' AS tgt,
        |    string_split(text, ' ') AS words FROM documents),
        |g AS (SELECT doc_id, tgt, unnest(words) AS gram FROM w
        |  UNION ALL
        |  SELECT doc_id, tgt, words[i] || ' ' || words[i+1] AS gram
        |  FROM (SELECT doc_id, tgt, words,
        |          unnest(generate_series(1, len(words) - 1)) AS i FROM w)),
        |b AS (SELECT doc_id, tgt,
        |    CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) % 4096
        |      AS bk FROM g),
        |stats AS (SELECT bk, CAST(count(*) AS BIGINT) AS cr,
        |    CAST(count(*) FILTER (WHERE tgt) AS BIGINT) AS ct
        |  FROM b GROUP BY bk),
        |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS traw,
        |    CAST(sum(ct) AS BIGINT) AS ttgt FROM stats),
        |dn AS (SELECT CAST((length(bin(traw + 4096)) - 1)
        |    - (length(bin(ttgt + 4096)) - 1) AS BIGINT) AS d FROM tot),
        |tlr AS (SELECT CAST(sum(cr * ((length(bin(ct + 1)) - 1)
        |    - (length(bin(cr + 1)) - 1))) AS BIGINT) AS v FROM stats),
        |sc AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum((length(bin(ct + 1)) - 1)
        |      - (length(bin(cr + 1)) - 1)) AS BIGINT) AS lr
        |  FROM b JOIN stats USING (bk) GROUP BY b.doc_id)
        |SELECT d.doc_id,
        |  coalesce(sc.n_grams, 0) AS n_grams,
        |  CAST(coalesce(sc.lr + sc.n_grams * dn.d, 0) AS BIGINT)
        |    AS dsir_score,
        |  coalesce(CAST(sc.lr AS HUGEINT) * tot.traw
        |    > CAST(sc.n_grams AS HUGEINT) * tlr.v, false) AS selected
        |FROM documents d
        |LEFT JOIN sc ON d.doc_id = sc.doc_id
        |CROSS JOIN dn CROSS JOIN tot CROSS JOIN tlr""".stripMargin),
    "dsir_resample" -> Query(dsirResample,
      """WITH w AS (SELECT doc_id, lang = 'en' AS tgt,
        |    string_split(text, ' ') AS words FROM documents),
        |g AS (SELECT doc_id, tgt, unnest(words) AS gram FROM w
        |  UNION ALL
        |  SELECT doc_id, tgt, words[i] || ' ' || words[i+1] AS gram
        |  FROM (SELECT doc_id, tgt, words,
        |          unnest(generate_series(1, len(words) - 1)) AS i FROM w)),
        |b AS (SELECT doc_id, tgt,
        |    CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) % 4096
        |      AS bk FROM g),
        |stats AS (SELECT bk, CAST(count(*) AS BIGINT) AS cr,
        |    CAST(count(*) FILTER (WHERE tgt) AS BIGINT) AS ct
        |  FROM b GROUP BY bk),
        |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS traw,
        |    CAST(sum(ct) AS BIGINT) AS ttgt FROM stats),
        |dn AS (SELECT CAST((length(bin(traw + 4096)) - 1)
        |    - (length(bin(ttgt + 4096)) - 1) AS BIGINT) AS d FROM tot),
        |sc AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum((length(bin(ct + 1)) - 1)
        |      - (length(bin(cr + 1)) - 1)) AS BIGINT) AS lr
        |  FROM b JOIN stats USING (bk) GROUP BY b.doc_id),
        |scored AS (SELECT d.doc_id,
        |    coalesce(sc.n_grams, 0) AS n_grams,
        |    CAST(coalesce(sc.lr + sc.n_grams * dn.d, 0) AS BIGINT)
        |      AS dsir_score
        |  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |  CROSS JOIN dn),
        |keyed AS (SELECT *,
        |    CAST(concat('0x', substr(md5('dsirg:'
        |      || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS u
        |  FROM scored),
        |gk AS (SELECT doc_id, n_grams, dsir_score, u,
        |    dsir_score + 20 - (length(bin(
        |      greatest(59 - (length(bin(u + 1)) - 1), 0) * 1048576
        |        + (u % 1048576) + 1)) - 1) AS gumbel_key
        |  FROM keyed)
        |SELECT doc_id, n_grams, dsir_score, gumbel_key,
        |  CAST(row_number() OVER (ORDER BY gumbel_key DESC, u, doc_id)
        |    AS BIGINT) AS rank
        |FROM gk
        |QUALIFY rank <= 200""".stripMargin),
    "token_budget_sample" -> Query(tokenBudgetSample,
      """WITH tk AS (SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(text,
        |      ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS BIGINT) AS tokens
        |  FROM documents),
        |c AS (SELECT doc_id, source, tokens,
        |    CAST(sum(tokens) OVER (PARTITION BY source
        |      ORDER BY md5('tokbudget:' || CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM tk)
        |SELECT doc_id, source, tokens, cum_tokens
        |FROM c WHERE cum_tokens <= 600""".stripMargin),
    "curriculum_order" -> Query(curriculumOrder,
      """WITH tk AS (SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(text,
        |      ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS BIGINT) AS tokens
        |  FROM documents),
        |hist AS (SELECT tokens AS v, count(*) AS c FROM tk GROUP BY 1),
        |cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cc FROM hist),
        |nn AS (SELECT count(*) AS n FROM tk),
        |thr AS (SELECT k, min(v) AS t
        |  FROM cum, nn, unnest(generate_series(1, 3)) u(k)
        |  WHERE 4*cc >= k*n GROUP BY k),
        |st AS (SELECT tk.doc_id, tk.source, tk.tokens,
        |    CAST(1 + (SELECT count(*) FROM thr
        |      WHERE tk.tokens > thr.t) AS INT) AS stage
        |  FROM tk),
        |ps AS (SELECT *, CAST(row_number() OVER (PARTITION BY stage, source
        |    ORDER BY md5('curr:' || CAST(doc_id AS VARCHAR)), doc_id)
        |    AS INT) AS pos FROM st)
        |SELECT doc_id, source, tokens, stage, pos,
        |  CAST(row_number() OVER (PARTITION BY stage
        |    ORDER BY pos, source, doc_id) AS INT) AS curriculum_rank
        |FROM ps""".stripMargin),
    "tokenize_pack" -> Query(tokenizePack, tokenizePackOracle),
    "phrase_search" -> Query(phraseSearch,
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |), g AS (
        |  SELECT doc_id, pos, words[pos] || ' ' || words[pos+1] AS gram
        |  FROM (SELECT doc_id,
        |          unnest(generate_series(1, len(words) - 1)) AS pos, words
        |        FROM w)
        |), top1 AS (
        |  SELECT gram FROM (
        |    SELECT gram, count(*) AS c FROM g GROUP BY 1
        |    ORDER BY c DESC, gram ASC LIMIT 1)
        |)
        |SELECT doc_id, g.gram AS phrase,
        |  CAST(count(*) AS BIGINT) AS n_hits,
        |  CAST(min(pos) AS BIGINT) AS first_pos
        |FROM g JOIN top1 USING (gram)
        |GROUP BY 1, 2""".stripMargin),
    "text_lm_score" -> Query(textLmScore,
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |), g AS (
        |  SELECT doc_id, CAST(concat('0x',
        |      substr(md5(words[pos] || ' ' || words[pos+1]), 1, 15))
        |    AS BIGINT) AS h
        |  FROM (SELECT doc_id,
        |          unnest(generate_series(1, len(words) - 1)) AS pos, words
        |        FROM w)
        |), f AS (
        |  SELECT h, CAST(count(*) AS BIGINT) AS f FROM g GROUP BY h
        |), s AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(f) AS BIGINT) AS sum_freq,
        |    CAST(sum(CASE WHEN f <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
        |  FROM g JOIN f USING (h) GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  coalesce(n_bigrams, 0) AS n_bigrams,
        |  coalesce(sum_freq, 0) AS sum_freq,
        |  coalesce(n_rare, 0) AS n_rare,
        |  coalesce(round(CAST(n_rare AS DOUBLE) / n_bigrams, 6), 0.0)
        |    AS rare_ratio
        |FROM documents d LEFT JOIN s USING (doc_id)""".stripMargin),
    "bpe_train" -> Query(bpeTrain, bpeTrainOracle),
    "bpe_token_count" -> Query(bpeTokenCount, bpeTokenCountOracle),
    "vocab_coverage" -> Query(vocabCoverage,
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |           FROM documents),
        |tok AS (SELECT doc_id, token FROM t WHERE token <> ''),
        |v AS (SELECT token FROM (
        |        SELECT token, count(*) AS cnt FROM tok GROUP BY 1
        |        ORDER BY cnt DESC, token ASC LIMIT 100))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(v.token) AS BIGINT) AS n_in_vocab,
        |  round(CAST(count(v.token) AS DOUBLE) / count(*), 6) AS coverage
        |FROM tok LEFT JOIN v ON tok.token = v.token
        |GROUP BY doc_id""".stripMargin),
    "sql_vocab_topk" -> Query(sqlVocabTopk, vocabOracle),
    "tfidf_topk" -> Query(tfidfTopk,
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |       WHERE token <> '' GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS dfc FROM tf GROUP BY 1),
        |scored AS (SELECT doc_id, tf.token,
        |    round(tf * ln((SELECT count(*) FROM documents)::DOUBLE / dfc), 6) AS tfidf
        |  FROM tf JOIN dfreq ON tf.token = dfreq.token),
        |r AS (SELECT doc_id, token, tfidf, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY tfidf DESC, token ASC) AS rn FROM scored)
        |SELECT doc_id, token, CAST(rn AS INT) AS rank, tfidf
        |FROM r WHERE rn <= 5""".stripMargin),
    // BM25: one double expression tree per (doc, term), mirrored
    // operator-for-operator (identical parenthesization = identical
    // IEEE rounding) and quantized to micro-points BEFORE the per-doc
    // sum so the sum is order-free long addition.
    "bm25_topk" -> Query(bm25Topk,
      """WITH t AS (SELECT doc_id, token FROM (
        |       SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |       FROM documents)
        |     WHERE token <> ''),
        |s AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
        |             (SELECT count(*) FROM t)::DOUBLE AS ntok),
        |q AS (SELECT token FROM (
        |        SELECT token, count(*) AS cnt FROM t GROUP BY 1
        |        ORDER BY cnt DESC, token ASC LIMIT 8)),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM t
        |       WHERE token IN (SELECT token FROM q) GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS dfc FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
        |c AS (SELECT tf.doc_id,
        |        CAST(round(ln((n - dfc + 0.5) / (dfc + 0.5) + 1.0)
        |          * (tf * 2.2)
        |          / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (ntok / n)))
        |          * 1000000.0) AS BIGINT) AS contrib
        |      FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id), s)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        |       CAST(sum(contrib) AS BIGINT) AS score_micro
        |FROM c GROUP BY 1
        |ORDER BY score_micro DESC, doc_id ASC
        |LIMIT 20""".stripMargin),
    "inverted_index" -> Query(invertedIndex,
      """SELECT token,
        |  array_to_string(list_sort(list(doc_id)), ',') AS postings,
        |  CAST(count(*) AS BIGINT) AS df
        |FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        |      FROM documents)
        |WHERE token <> ''
        |GROUP BY token HAVING count(*) <= 400""".stripMargin),
    "text_repetition" -> Query(textRepetition,
      s"""SELECT doc_id, ${repN(2)} AS rep2, ${repN(3)} AS rep3
         |FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)""".stripMargin),
    "doc_length_stats" -> Query(docLengthStats,
      s"""SELECT lang,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  min(n_words) AS min_words,
         |  max(n_words) AS max_words,
         |  round(avg(n_words), 6) AS avg_words,
         |  round(quantile_cont(n_words, 0.25), 6) AS p25,
         |  round(quantile_cont(n_words, 0.5), 6) AS p50,
         |  round(quantile_cont(n_words, 0.75), 6) AS p75,
         |  round(quantile_cont(n_words, 0.95), 6) AS p95
         |FROM (SELECT lang, CAST($nWords AS INT) AS n_words FROM documents)
         |GROUP BY lang""".stripMargin),
    "vocab_topk" -> Query(vocabTopk, vocabOracle),
    "text_stats" -> Query(textStats,
      s"""SELECT doc_id,
         |  $nWords AS n_words,
         |  len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS bpe_tokens,
         |  length(text) AS n_chars_measured,
         |  $awl AS avg_word_len,
         |  $punct AS punct_ratio,
         |  $digit AS digit_ratio
         |FROM documents""".stripMargin),
    "text_langid" -> Query(textLangid,
      s"""SELECT doc_id,
         |  $langPredExpr AS lang_pred,
         |  ${langNames.map(l => s"${hits(l)} AS ${l}_hits").mkString(", ")}
         |FROM documents""".stripMargin),
    "text_quality" -> Query(textQuality,
      s"""SELECT doc_id,
         |  $stopRatio AS stopword_ratio,
         |  $qualityExpr AS quality_score
         |FROM documents""".stripMargin),
    "text_pii_redact" -> Query(textPiiRedact,
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN text
         |      || ' contact user' || doc_id || '@example.com'
         |      || ' from 10.' || (doc_id % 250) || '.0.' || (doc_id % 97)
         |      || ' call +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
         |    ELSE text END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${T.EmailRe}')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${T.Ipv4Re}')) AS INT) AS n_ips,
         |  CAST(len(regexp_extract_all(text, '${T.PhoneRe}')) AS INT) AS n_phones,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '${T.EmailRe}', '[EMAIL]', 'g'),
         |    '${T.Ipv4Re}', '[IP]', 'g'),
         |    '${T.PhoneRe}', '[PHONE]', 'g') AS clean_text
         |FROM planted""".stripMargin),
    "text_fingerprint" -> Query(textFingerprint,
      s"""SELECT doc_id,
         |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
         |    '\\s+', ' ', 'g'))) AS fingerprint,
         |  list_min(list_transform(list_distinct(list_transform(
         |    generate_series(1, len(words) - 4),
         |    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' '
         |         || words[i+3] || ' ' || words[i+4])), sh -> md5(sh))) AS winnow_min
         |FROM (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents)""".stripMargin)
  )
}
