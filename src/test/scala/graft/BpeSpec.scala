package graft

import org.apache.spark.sql.functions._

import graft.operators.Bpe

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("learns merges in frequency order with deterministic tie-breaks") {
    // "ab" ×3, "ac" ×1 → round 1 merges (a,b) freq 3; round 2 (a,c) freq 1.
    val docs = Seq("ab ab ab ac").toDF("text")
    val merges = Bpe.trainMerges(docs, "text", rounds = 2)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(merges === Seq((1, "a", "b", 3L), (2, "a", "c", 1L)))
  }

  test("overlapping pairs: counting sees both, replacement skips past (left-to-right)") {
    // "aaa": symbols a a a → pair (a,a) counted TWICE per word, but the
    // merge rewrites ' a a a ' to ' aa a ' (the second occurrence's
    // leading space was consumed) — the classic BPE scan semantics.
    val docs = Seq("aaa aaa").toDF("text")
    val (m, toks) = Bpe.train(docs, "text", rounds = 2)
    assert(m(0) === ((1, "a", "a", 4L)))    // 2 adjacencies × 2 occurrences
    assert(m(1) === ((2, "aa", "a", 2L)))   // then (aa, a) once per word
    assert(toks.values.toSeq === Seq(" aaa "))
  }

  test("freq ties break in UTF-8 byte order, not UTF-16 order") {
    // (U+FFFD, x) and (U+1D11E, x) tie at freq 1. UTF-8 (EF BF BD vs
    // F0 9D 84 9E) and Spark/DuckDB put U+FFFD first; UTF-16 (FFFD vs
    // D834 DD1E) would put U+1D11E first.
    val docs = Seq("\uFFFDx \uD834\uDD1Ex").toDF("text")
    val merges = Bpe.trainMerges(docs, "text", rounds = 1)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(merges === Seq((1, "\uFFFD", "x", 1L)))
  }

  test("token counts shrink as merges apply; single-char words survive") {
    val docs = Seq((1L, "ab ab x"), (2L, "ac")).toDF("doc_id", "text")
    val got = Bpe.tokenCounts(docs, "doc_id", "text", rounds = 1)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // round 1 merges (a,b): doc1 = ab(1) + ab(1) + x(1) = 3 tokens,
    // doc2 = a c = 2 tokens.
    assert(got === Seq((1L, 3L, 3L), (2L, 1L, 2L)))
  }

  test("rounds past the last learnable merge preserve the vocabulary (no silent wipe)") {
    // "ab" fully merges in round 1; rounds 2-4 learn nothing. The
    // vocab and token counts must survive the empty rounds.
    val docs = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val (merges, toks) = Bpe.train(docs.select("text"), "text", rounds = 4)
    assert(merges.size === 1) // only round 1 learned a merge
    assert(toks.values.toSeq === Seq(" ab "))
    val counts = Bpe.tokenCounts(docs, "doc_id", "text", rounds = 4)
      .as[(Long, Long, Long)].collect().toSeq
    assert(counts === Seq((1L, 2L, 2L))) // 2 words, 1 token each
  }

  test("merge table is invariant under input partitioning") {
    val docs = (1 to 200).map(i => s"w$i w${i % 7} shared shared tokens")
      .toDF("text")
    val a = Bpe.trainMerges(docs.repartition(1), "text", 4)
      .as[(Int, String, String, Long)].collect().toSet
    val b = Bpe.trainMerges(docs.repartition(13), "text", 4)
      .as[(Int, String, String, Long)].collect().toSet
    assert(a === b)
  }

  test("BpeWordTokens kernel: join semantics preserved exactly") {
    import graft.functions.BpeWordTokens
    // vocab as the trained table would be; "zz" deliberately absent —
    // the old explode + INNER-join path counted an unknown word toward
    // NEITHER n_words NOR n_tokens, and empty runs (double spaces)
    // were filtered before the join; the kernel must reproduce both
    val vocab = Map("ab" -> 1L, "cd" -> 2L, "e" -> 1L)
    val rows = Seq(
      ("ab cd e", 3L, 4L),      // all known
      ("ab  cd", 2L, 3L),       // double space: empty run skipped
      ("zz ab zz", 1L, 1L),     // unknown words invisible to both counts
      (" ab ", 1L, 1L),         // leading/trailing spaces
      ("", 0L, 0L),             // no words at all
      ("zz", 0L, 0L)            // only unknown
    ).toDF("text", "want_w", "want_t")
    val got = rows.select(col("want_w"), col("want_t"),
      BpeWordTokens.bpe_word_tokens(col("text"), vocab).as("s"))
      .select(col("want_w"), col("want_t"),
        col("s.n_words"), col("s.n_tokens"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(2) === r.getLong(0), s"n_words of $r")
      assert(r.getLong(3) === r.getLong(1), s"n_tokens of $r")
    }
    // tokenCounts drops zero-known-word docs — the old groupBy-after-
    // join behavior (absent row, not a (0,0) row)
    val tc = Bpe.tokenCounts(
      Seq((1L, "ab cd"), (2L, "")).toDF("doc_id", "text"),
      "doc_id", "text", rounds = 1)
    assert(tc.count() === 1L)
  }
}
