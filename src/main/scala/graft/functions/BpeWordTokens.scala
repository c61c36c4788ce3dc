package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document (word count, BPE token count) under a TRAINED
  * vocabulary, as one byte walk with the word→token-count table baked
  * in as a reference object — the `PqCodec` driver-side-index pattern
  * applied to tokenization: training happens once per (session,
  * corpus, rounds) and segment counting becomes a MAP-ONLY pass (the
  * pre-round-15 formulation re-trained per invocation and paid a
  * corpus explode + broadcast join — two data-sized exchanges — for
  * what is a pure projection).
  *
  * Semantics are EXACTLY the old explode+join aggregate's (and the
  * DuckDB oracle's `dw JOIN pw USING (word) WHERE word <> ''`): words
  * split on the single ASCII space (byte-safe in UTF-8), empty runs
  * skipped, and a word MISSING from the vocabulary contributes to
  * NEITHER count (inner-join semantics; over the training corpus
  * itself every word is present, so this is the no-op it looks like).
  * Returns struct(n_words, n_tokens); a doc with zero known words
  * returns (0, 0) — callers that need the old "absent row" behavior
  * filter n_words > 0.
  */
case class BpeWordTokens(child: Expression, vocab: Map[String, Long])
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_tokens", LongType, nullable = false)))
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"BpeWordTokens needs string input, got ${child.dataType}")

  /** UTF8String-keyed lookup table, built once per task deserialization
    * (binary-comparable keys, no per-row String decode).
    */
  @transient private lazy val table: java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long](vocab.size * 2)
    vocab.foreach { case (w, n) => m.put(UTF8String.fromString(w), n) }
    m
  }

  private def countWords(s: UTF8String,
      t: java.util.HashMap[UTF8String, java.lang.Long]): (Long, Long) = {
    val bytes = s.getBytes
    var nw = 0L
    var nt = 0L
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { i += 1 }
      else {
        val start = i
        while (i < bytes.length && bytes(i) != ' ') i += 1
        val ntok = t.get(UTF8String.fromBytes(bytes, start, i - start))
        if (ntok != null) { nw += 1L; nt += ntok.longValue() }
      }
    }
    (nw, nt)
  }

  override def nullSafeEval(input: Any): Any = {
    val (nw, nt) = countWords(input.asInstanceOf[UTF8String], table)
    new GenericInternalRow(Array[Any](nw, nt))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("bpeVocab", table, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, s => {
      val (bytes, i, start, nw, nt, ntok) =
        (ctx.freshName("bytes"), ctx.freshName("i"), ctx.freshName("start"),
          ctx.freshName("nw"), ctx.freshName("nt"), ctx.freshName("ntok"))
      s"""
         |byte[] $bytes = $s.getBytes();
         |long $nw = 0L; long $nt = 0L;
         |int $i = 0;
         |while ($i < $bytes.length) {
         |  if ($bytes[$i] == ' ') { $i++; continue; }
         |  int $start = $i;
         |  while ($i < $bytes.length && $bytes[$i] != ' ') $i++;
         |  Object $ntok = $tableRef.get(
         |    org.apache.spark.unsafe.types.UTF8String.fromBytes($bytes, $start, $i - $start));
         |  if ($ntok != null) { $nw++; $nt += ((java.lang.Long) $ntok).longValue(); }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{ $nw, $nt });
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): BpeWordTokens =
    copy(child = newChild)
}

object BpeWordTokens {
  /** Column API: struct(n_words, n_tokens) of `text` under `vocab`. */
  def bpe_word_tokens(text: Column, vocab: Map[String, Long]): Column =
    GraftBridge.column(BpeWordTokens(GraftBridge.expression(text), vocab))
}
