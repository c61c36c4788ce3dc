package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{ElbParseFields, ElbUnquote, GearChunks, KMinValues, LongArrayDot, Md5WindowChunks, SpaceSaving, TopKByScore, TopKStringByScore, WordShingles}

/** Session extensions exposing graft's custom Catalyst expressions to
  * SQL, installed once when the session is built
  * ([[graft.GraftSession.builder]] calls
  * `withExtensions(new GraftExtensions)`). After that
  * `SELECT elb_parse_fields(line)`, `elb_unquote(s)` and
  * `long_dot(a, b)` work from plain SQL — the same codegen'd expressions
  * the DataFrame API uses, no UDF registration per session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(e.injectFunction)
}

object GraftExtensions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  /** The SQL function set. */
  private val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("elb_parse_fields"),
      info("elb_parse_fields",
        "elb_parse_fields(line) - parse an ELB log line into its 29 quote-stripped fields, null if short"),
      (args: Seq[Expression]) => ElbParseFields(args.head)),
    (FunctionIdentifier("elb_unquote"),
      info("elb_unquote", "elb_unquote(s) - strip one layer of surrounding double quotes"),
      (args: Seq[Expression]) => ElbUnquote(args.head)),
    (FunctionIdentifier("long_dot"),
      info("long_dot", "long_dot(a, b) - exact dot product of two array<bigint> vectors"),
      (args: Seq[Expression]) => LongArrayDot(args(0), args(1))),
    (FunctionIdentifier("word_shingles"),
      info("word_shingles",
        "word_shingles(text, k) - distinct word k-shingles, short texts collapse to one whole-text shingle"),
      (args: Seq[Expression]) => WordShingles(args(0), literalK(args(1)))),
    (FunctionIdentifier("top_k_by"),
      info("top_k_by",
        "top_k_by(score, id, k) - aggregate: k highest-score (bigint id) pairs, best-first"),
      (args: Seq[Expression]) => TopKByScore(args(0), args(1), literalK(args(2)))),
    (FunctionIdentifier("top_k_string_by"),
      info("top_k_string_by",
        "top_k_string_by(score, token, k) - aggregate: k highest-score (string token) pairs, best-first"),
      (args: Seq[Expression]) => TopKStringByScore(args(0), args(1), literalK(args(2)))),
    (FunctionIdentifier("k_min_values"),
      info("k_min_values",
        "k_min_values(hash, k) - aggregate: bottom-k distinct-hash sketch as struct(n_kept, kth_hash)"),
      (args: Seq[Expression]) => KMinValues(args(0), literalK(args(1)))),
    (FunctionIdentifier("space_saving"),
      info("space_saving",
        "space_saving(item, capacity) - aggregate: bounded heavy-hitter counters as array<struct<item, est>>"),
      (args: Seq[Expression]) => SpaceSaving(args(0), literalK(args(1)))),
    (FunctionIdentifier("gear_chunks"),
      info("gear_chunks",
        "gear_chunks(text, maskBits, minLen, maxLen) - content-defined chunks via a Gear rolling hash, one pass"),
      (args: Seq[Expression]) => GearChunks(args(0), literalK(args(1)),
        literalK(args(2)), literalK(args(3)))),
    (FunctionIdentifier("md5_chunks"),
      info("md5_chunks",
        "md5_chunks(text) - portable md5-window CDC chunks as array<struct<h, len>>"),
      (args: Seq[Expression]) => Md5WindowChunks(args.head)))

  /** k is a structural parameter of the bounded heap, not a per-row
    * input: demand a literal.
    */
  private def literalK(e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v.toInt
    case other =>
      throw new IllegalArgumentException(s"k must be an integer literal, got: $other")
  }
}
