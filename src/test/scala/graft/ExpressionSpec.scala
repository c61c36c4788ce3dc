package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.{ElbParseFields, LongArrayDot}

class ExpressionSpec extends SparkSpec {
  import spark.implicits._

  test("ElbParseFields matches the regex tokenizer on tricky quoting") {
    val lines = Seq(
      // quoted fields with spaces, empty quotes, dashes
      ("a " * 26) + "\"quoted with spaces\" \"\" tail",
      // quote adjacent to text, quote mid-token
      ("y " * 27) + "\"q v\"adjacent mid\"quote")
    val viaExpr = lines.toDF("value")
      .select(graft.functions.ElbParseFields.elb_parse_fields($"value").as("f"))
    val viaRegex = lines.toDF("value").select(
      transform(
        graft.functions.ElbColumns.elbTokenize($"value"),
        t => when(t.startsWith("\"") && t.endsWith("\"") && length(t) >= 2,
          t.substr(lit(2), length(t) - 2)).otherwise(t)).as("toks"))
    val a = viaExpr.as[Seq[String]].collect()
    val b = viaRegex.as[Seq[String]].collect().map(_.take(ElbSchema.columns.size))
    assert(a.toSeq === b.toSeq)
  }

  test("ElbParseFields returns null (row drop) for short lines and unterminated quotes") {
    val out = Seq(
        "only three tokens",
        "",
        // shlex raises "No closing quotation" → reference drops the row,
        // even when the line would otherwise have enough tokens
        ("x " * 28) + "\"unterminated")
      .toDF("value")
      .select(graft.functions.ElbParseFields.elb_parse_fields($"value").as("f"))
    assert(out.where($"f".isNotNull).count() === 0)
  }

  test("ElbParseFields delimits on tab/CR like \\S+ and shlex, not only space") {
    val spaced = ("a " * 28) + "tail"
    val tabbed = ("a\t" * 14) + ("a\r" * 14) + "tail"
    val both = Seq(spaced, tabbed).toDF("value")
      .select(graft.functions.ElbParseFields.elb_parse_fields($"value").as("f"))
      .as[Seq[String]].collect()
    assert(both(0) === both(1))
  }

  test("WordShingles matches the builtin HOF formulation on edge inputs") {
    val texts = Seq(
      "a b c d e",            // normal
      "a b",                  // shorter than k → whole-text shingle
      "",                     // empty → one empty shingle
      "a  b c",               // double space → empty token preserved
      "a b a b a b",          // duplicate grams → distinct, first-occurrence order
      "x " * 50 + "y")        // trailing content
    def builtin(k: Int) = {
      val words = split($"t", " ")
      array_distinct(
        when(size(words) >= k,
          transform(sequence(lit(0), size(words) - k),
            i => concat_ws(" ", slice(words, i + 1, lit(k)))))
          .otherwise(array(concat_ws(" ", words))))
    }
    for (k <- Seq(1, 3, 5)) {
      val df = texts.toDF("t").select(
        graft.operators.Dedup.shingles($"t", k).as("fast"),
        builtin(k).as("slow"))
      df.as[(Seq[String], Seq[String])].collect().zip(texts).foreach {
        case ((fast, slow), t) =>
          assert(fast === slow, s"k=$k text='$t'")
      }
    }
  }

  test("TopKStringByScore: best-first, ties break by binary token order, across partitions") {
    // 20 distinct (score, token) pairs spread over 7 partitions so the
    // partial + merge paths both run; "tok19" < "tok9" in binary order
    val df = spark.range(0, 20, 1, 7).select(
      (col("id") % 10).cast("double").as("s"),
      concat(lit("tok"), col("id")).as("t"))
    val top = df.agg(graft.functions.TopKByScore
        .top_k_string_by(col("s"), col("t"), 3).as("topk"))
      .select(explode(col("topk")).as("e"))
      .select("e.token", "e.score")
      .as[(String, Double)].collect().toSeq
    assert(top === Seq(("tok19", 9.0), ("tok9", 9.0), ("tok18", 8.0)))
  }

  test("LongArrayDot equals the builtin aggregate/zip_with formulation") {
    val df = Seq((Seq(1L, 2L, 3L), Seq(4L, -5L, 6L))).toDF("a", "b")
    val both = df.select(
      LongArrayDot.long_dot($"a", $"b").as("fast"),
      aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0L), (acc, x) => acc + x).as("ref"))
      .as[(Long, Long)].head()
    assert(both._1 === both._2)
    assert(both._1 === (4 - 10 + 18))
  }

  test("LongArrayDot matches builtin null semantics: length mismatch and null elements") {
    val df = Seq((Seq(1L, 2L, 3L), Seq(4L, 5L))).toDF("a", "b")
    val viaBuiltin = df.select(
      aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0L), (acc, v) => acc + v))
      .collect().head
    val viaExpr = df.select(LongArrayDot.long_dot($"a", $"b")).collect().head
    assert(viaBuiltin.isNullAt(0) && viaExpr.isNullAt(0))
    val withNull = Seq((Seq[java.lang.Long](1L, null), Seq[java.lang.Long](2L, 3L)))
      .toDF("a", "b")
      .select(LongArrayDot.long_dot($"a", $"b")).collect().head
    assert(withNull.isNullAt(0))
  }

  test("SortedIntersectCount equals size(array_intersect) on random sorted distinct arrays") {
    import graft.functions.SortedIntersectCount.sorted_intersect_count
    val rnd = new scala.util.Random(13)
    def arr() = rnd.shuffle((0L to 200L).toVector).take(rnd.nextInt(40))
      .distinct.sorted
    val rows = Seq.fill(200)((arr(), arr())) ++ Seq(
      (Vector.empty[Long], Vector(1L, 2L)),          // empty side
      (Vector(5L), Vector(5L)),                      // identical singletons
      (Vector(Long.MinValue, 0L, Long.MaxValue),
        Vector(Long.MinValue, Long.MaxValue)))       // extreme values
    val both = rows.toDF("a", "b").select(
      sorted_intersect_count($"a", $"b").as("fast"),
      size(array_intersect($"a", $"b")).cast("long").as("ref"))
      .as[(Long, Long)].collect()
    both.foreach { case (fast, ref) => assert(fast === ref) }
  }

  test("word_shingles is SQL-callable once registered") {
    val got = spark.sql("SELECT word_shingles('a b c d', 3) AS s")
      .as[Seq[String]].head()
    assert(got === Seq("a b c", "b c d"))
  }

  test("cdc chunkers are SQL-callable once registered") {
    val r = spark.sql(
      """SELECT gear_chunks('the quick brown fox jumps over the lazy dog', 4, 4, 16) AS g,
        |  md5_chunks('short text') AS m""".stripMargin).head()
    val g = r.getSeq[String](0)
    assert(g.mkString == "the quick brown fox jumps over the lazy dog")
    assert(g.forall(_.length <= 16))
    val m = r.getSeq[org.apache.spark.sql.Row](1)
    // <16 chars -> one chunk spanning the whole text
    assert(m.size == 1 && m.head.getInt(1) == 10)
  }

  test("top_k aggregates are SQL-callable once registered") {
    spark.range(0, 20).select((col("id") % 10).cast("double").as("s"),
        col("id").as("i"), concat(lit("tok"), col("id")).as("t"))
      .createOrReplaceTempView("topk_in")
    val viaSql = spark.sql(
      """SELECT top_k_by(s, i, 2) AS a, top_k_string_by(s, t, 2) AS b
        |FROM topk_in""".stripMargin).head()
    val a = viaSql.getSeq[org.apache.spark.sql.Row](0)
    assert(a.map(r => (r.getLong(0), r.getDouble(1))) ===
      Seq((9L, 9.0), (19L, 9.0)))
    val b = viaSql.getSeq[org.apache.spark.sql.Row](1)
    assert(b.map(r => (r.getString(0), r.getDouble(1))) ===
      Seq(("tok19", 9.0), ("tok9", 9.0)))
  }

  test("sketch aggregates are SQL-callable once registered") {
    spark.range(0, 100).select((col("id") % 7).cast("string").as("item"),
        (col("id") % 40).as("h"))
      .createOrReplaceTempView("sk_in")
    val row = spark.sql(
      """SELECT space_saving(item, 16) AS hh, k_min_values(h, 8) AS kmv
        |FROM sk_in""".stripMargin).head()
    val hh = row.getSeq[org.apache.spark.sql.Row](0)
    // 100 rows over 7 items: counts 15×2 + 14×5, exact (16 ≥ 7),
    // sorted by (est DESC, item ASC)
    assert(hh.map(r => (r.getString(0), r.getLong(1))).take(2) ===
      Seq(("0", 15L), ("1", 15L)))
    assert(hh.map(_.getLong(1)).sum === 100L)
    val kmv = row.getStruct(1)
    assert(kmv.getLong(0) === 8L && kmv.getLong(1) === 7L) // bottom-8 of 0..39
  }

  test("custom expressions are SQL-callable once registered") {
    val line = ("t " * 29).trim
    val r = spark.sql(
      "SELECT long_dot(array(1L, 2L), array(3L, 4L)) AS d, " +
        "elb_unquote('\"x y\"') AS u, " +
        s"size(elb_parse_fields('$line')) AS n")
      .collect().head
    assert(r.getLong(0) === 11L)
    assert(r.getString(1) === "x y")
    assert(r.getInt(2) === 29)
  }
}
