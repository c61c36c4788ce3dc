package graft

import java.sql.Timestamp

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{ElbParseFields, LongArrayDot}

/** Property tests (SURVEY.md §5.2). The parser scanner and dot-product
  * expressions are pure functions, so ScalaCheck drives them directly —
  * no Spark job per sample. Sessionization properties batch all samples
  * into one DataFrame pass against a Scala reference model.
  * (Generators are sampled manually with fixed seeds — the
  * scalatest/scalacheck bridge artifact isn't in the offline cache.)
  */
class PropertySpec extends SparkSpec {

  /** Deterministic sample stream from a Gen. */
  def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  def forAllSampled[A](g: Gen[A], n: Int = 200)(check: A => Unit): Unit =
    samples(g, n).foreach(check)

  // -- tokenizer round-trip ------------------------------------------

  val plainChar: Gen[Char] = Gen.oneOf(
    ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') ++ Seq('-', '_', '.', ':', '/', '=', '?'))
  val plainToken: Gen[String] = Gen.nonEmptyListOf(plainChar).map(_.mkString)
  val quotedContent: Gen[String] =
    Gen.listOf(Gen.oneOf(plainChar, Gen.const(' '))).map(_.mkString)
  /** (rendered, expected-parsed-value) */
  val token: Gen[(String, String)] = Gen.oneOf(
    plainToken.map(t => (t, t)),
    quotedContent.map(c => ("\"" + c + "\"", c)))

  def parseLine(line: String): Option[Seq[String]] =
    Option(ElbParseFields.parse(UTF8String.fromString(line)))
      .map(a => (0 until a.numElements()).map(i => a.getUTF8String(i).toString))

  test("scanner recovers exactly the token values; arity-29 invariant holds") {
    val gen = for {
      toks <- Gen.listOfN(35, token).flatMap(ts => Gen.choose(0, 35).map(ts.take))
      pad <- Gen.choose(1, 3)
    } yield (toks, pad)
    forAllSampled(gen, 400) { case (toks, pad) =>
      val line = toks.map(_._1).mkString(" " * pad)
      val expected = toks.map(_._2)
      parseLine(line) match {
        case Some(fields) =>
          assert(toks.length >= ElbSchema.columns.size)
          assert(fields === expected.take(ElbSchema.columns.size))
        case None =>
          assert(toks.length < ElbSchema.columns.size)
      }
    }
  }

  test("scanner agrees with shlex-style semantics on edge inputs") {
    // unterminated quote → whole line dropped (shlex raises there and
    // the reference drops the row)
    assert(parseLine(("t " * 28) + "\"unterminated") === None)
    // empty quotes → empty field
    assert(parseLine(("t " * 28) + "\"\"").get.last === "")
    // leading/trailing whitespace ignored
    assert(parseLine("   " + ("t " * 29) + "  ").get.size === 29)
    // tab/CR delimit exactly like space
    assert(parseLine(("t\t" * 14) + ("t\r" * 14) + "t") ===
      parseLine(("t " * 28) + "t"))
  }

  // -- shingles vs model ----------------------------------------------

  test("WordShingles matches a Scala reference model over random texts") {
    val wordGen = Gen.oneOf("a", "bb", "ccc", "dd", "e", "")
    val textGen = for {
      n <- Gen.choose(0, 12)
      ws <- Gen.listOfN(n, wordGen)
    } yield ws.mkString(" ")
    def model(text: String, k: Int): Seq[String] = {
      val words = text.split(" ", -1).toSeq
      if (words.length < k) Seq(words.mkString(" "))
      else words.sliding(k).map(_.mkString(" ")).toSeq.distinct
    }
    for (k <- Seq(1, 2, 4)) {
      samples(textGen, 150).foreach { text =>
        val got = Option(graft.functions.WordShingles.shingle(
            UTF8String.fromString(text), k))
          .map(a => (0 until a.numElements()).map(i => a.getUTF8String(i).toString))
        assert(got === Some(model(text, k)), s"k=$k text='$text'")
      }
    }
  }

  // -- bounded-heap top-k vs sort model -------------------------------

  test("TopKByScore agrees with sort-take over random scored sets") {
    import spark.implicits._
    // many groups in one DataFrame pass; scores drawn from a tiny range
    // so ties are common and the tie-break order is truly exercised
    val rng = new scala.util.Random(7)
    val rows = (0 until 60).flatMap { g =>
      (0 until (1 + rng.nextInt(25))).map { i =>
        (g.toLong, rng.nextInt(5).toDouble, rng.nextInt(1000).toLong)
      }
    }.distinct
    val got = rows.toDF("g", "s", "i")
      .groupBy($"g")
      .agg(graft.functions.TopKByScore.top_k_by($"s", $"i", 4).as("topk"))
      .select($"g", $"topk")
      .as[(Long, Seq[(Long, Double)])].collect().toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val expect = rs.map(r => (r._3, r._2)).distinct
        .sortBy { case (id, s) => (-s, id) }.take(4)
      assert(got(g) === expect, s"group $g")
    }
  }

  // -- dot product ----------------------------------------------------

  val vec: Gen[Array[Long]] =
    Gen.listOfN(16, Gen.choose(-3000L, 3000L)).map(_.toArray)

  def dot(a: Array[Long], b: Array[Long]): Long =
    LongArrayDot(null, null)
      .nullSafeEval(new GenericArrayData(a), new GenericArrayData(b))
      .asInstanceOf[Long]

  test("dot product: commutative, Cauchy-Schwarz bounded, matches BigInt model") {
    forAllSampled(Gen.zip(vec, vec), 300) { case (a, b) =>
      val d = dot(a, b)
      assert(d === dot(b, a))
      val model = a.zip(b).map { case (x, y) => BigInt(x) * BigInt(y) }.sum
      assert(BigInt(d) === model)
      val bound = (a.map(x => BigInt(x) * x).sum * b.map(x => BigInt(x) * x).sum)
      assert(BigInt(d) * d <= bound || d == 0)
    }
  }

  test("packed argmin equals struct-order argmin over random distance sets") {
    // the k-means/IVF assignment packs (dist2, cluster) as d*2^20 + c;
    // this must agree with lexicographic (dist2, cluster) min whenever
    // the documented bounds hold (0 <= dist2 < 2^43, 0 <= cluster < 2^20)
    val entry = Gen.zip(Gen.choose(0L, (1L << 43) - 1), Gen.choose(0, (1 << 20) - 1))
    val set = Gen.nonEmptyListOf(entry)
    forAllSampled(set, 300) { entries =>
      val mult = 1L << 20
      val packedMin = entries.map { case (d, c) => d * mult + c }.min
      val structMin = entries.min // tuple ordering = (dist2, cluster) lexicographic
      assert(((packedMin / mult), (packedMin % mult).toInt) === structMin)
    }
  }

  // -- sessionization vs reference model ------------------------------

  def referenceSessionize(times: Seq[Long], gapMicros: Long): Seq[Long] = {
    var n = 0L
    var last = Long.MinValue
    times.sorted.map { t =>
      if (last != Long.MinValue && t - last > gapMicros) n += 1
      last = t
      n
    }
  }

  test("sessionize matches the reference model over random timelines") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    // 200 random per-user timelines, batched into ONE DataFrame
    val rows = (0 until 200).flatMap { user =>
      val base = 1700000000000000L + rng.nextInt(1000000)
      var t = base
      (0 until (1 + rng.nextInt(30))).map { i =>
        t += (rng.nextInt(4) match {
          case 0 => rng.nextInt(1000)                       // bursts
          case 1 => rng.nextInt(60) * 1000000L              // seconds
          case 2 => (20 + rng.nextInt(20)) * 60000000L      // near the gap
          case _ => (31 + rng.nextInt(120)) * 60000000L     // new session
        })
        (user.toLong, new Timestamp(t / 1000), i.toLong, t)
      }
    }
    val df = rows.toDF("user", "time", "seq", "micros")
    val out = operators.Sessionize
      .sessionize(df, "user", "time", org.apache.spark.sql.functions.col("seq"))
      .select("user", "micros", "session_number")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1)
    rows.groupBy(_._1).foreach { case (user, userRows) =>
      val expected = referenceSessionize(userRows.map(_._4), 30L * 60 * 1000000)
      val got = out(user).sortBy(_._2).map(_._3).toSeq
      assert(got === expected, s"user $user")
    }
    // invariant: session count = 1 + number of >30min gaps
    rows.groupBy(_._1).foreach { case (user, userRows) =>
      val times = userRows.map(_._4).sorted
      val gaps = times.zip(times.drop(1)).count { case (a, b) => b - a > 30L * 60 * 1000000 }
      assert(out(user).map(_._3).max === gaps.toLong)
    }
  }

  // -- BPE training vs a sequential reference model ------------------

  /** Straight-line reference BPE: word histogram, then per round count
    * adjacent pairs (overlaps counted), argmax by (freq desc, pair
    * asc), merge via the scan-and-skip replace — the semantics
    * Bpe.scala promises. Symbols start as codepoints and compare as
    * codepoint sequences (UTF-8 byte order, Spark's and DuckDB's
    * string order; UTF-16 `String` order differs past the BMP).
    */
  private def referenceBpe(
      docs: Seq[String], rounds: Int): Seq[(Int, String, String, Long)] = {
    var hist: Map[Vector[String], Long] = docs
      .flatMap(_.split(" ").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, ws) =>
        w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
          .toVector -> ws.size.toLong
      }
    (1 to rounds).flatMap { r =>
      val freq = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, cnt) <- hist; i <- 0 until syms.size - 1)
        freq(syms(i) -> syms(i + 1)) = freq.getOrElse(syms(i) -> syms(i + 1), 0L) + cnt
      if (freq.isEmpty) Seq.empty
      else {
        import scala.math.Ordering.Implicits.seqOrdering
        def cps(x: String): Seq[Int] = x.codePoints().toArray.toSeq
        val ((p1, p2), f) = freq.toSeq.minBy { case ((a, b), c) => (-c, cps(a), cps(b)) }
        hist = hist.map { case (syms, cnt) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.size) {
            if (i + 1 < syms.size && syms(i) == p1 && syms(i + 1) == p2) {
              out += p1 + p2; i += 2
              // string-replace semantics: the merge consumed the shared
              // separator, so the NEXT symbol cannot begin a match in
              // this round (Bpe.scala documents this cooldown rule)
              if (i < syms.size) { out += syms(i); i += 1 }
            } else { out += syms(i); i += 1 }
          }
          out.result() -> cnt
        }.groupMapReduce(_._1)(_._2)(_ + _)
        Seq((r, p1, p2, f))
      }
    }
  }

  test("round-7 ops are partitioning-invariant (exact-integer determinism)") {
    import spark.implicits._
    val rnd = new scala.util.Random(123)
    // triangles over a random graph
    val edges = (1 to 300)
      .map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .toDF("u", "v")
    def triSorted(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Graph.triangles(df)
        .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(triSorted(edges.repartition(1)) === triSorted(edges.repartition(13, $"v")))

    // quantization over random vectors
    val vecs = (1L to 100L)
      .map(i => (i, Seq.fill(16)(rnd.nextFloat() * 4 - 2))).toDF("vec_id", "embedding")
    def qSorted(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Quantize.int8(df, "embedding", Seq("vec_id"))
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq.sorted
    assert(qSorted(vecs.repartition(1)) === qSorted(vecs.repartition(7)))

    // chunk dedup stats over random docs
    val docs = (1L to 60L).map { i =>
      val n = 200 + rnd.nextInt(800)
      (i, Seq.fill(n)(('a' + rnd.nextInt(4)).toChar).mkString)
    }.toDF("doc_id", "text")
    def cSorted(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Cdc.dedupStats(df, "text")
        .as[(Long, Long, Long, Long)].collect().toSeq
    assert(cSorted(docs.repartition(1)) === cSorted(docs.repartition(9, $"doc_id")))
  }

  test("BPE merge table matches the sequential reference on random corpora") {
    import spark.implicits._
    val word: Gen[String] =
      Gen.choose(1, 6).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "b", "c", "é", "\uD834\uDD1E", "\uFFFD")).map(_.mkString))
    val doc: Gen[String] = Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpus: Gen[List[String]] = Gen.choose(3, 15).flatMap(n => Gen.listOfN(n, doc))
    forAllSampled(corpus, n = 12) { docs =>
      val expected = referenceBpe(docs, rounds = 3)
      val got = graft.operators.Bpe.trainMerges(docs.toDF("text"), "text", rounds = 3)
        .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
      assert(got === expected, s"corpus: $docs")
    }
  }

  test("chunked trailing windows equal the plain window over random skewed timelines") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.Rolling
    // random (key, offset-seconds, value) rows: few keys (heavy
    // collisions), offsets spanning many hour blocks with gaps both
    // shorter and longer than the frames, block-boundary-exact hits
    // via the multiple-of-3600 generator branch
    val row: Gen[(Long, Long, Long)] = for {
      key <- Gen.choose(0L, 2L)
      off <- Gen.oneOf(
        Gen.choose(0L, 5L * 3600L),
        Gen.choose(0L, 5L).map(_ * 3600L)) // exactly on hour boundaries
      v <- Gen.choose(1L, 9L)
    } yield (key, off, v)
    val timeline: Gen[List[(Long, Long, Long)]] =
      Gen.choose(30, 120).flatMap(n => Gen.listOfN(n, row))
    // all samples in ONE batched pass: tag rows by sample id and make
    // the window key (sample, key) so samples can't interact
    val all = samples(timeline, 40).zipWithIndex.flatMap { case (rows, i) =>
      rows.zipWithIndex.map { case ((k, off, v), j) =>
        (i.toLong, k, i.toLong * 1000000 + j,
          new Timestamp(1748217600000L + off * 1000L), v.toDouble)
      }
    }
    val df = all.toDF("sample", "key", "row_id", "ts", "value")
      .withColumn("ckey", concat_ws(":", col("sample"), col("key")))
    val plain = df
      .withColumn("c5", count(col("row_id"))
        .over(Rolling.trailing(col("ckey"), col("ts"), Rolling.FiveMinutes)))
      .withColumn("s1", sum(col("value").cast("decimal(12,2)"))
        .over(Rolling.trailing(col("ckey"), col("ts"), Rolling.OneHour)))
      .select(col("row_id"), col("c5"), col("s1").cast("string").as("s1"))
    val chunked = Rolling.trailingChunked(df, col("ckey"), col("ts"), Rolling.OneHour)(
      (Rolling.FiveMinutes, w => count(col("row_id")).over(w), "c5"),
      (Rolling.OneHour,
        w => sum(col("value").cast("decimal(12,2)")).over(w), "s1"))
      .select(col("row_id"), col("c5").as("c5b"), col("s1").cast("string").as("s1b"))
    // duplicate (key, ts) pairs exist by construction; the range frames
    // give tied rows identical frame contents, so the per-row compare
    // is still exact
    val bad = plain.join(chunked, "row_id")
      .where(col("c5") =!= col("c5b") || col("s1") =!= col("s1b"))
    assert(bad.count() === 0)
    assert(chunked.count() === all.size)
  }

  // -- NFC normalization --------------------------------------------

  /** Unicode-dense strings: ASCII, precomposed accents, combining
    * marks, Hangul jamo (NFC composes them), CJK, astral-plane
    * emoji (surrogate-pair handling).
    */
  val unicodeChar: Gen[String] = Gen.oneOf(
    Gen.alphaNumChar.map(_.toString),
    Gen.oneOf("é", "Å", "ö", "ñ", "ü"),
    Gen.oneOf("é", "Å", "ö", "ñ", "ü"),
    Gen.oneOf("가", "한"), // jamo -> syllables
    Gen.oneOf("漢", "字", "🎉", "𝄞"))
  val unicodeString: Gen[String] =
    Gen.listOf(unicodeChar).map(_.mkString)

  test("NfcNormalize agrees with java.text.Normalizer and is idempotent") {
    import graft.functions.NfcNormalize
    forAllSampled(unicodeString, 400) { s =>
      val in = UTF8String.fromString(s)
      val out = NfcNormalize.nfc(in)
      assert(out.toString ==
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
      // idempotent: a normalized string passes through untouched
      assert(NfcNormalize.nfc(out) eq out)
    }
  }

  // -- byte-walk text kernels vs plain-Scala reference models --------

  /** Texts that stress the kernels' single-space byte walks: tokens mix
    * ASCII and multibyte unicode (2-, 3-, and 4-byte UTF-8), tokens may
    * be EMPTY (adjacent/leading/trailing spaces — `split` keeps them),
    * and the whole text may be empty.
    */
  val spaceyText: Gen[String] = {
    val tok = Gen.oneOf(
      Gen.const(""),
      Gen.nonEmptyListOf(unicodeChar).map(_.mkString),
      Gen.oneOf("a", "dup", "x1"))
    Gen.frequency(
      1 -> Gen.const(""),
      9 -> Gen.choose(1, 12).flatMap(n =>
        Gen.listOfN(n, tok).map(_.mkString(" "))))
  }

  private def mdHex(s: String): String =
    org.apache.commons.codec.digest.DigestUtils.md5Hex(s.getBytes("UTF-8"))

  test("PositionalGrams / GramDistinctCount == Scala reference on fuzzed unicode") {
    import graft.functions.PositionalGrams
    def refGrams(text: String, k: Int): Seq[String] = {
      val toks = text.split(" ", -1).toSeq
      if (toks.length < k) Seq.empty
      else (0 to toks.length - k).map(i => toks.slice(i, i + k).mkString(" "))
    }
    forAllSampled(spaceyText, 300) { s =>
      val u = UTF8String.fromString(s)
      for (k <- Seq(1, 2, 3, 5)) {
        val want = refGrams(s, k)
        val raw = PositionalGrams.grams(u, k, hashed = false)
        val got = (0 until raw.numElements())
          .map(i => raw.getUTF8String(i).toString)
        assert(got === want, s"raw grams k=$k on '$s'")
        val hashed = PositionalGrams.grams(u, k, hashed = true)
        val gotH = (0 until hashed.numElements())
          .map(i => hashed.getUTF8String(i).toString)
        assert(gotH === want.map(mdHex), s"hashed grams k=$k on '$s'")
        assert(PositionalGrams.distinctCount(u, k) === want.distinct.length,
          s"distinct count k=$k on '$s'")
      }
    }
  }

  test("SimhashText == Scala reference on fuzzed unicode") {
    import graft.functions.SimhashText
    def ref(text: String, bits: Int): Long = {
      val votes = new Array[Int](bits)
      for (t <- text.split(" ", -1).distinct) {
        val h = mdHex(t)
        var j = 0
        while (j < bits) {
          votes(j) += (if ("89abcdef".indexOf(h.charAt(j)) >= 0) 1 else -1)
          j += 1
        }
      }
      (0 until bits).map(j => if (votes(j) >= 0) 1L << j else 0L).sum
    }
    forAllSampled(spaceyText, 300) { s =>
      val u = UTF8String.fromString(s)
      for (bits <- Seq(16, 32))
        assert(SimhashText.simhash(u, bits) === ref(s, bits),
          s"simhash bits=$bits on '$s'")
    }
  }

  test("WinnowMinMd5 == Scala reference on fuzzed unicode") {
    import graft.functions.WinnowMinMd5
    def ref(text: String, k: Int): String = {
      val toks = text.split(" ", -1)
      val grams =
        if (toks.length < k) Seq(text)
        else (0 to toks.length - k).map(i => toks.slice(i, i + k).mkString(" "))
      grams.map(mdHex).min
    }
    forAllSampled(spaceyText, 300) { s =>
      val u = UTF8String.fromString(s)
      for (k <- Seq(2, 5))
        assert(WinnowMinMd5.winnow(u, k).toString === ref(s, k),
          s"winnow k=$k on '$s'")
    }
  }

  test("NormalizeText (strip + space modes) == Java-regex reference on fuzzed unicode") {
    import graft.functions.NormalizeText
    // The definitional model: the exact regex pipelines the kernel
    // replaced (NormalizeText scaladoc), run through Java's own regex
    // and toLowerCase — fully independent of the byte walk. After the
    // pipelines the alphabet is [a-z0-9 ], so String.trim == the
    // space-trim the Column twin performs.
    def ref(s: String, punctToSpace: Boolean): String =
      if (punctToSpace)
        s.toLowerCase.replaceAll("[^a-z0-9 ]", " ")
          .replaceAll(" +", " ").trim
      else
        s.toLowerCase.replaceAll("[^a-z0-9\\s]", "")
          .replaceAll("\\s+", " ").trim
    forAllSampled(spaceyText, 300) { s =>
      val u = UTF8String.fromString(s)
      for (mode <- Seq(false, true))
        assert(NormalizeText.normalize(u, mode).toString === ref(s, mode),
          s"mode=$mode on '$s'")
    }
  }

  test("Bpe.seed == a codepoint reference on fuzzed unicode") {
    // codepoint-level reference: one space before every UTF-32 char
    // plus a trailing space — the unit substring(w, i, 1) counts
    def ref(s: String): String =
      s.codePoints().toArray
        .map(cp => " " + new String(Character.toChars(cp))).mkString + " "
    forAllSampled(spaceyText, 300) { s =>
      // words never contain the split separator; drop plain spaces but
      // keep tabs/newlines (split(" ") leaves them inside words)
      val w = s.replace(" ", "")
      assert(graft.operators.Bpe.seed(w) === ref(w), s"on '$w'")
    }
  }

  // -- boilerplate removal ------------------------------------------

  test("dedupBoilerplate round-trips any corpus with no repeated span") {
    import spark.implicits._
    // Words carry their (doc, position) so no two spans can collide
    // across documents: removal must then be the identity.
    val wordCounts = samples(Gen.choose(1, 30), 40)
    val docs = wordCounts.zipWithIndex.map { case (n, d) =>
      (d.toLong, (0 until n).map(i => s"d${d}w$i").mkString(" "))
    }
    val out = graft.operators.Hygiene
      .dedupBoilerplate(docs.toDF("doc_id", "text"), minDocFreq = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    docs.foreach { case (d, text) =>
      assert(out(d) == ((text, 0L)), s"doc $d must round-trip")
    }
  }
}
