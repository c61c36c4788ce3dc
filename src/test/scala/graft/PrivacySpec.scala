package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.NfcNormalize
import graft.operators.{Hygiene, Privacy}

class PrivacySpec extends SparkSpec {

  import spark.implicits._

  // ---------------------------------------------------------------- NFC

  test("NfcNormalize composes decomposed sequences and is ASCII-identity") {
    // e + combining acute -> é; A + combining ring -> Å
    val decomposed = "Café Ångström"
    val composed = "Café Ångström"
    val out = Seq(decomposed).toDF("s")
      .select(NfcNormalize.nfc_normalize(col("s")).as("n"))
      .head().getString(0)
    assert(out == composed)

    // ASCII fast path: the exact same UTF8String instance comes back —
    // no decode/copy for the dominant case.
    val ascii = UTF8String.fromString("plain ascii text")
    assert(NfcNormalize.nfc(ascii) eq ascii)
    // Already-NFC non-ASCII: no reallocation either.
    val nfcAlready = UTF8String.fromString(composed)
    assert(NfcNormalize.nfc(nfcAlready) eq nfcAlready)

    // Null propagates (UnaryExpression default null-intolerance).
    val n = Seq[Option[String]](None).toDF("s")
      .select(NfcNormalize.nfc_normalize(col("s")).as("n"))
      .head()
    assert(n.isNullAt(0))
  }

  test("normalizeText collapses whitespace, lowercases, trims") {
    val out = Seq("  Å  b\t\tC\nd ").toDF("s")
      .select(Hygiene.normalizeText(col("s")).as("n"))
      .head().getString(0)
    assert(out == "å b c d")
  }

  // ---------------------------------------------- boilerplate removal

  private val boiler = "b1 b2 b3 b4 b5 b6 b7 b8" // one full 8-word chunk

  test("dedupBoilerplate drops cross-document chunks, keeps order and tails") {
    val docs = Seq(
      // boilerplate prefix + 9 unique words -> chunks: [boiler][u1..u8][u9]
      (1L, s"$boiler a1 a2 a3 a4 a5 a6 a7 a8 a9"),
      (2L, s"$boiler c1 c2 c3 c4 c5 c6 c7 c8"),
      (3L, boiler), // fully boilerplate -> empty text survives as a row
      (4L, "solo words only here")
    ).toDF("doc_id", "text")

    val out = Hygiene.dedupBoilerplate(docs, minDocFreq = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap

    assert(out(1L) == (("a1 a2 a3 a4 a5 a6 a7 a8 a9", 2L, 1L)))
    assert(out(2L) == (("c1 c2 c3 c4 c5 c6 c7 c8", 1L, 1L)))
    assert(out(3L) == (("", 0L, 1L)))
    assert(out(4L) == (("solo words only here", 1L, 0L)))
  }

  test("dedupBoilerplate keeps a NULL-text document as an empty row") {
    val docs = Seq((1L, Some("a b c")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val out = Hygiene.dedupBoilerplate(docs, minDocFreq = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == Set(1L, 2L)) // one row per input document
    assert(out(2L) == "")
  }

  test("dedupBoilerplate round-trips untouched docs exactly") {
    // No cross-doc repetition: reassembly must be byte-identical, even
    // with a trailing partial chunk.
    val docs = Seq(
      (1L, (1 to 19).map(i => s"w$i").mkString(" ")),
      (2L, "x")
    ).toDF("doc_id", "text")
    val out = Hygiene.dedupBoilerplate(docs, minDocFreq = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == (1 to 19).map(i => s"w$i").mkString(" "))
    assert(out(2L) == "x")
  }

  // ------------------------------------------------------- k-anonymity

  test("kAnonymity histograms class sizes; rows are conserved") {
    val df = Seq(
      ("a", 1), ("a", 1), ("a", 1), // class of 3
      ("b", 1), ("b", 1),           // class of 2
      ("c", 2)                      // class of 1
    ).toDF("seg", "nat")
    val out = Privacy.kAnonymity(df, Seq(col("seg"), col("nat")), k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(out(3L) == ((1L, 3L, 1)))
    assert(out(2L) == ((1L, 2L, 0)))
    assert(out(1L) == ((1L, 1L, 0)))
    assert(out.values.map(_._2).sum == df.count())
  }

  test("lDiversity flags homogeneous classes that kAnonymity passes") {
    val df = Seq(
      // class (a, 1): 3 rows, ALL the same sensitive value 50 — the
      // homogeneity attack: k-anonymous at k=3, l-diverse only at l=1
      ("a", 1, 50), ("a", 1, 50), ("a", 1, 50),
      // class (b, 1): 3 rows, 3 distinct sensitive values
      ("b", 1, 10), ("b", 1, 20), ("b", 1, 30),
      // class (c, 2): 2 rows, 2 distinct values
      ("c", 2, 10), ("c", 2, 99)
    ).toDF("seg", "nat", "sv")
    val out = Privacy.lDiversity(df, Seq(col("seg"), col("nat")),
        col("sv"), l = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(out(1L) == ((1L, 3L, 0)), "homogeneous class must fail")
    assert(out(3L) == ((1L, 3L, 1)), "3-distinct class passes at l=3")
    assert(out(2L) == ((1L, 2L, 0)), "2-distinct class fails at l=3")
    assert(out.values.map(_._2).sum == df.count(), "rows conserved")
  }

  // ------------------------------------------------------ t-closeness

  test("tCloseness matches the hand-computed ordered EMD") {
    // global over sv {10, 20, 30}: counts 5/2/2, N = 9
    //   cumulative micro: 555555, 777777, 1000000
    // class A (6 rows, 2/2/2): cum micro 333333, 666666, 1000000
    //   EMD = (|333333-555555| + |666666-777777| + 0) / 2 = 166666
    // class B (3 rows, all sv 10 — misses 20 and 30 entirely, so the
    // grid must carry its FLAT cumulative through both): 1e6 at every
    // point -> EMD = (444445 + 222223 + 0) / 2 = 333334
    val df = (Seq.fill(2)(("a", 10)) ++ Seq.fill(2)(("a", 20)) ++
      Seq.fill(2)(("a", 30)) ++ Seq.fill(3)(("b", 10))).toDF("seg", "sv")
    val out = Privacy.tCloseness(df, Seq(col("seg")), col("sv"),
        tMicro = 200000L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(out("a") == ((6L, 166666L, 1)), s"class a: ${out("a")}")
    assert(out("b") == ((3L, 333334L, 0)), s"class b: ${out("b")}")
  }

  test("tCloseness is zero for classes matching the global distribution") {
    // two classes with identical distributions -> global equals both
    val df = Seq(("a", 1), ("a", 2), ("a", 3), ("b", 1), ("b", 2), ("b", 3))
      .toDF("seg", "sv")
    val out = Privacy.tCloseness(df, Seq(col("seg")), col("sv"), 200000L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out == Map("a" -> 0L, "b" -> 0L))
  }

  test("tCloseness is layout-independent") {
    val df = (0 until 300)
      .map(i => (s"c${i % 7}", (i * 37) % 5, i))
      .toDF("seg", "sv", "row")
    val a = Privacy.tCloseness(df, Seq(col("seg")), col("sv"), 100000L)
      .collect().toSet
    val b = Privacy.tCloseness(df.repartition(13, col("row")),
        Seq(col("seg")), col("sv"), 100000L)
      .collect().toSet
    assert(a == b)
  }

  // ------------------------------------------------------ DP mechanism

  test("twoSidedGeometric matches an independent md5 reference, bounded") {
    def refDraw(salt: String, key: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$salt:$key".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(5)
      val u = java.lang.Long.parseLong(hex, 16) + 1
      math.max(20 - java.lang.Long.toBinaryString(u).length, 0).toLong
    }
    val keys = (0 until 500).map(i => s"k$i")
    val got = keys.toDF("k")
      .select(col("k"), Privacy.twoSidedGeometric(col("k"), "s").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    keys.foreach { k =>
      val expected = refDraw("sA", k) - refDraw("sB", k)
      assert(got(k) == expected, s"key $k")
      assert(math.abs(got(k)) <= 20)
    }
    // Two-sided symmetry: the empirical mean over 500 keys sits near 0
    // (each draw is ± difference of two geometric(1/2) variables,
    // variance 4, so |mean| < 0.5 holds with overwhelming margin).
    val mean = got.values.sum.toDouble / got.size
    assert(math.abs(mean) < 0.5, s"mean $mean")
  }

  test("dpNoisyCount is layout-independent and clamps at zero") {
    val df = (0 until 100).map(i => (s"t${i % 3}", i)).toDF("g", "v")
    val a = Privacy.dpNoisyCount(df, "g", "x").collect().toSet
    val b = Privacy.dpNoisyCount(df.repartition(7, col("v")), "g", "x")
      .collect().toSet
    assert(a == b)
    a.foreach { r =>
      assert(r.getLong(r.fieldIndex("noisy_count")) >= 0L)
      assert(r.getLong(r.fieldIndex("noisy_count")) ==
        math.max(r.getLong(r.fieldIndex("true_count")) +
          r.getLong(r.fieldIndex("noise")), 0L))
    }
  }

  // ---------------------------------------------------- pseudonymize

  test("piiAnonymize suppresses exactly the sub-k classes; stable pseudonyms") {
    val rows = (0 until 12).map(i => (i.toLong, s"name$i", 1234.5 + i, 7, "BIG")) ++
      Seq((100L, "rare", -50.0, 9, "SMALL"))
    val df = rows.toDF("id", "name", "bal", "nat", "seg")
    val out = Privacy.piiAnonymize(df, "id", "name", "bal",
        Seq("nat", "seg"), salt = "s", bandWidth = 1000, k = 10)
      .collect().map(r => r.getLong(0) -> r).toMap

    val big = out(0L)
    assert(big.getInt(big.fieldIndex("nat")) == 7) // class of 12 kept
    val rare = out(100L)
    assert(rare.isNullAt(rare.fieldIndex("nat"))) // class of 1 suppressed
    assert(rare.isNullAt(rare.fieldIndex("seg")))
    assert(rare.getLong(rare.fieldIndex("bal_band")) == -1000L)
    assert(big.getLong(big.fieldIndex("bal_band")) == 1000L)

    // Pseudonym: 12 hex chars, deterministic, distinct per name.
    val ps = out.values.map(r => r.getString(r.fieldIndex("pseudonym"))).toSeq
    assert(ps.forall(_.matches("[0-9a-f]{12}")))
    assert(ps.distinct.size == ps.size)
    val again = Privacy.piiAnonymize(df, "id", "name", "bal",
        Seq("nat", "seg"), salt = "s", bandWidth = 1000, k = 10)
      .collect().map(r => r.getString(1)).toSet
    assert(again == ps.toSet)
  }

  // ------------------------------------------------------ DP quantile

  test("dpQuantile replays the exponential-mechanism argmax bit-for-bit") {
    // driver-side reference of the full mechanism on a small table
    def ilog2(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
    def draw(salt: String, v: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$salt:$v".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val values = Seq.fill(30)(2L) ++ Seq.fill(10)(5L) ++ Seq.fill(5)(9L)
    val n = values.size.toLong
    val dist = values.groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.sortBy(_._1)
    val expected = dist.scanLeft((0L, 0L, 0L)) {
      case ((_, cum, _), (v, c)) => (v, cum + c, cum)
    }.drop(1).map { case (v, upTo, below) =>
      val u2 = -math.max(0L, math.max(n - 2L * upTo, 2L * below - n))
      val r = draw("s", v)
      val z = math.max(59L - ilog2(r + 1), 0L)
      val g = 20L - ilog2(z * 1048576L + (r % 1048576L) + 1L)
      (v, u2, 2L * u2 + 2L * g, r)
    }.minBy { case (v, _, score, r) => (-score, r, v) }

    val got = Privacy.dpQuantile(values.toDF("x"), col("x"), 1L, 2L, "s")
      .head()
    assert(got.getLong(0) == expected._1, s"value: $got vs $expected")
    assert(got.getLong(1) == n)
    assert(got.getLong(2) == expected._2, "utility")
    assert(got.getLong(3) == expected._3, "score")
  }

  test("dpQuantile: overwhelming utility dominates the quantized noise") {
    // 100k-row mass at one value: |U| gaps are thousands of bits while
    // the Gumbel term spans [-6, 20] x qDen — every salt picks the
    // true median value
    val df = (Seq.fill(1000)(7L) ++ Seq(1L, 2L, 99L)).toDF("x")
    Seq("a", "b", "c", "d").foreach { salt =>
      val v = Privacy.dpQuantile(df, col("x"), 1L, 2L, salt).head().getLong(0)
      assert(v == 7L, s"salt $salt picked $v")
    }
  }

  test("dpQuantile is layout-independent") {
    val df = (0 until 500).map(i => (i * 31 % 13).toLong).toDF("x")
    val a = Privacy.dpQuantile(df, col("x"), 1L, 2L, "s").collect().toSeq
    val b = Privacy.dpQuantile(df.repartition(11), col("x"), 1L, 2L, "s")
      .collect().toSeq
    assert(a == b)
  }

  test("tCloseness matches a brute-force driver-side EMD on random tables") {
    val rnd = new scala.util.Random(1414)
    (1 to 10).foreach { trial =>
      val rows = (0 until 60 + rnd.nextInt(200)).map { _ =>
        (s"c${rnd.nextInt(5)}", rnd.nextInt(7))
      }
      // driver-side reference: micro-quantized cumulative EMD per class
      val svs = rows.map(_._2).distinct.sorted
      val n = rows.size.toLong
      def cum(xs: Seq[Int]): Seq[Long] =
        svs.map(v => xs.count(_ <= v).toLong)
      val gcum = cum(rows.map(_._2))
      val expected = rows.groupBy(_._1).map { case (k, rs) =>
        val nc = rs.size.toLong
        val ccum = cum(rs.map(_._2))
        val terms = ccum.zip(gcum).map { case (c, g) =>
          math.abs(c * 1000000L / nc - g * 1000000L / n)
        }
        val emd = if (svs.size > 1) terms.sum / (svs.size - 1) else 0L
        k -> ((nc, emd))
      }
      val got = Privacy.tCloseness(rows.toDF("k", "sv"),
          Seq(col("k")), col("sv"), 200000L)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == expected, s"trial $trial: $got vs $expected")
    }
  }
}
