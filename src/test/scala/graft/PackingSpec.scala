package graft

import graft.operators.Packing

class PackingSpec extends SparkSpec {
  import spark.implicits._

  test("global offsets equal the sequential prefix sum, any partitioning") {
    val rows = Seq.tabulate(200)(i => (i.toLong, (i % 37 + 1).toLong))
    val df = rows.toDF("id", "w").repartition(7) // scrambled layout
    val got = Packing.globalOffsets(df, "id", "w")
      .select("id", "start_offset").as[(Long, Long)].collect().toMap
    var acc = 0L
    rows.foreach { case (id, w) =>
      assert(got(id) === acc, s"offset of id=$id")
      acc += w
    }
  }

  test("pack assignment splits exactly at the budget boundary") {
    // weights 300, 300: doc 1 straddles packs 0/1 (starts at 300, ends 599)
    val df = Seq((0L, 300L), (1L, 300L), (2L, 12L)).toDF("id", "w")
    val out = Packing.packAssignments(df, "id", "w", budget = 512)
      .select("id", "start_offset", "start_pack", "end_pack", "n_packs")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out(0) === ((0L, 0L, 0L, 0L, 1L)))
    assert(out(1) === ((1L, 300L, 0L, 1L, 2L)))   // straddles
    assert(out(2) === ((2L, 600L, 1L, 1L, 1L)))
  }

  test("chunking covers every char window with the last chunk truncated") {
    val text = "abcdefghij" * 5 // 50 chars
    val df = Seq((1L, text), (2L, "short")).toDF("id", "text")
    val chunks = Packing.chunk(df, "id", "text", size = 20, stride = 15)
      .select("id", "chunk_idx", "chunk_len", "chunk")
      .as[(Long, Int, Int, String)].collect()
    val doc1 = chunks.filter(_._1 == 1L).sortBy(_._2)
    // 50 chars: starts 0,15,30 → 1 + ceil(30/15) = 3 chunks; last is 20
    assert(doc1.map(_._2).toSeq === Seq(0, 1, 2))
    assert(doc1.map(_._3).toSeq === Seq(20, 20, 20))
    // the operator returns the chunk TEXT (what an embedder consumes)
    val exp = Seq(0, 1, 2).map { i =>
      text.substring(i * 15, math.min(i * 15 + 20, text.length))
    }
    assert(doc1.map(_._4).toSeq === exp)
    val doc2 = chunks.filter(_._1 == 2L)
    assert(doc2.length === 1 && doc2.head._3 === 5 && doc2.head._4 === "short")
  }

  test("global offsets share ONE range exchange (reuse) — and survive reuse off") {
    // the two-branch prefix-sum is only correct if both branches see the
    // same range boundaries: with exchange reuse the physical plan must
    // carry a ReusedExchange/ReusedQueryStage; with reuse disabled the
    // operator pins the slices by persisting them instead
    val df = Seq.tabulate(100)(i => (i.toLong, (i % 11 + 1).toLong))
      .toDF("id", "w").repartition(5)
    val res = Packing.globalOffsets(df, "id", "w")
    res.collect() // AQE dedupes canonically-equal stages at RUNTIME
    val plan = res.queryExecution.executedPlan.toString
    val rangeExchanges =
      "Exchange rangepartitioning".r.findAllIn(plan).length
    assert(rangeExchanges <= 1 || plan.contains("ReusedExchange")
        || plan.contains("ReusedQueryStage"),
      s"expected ONE shared range exchange, saw $rangeExchanges in:\n$plan")

    val prev = spark.conf.get("spark.sql.exchange.reuse", "true")
    try {
      spark.conf.set("spark.sql.exchange.reuse", "false")
      val got = Packing.globalOffsets(df, "id", "w")
        .select("id", "start_offset").as[(Long, Long)].collect().toMap
      var acc = 0L
      (0 until 100).foreach { i =>
        assert(got(i.toLong) === acc, s"offset of id=$i with reuse off")
        acc += (i % 11 + 1)
      }
    } finally spark.conf.set("spark.sql.exchange.reuse", prev)
  }
}
