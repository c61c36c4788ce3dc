package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{Clustering, Dedup, TextAnalysis}

/** The session-artifact registry: one build per key, concurrent and
  * nested builds, failed builds, and [[Artifacts.clear]].
  */
class ArtifactsSpec extends SparkSpec {

  val sf = "/root/testdata/sf0.001"

  private def run(query: String): Unit =
    SparkEntry.queries(query)(spark, sf).write.format("noop").mode("overwrite").save()

  /** The built layout behind a key — fails if the key was never built. */
  private def built(kind: String, corpus: Any, dials: Any*): Artifacts.Layout =
    Artifacts.table(spark, kind, corpus, dials: _*)(_ => fail(s"$kind was not built"))

  test("planDigest of a parquet-scan corpus is the same in a new session") {
    // layouts are named from the key's md5, and the key starts with the
    // session UUID, so catalog names differ across sessions by design;
    // the corpus digest itself must not
    assert(Artifacts.planDigest(Tables.documents(spark.newSession(), sf)) ===
      Artifacts.planDigest(Tables.documents(spark, sf)))
  }

  test("clear drops every table, deletes every dir, forgets every value; the next call rebuilds") {
    val docs = Tables.documents(spark, sf)
    Dedup.shingleIndex(docs, "doc_id", "text", 5)
    TextAnalysis.tokenFrequencyIndex(docs, "doc_id", "text")
    Seq("market_basket", "pagerank", "triangle_count", "bucketed_join",
      "elb_pipeline", "elb_dsv2_parse", "format_roundtrip", "elb_hourly_geo")
      .foreach(run)
    // (kind, corpus, dials, catalog tables) of every layout kind
    val layouts = Seq[(String, Any, Seq[Any], Seq[String])](
      ("shingle_index", docs, Seq("doc_id", "text", 5), Seq("shidx")),
      ("token_index", docs.select("doc_id", "text"), Seq("doc_id", "text"), Seq("tokidx")),
      ("basket_index", sf, Nil, Seq("basket")),
      ("trade_edges", sf, Nil, Seq("edges")),
      ("copurchase_edges", sf, Nil, Nil),
      ("bucketed_join", sf, Nil, Seq("b_orders", "b_customer")),
      ("pipeline_stage", sf, Nil, Nil),
      ("dsv2_stage", sf, Nil, Nil),
      ("format_roundtrip", sf, Nil, Nil),
      ("geo_cache", sf, Nil, Nil)
    ).map { case (kind, corpus, dials, parts) =>
      val layout = built(kind, corpus, dials: _*)
      (kind, layout.dir, parts.map(layout.name))
    }
    layouts.foreach { case (kind, dir, tables) =>
      assert(new java.io.File(dir).isDirectory, s"$kind dir must exist before clear")
      tables.foreach(t => assert(spark.catalog.tableExists(t), s"$kind table $t"))
    }
    assert(Artifacts.count("parquet_schema") > 0)

    Artifacts.clear(spark)

    layouts.foreach { case (kind, dir, tables) =>
      assert(!new java.io.File(dir).exists, s"$kind dir $dir must be deleted")
      tables.foreach(t => assert(!spark.catalog.tableExists(t), s"$kind table $t must be dropped"))
      assert(Artifacts.count(kind) == 0, kind)
    }
    assert(Artifacts.count("parquet_schema") == 0)

    run("bucketed_join")
    assert(Artifacts.count("bucketed_join") == 1, "the next call must rebuild")
    assert(Artifacts.count("parquet_schema") == 2, "orders and customer schemas re-inferred")
    val rebuilt = built("bucketed_join", sf)
    assert(new java.io.File(rebuilt.dir).isDirectory)
    assert(spark.catalog.tableExists(rebuilt.name("b_orders")))
  }

  test("trained driver state is built once per corpus") {
    val embeddings = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    val cases = Seq[(String, () => Unit)](
      "centroids" -> (() => Clustering.lloydCentroids(embeddings, "vec_id", "embedding", 4, 2)),
      "pq_codebook" -> (() => run("similarity_pq")),
      "md5_centroids" -> (() => run("similarity_ivf")),
      "bpe_merges" -> (() => run("bpe_token_count")))
    Artifacts.clear(spark)
    cases.foreach { case (kind, call) =>
      call()
      val first = Artifacts.count(kind)
      assert(first >= 1, s"$kind must be built on first use")
      call()
      assert(Artifacts.count(kind) == first, s"$kind must be reused, not rebuilt")
    }
  }

  test("eight concurrent requests for one key build it once") {
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map(_ => pool.submit(() => {
        start.await()
        Artifacts.state(spark, "spec_concurrent", "corpus", 1) {
          builds.incrementAndGet()
          Thread.sleep(200)
          new Object
        }
      }))
      start.countDown()
      val values = results.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(values.distinct.size == 1, "every caller sees the one built value")
      assert(Artifacts.count("spec_concurrent") == 1)
    } finally pool.shutdown()
  }

  test("a build may request another artifact from inside its closure") {
    // the layout builds that call Tables.load, whose schema is itself
    // an artifact
    val layout = Artifacts.table(spark, "spec_outer", "corpus") { l =>
      val inner = Artifacts.state(spark, "spec_inner", "corpus")(41) + 1
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(l.dir, "inner"), inner.toString)
    }
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(layout.dir, "inner")) == "42")
    assert(Artifacts.count("spec_outer") == 1)
    assert(Artifacts.count("spec_inner") == 1)
  }

  test("a build that throws leaves no entry and the next call retries") {
    val builds = new AtomicInteger()
    def get(): Int = Artifacts.state(spark, "spec_failing", "corpus") {
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("boom")
      7
    }
    val e = intercept[IllegalStateException](get())
    assert(e.getMessage == "boom")
    assert(Artifacts.count("spec_failing") == 0, "a failed build must not be recorded")
    assert(get() == 7)
    assert(get() == 7)
    assert(builds.get == 2, "one failed build, one retry, then reuse")
    assert(Artifacts.count("spec_failing") == 1)

    var dir = ""
    intercept[IllegalStateException](
      Artifacts.table(spark, "spec_failing_layout", "corpus") { l =>
        dir = l.dir
        throw new IllegalStateException("boom")
      })
    assert(dir.nonEmpty && !new java.io.File(dir).exists, "a failed layout leaves no dir")
    assert(Artifacts.count("spec_failing_layout") == 0)
  }
}
