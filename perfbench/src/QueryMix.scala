package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The `query_mix` workload: registry queries from `SparkEntry.queries`,
  * each run into the `noop` sink, over tables `gen_tables.py` wrote from
  * the seed. One fresh session runs one cold pass, then warm passes until
  * the window closes; the seed permutes the query order of every pass.
  */
object QueryMix {

  /** The queries of a pass: one per family, the cheapest of each in
    * Spark and in the DuckDB oracle the outputs are checked against. The
    * graph family is left out: `graph_bfs`, 2-2.7 s a pass, added over
    * 10 s to every run, more than a run can hold.
    */
  val Families: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("dedup_minhash"),
    "text" -> Seq("tfidf_topk"),
    "similarity" -> Seq("similarity_pq"),
    "kmeans" -> Seq("kmeans_assign"),
    "bpe" -> Seq("bpe_token_count"),
    "elb" -> Seq("elb_parse"),
    "streaming" -> Seq("streaming_sessions"),
    "driver" -> Seq("tpch_q1"))

  /** Families whose queries build session artifacts (memos) on first use. */
  val MemoFamilies: Seq[String] = Seq("dedup", "text", "similarity", "kmeans", "bpe")

  val Queries: Seq[String] = Families.flatMap(_._2)
  val FamilyOf: Map[String, String] = Families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap

  /** Warm passes a run measures even when they overrun the window: a
    * pass is short and overhead-bound, so its median needs more samples
    * than a batch's.
    */
  val MinWarmPasses = 4

  /** Traced warm passes; each is paired with an untraced one. */
  val TracedPasses = 2
}

/** One `query_mix` process: session, cold pass, warm passes, the output
  * dump the oracle check reads, and the report.
  */
final class QueryMixRun(seed: Long, seconds: Int, trace: Boolean, work: File,
    sfDir: String, launchEpochMs: Long, cores: Int) {
  import PerfBench._
  import QueryMix._

  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var failedOps = 0
  private val spark: SparkSession = session(work, cores)
  private val registry = SparkEntry.queries
  private val order = new scala.util.Random(seed)

  /** One query execution: its wall and, split, the time in the registry
    * function, forcing `executedPlan` (traced passes only) and the write.
    */
  final case class Exec(query: String, wall: Double, build: Double, plan: Double, exec: Double)

  private def runQuery(q: String, forcePlan: Boolean): Exec = {
    attempted += 1
    val t0 = System.nanoTime()
    var t1, t2 = t0
    try {
      val df = registry(q)(spark, sfDir)
      t1 = System.nanoTime()
      if (forcePlan) df.queryExecution.executedPlan
      t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
    } catch {
      case e: Exception =>
        failedOps += 1
        failures += s"$q: exception: $e"
    }
    val t3 = System.nanoTime()
    Exec(q, (t3 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
  }

  /** Runs every query once, in an order drawn from the seed. */
  private def pass(id: Int, tracer: Option[Tracer]): (Double, Seq[Exec]) = {
    val queries = order.shuffle(Queries)
    def all(): Seq[Exec] = queries.map { q =>
      tracer match {
        case Some(t) => t.span(q, id)(runQuery(q, forcePlan = true))
        case None => runQuery(q, forcePlan = false)
      }
    }
    val t0 = System.nanoTime()
    val execs = tracer match {
      case Some(t) => t.span("pass", id)(all())
      case None => all()
    }
    ((System.nanoTime() - t0) / 1e9, execs)
  }

  /** Writes each query's output and the oracle SQL for the check that
    * `run.py` makes with DuckDB after this process ends.
    */
  private def dumpOutputs(dir: File): Unit = {
    Queries.foreach { q =>
      try registry(q)(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(new File(dir, q).getPath)
      catch { case e: Exception => failures += s"$q: output dump: $e" }
    }
    val oracle = SparkEntry.oracleSql
    Files.write(new File(dir, "oracle_sql.json").toPath,
      json(Queries.map(q => q -> oracle.getOrElse(q, null)).toMap).getBytes("UTF-8"))
  }

  def execute(): Map[String, Any] = {
    val setupS = (System.currentTimeMillis() - launchEpochMs) / 1000.0
    val (coldWall, coldExecs) = pass(0, None)
    // untimed, the output dump also lets the JIT settle before the warm passes
    val out = new File(work, "query_outputs")
    val dumpStart = System.nanoTime()
    dumpOutputs(out)
    val dumpS = (System.nanoTime() - dumpStart) / 1e9
    val warmWalls = mutable.ArrayBuffer.empty[Double]
    val warmExecs = mutable.ArrayBuffer.empty[Exec]
    val traced = if (trace) Some(new TracedPasses(coldExecs)) else None
    val deadline = System.nanoTime() + seconds * 1000000000L
    var p = 1
    val minWarm = if (trace) TracedPasses else MinWarmPasses
    while (System.nanoTime() < deadline || warmWalls.size < minWarm) {
      if (trace && p % 2 == 0) traced.get.pass(p + 1000)
      val (w, execs) = pass(p, None)
      warmWalls += w
      warmExecs ++= execs
      if (trace && p % 2 == 1) traced.get.pass(p + 1000)
      p += 1
    }
    val calib1 = Seq(calib1t(), calib1t()).min
    calibMt(spark, cores)
    val calibM = Seq(calibMt(spark, cores), calibMt(spark, cores)).min
    val layer = traced.map(_.report(warmWalls.toSeq))
    spark.stop()
    val rss = vmHwmMb()

    val qWalls = warmExecs.map(_.wall).sorted.toSeq
    Map(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failedOps,
      "failures" -> failures.toSeq,
      "end_to_end" -> Map(
        "setup_s" -> setupS,
        "first_batch_s" -> coldWall,
        "batch_p50_s" -> median(warmWalls.toSeq),
        "peak_rss_mb" -> rss),
      "per_layer" -> layer.map(_._1).getOrElse(Map.empty),
      "spans" -> layer.map(_._2).getOrElse(Nil),
      "oracle_dir" -> out.getPath,
      "info" -> Map(
        "workload" -> "query_mix", "seed" -> seed, "cores" -> cores,
        "calib_1t" -> calib1, "calib_mt" -> calibM,
        "pass_cold_s" -> coldWall, "pass_warm_s" -> median(warmWalls.toSeq),
        "warm_pass_s" -> warmWalls.toSeq, "output_dump_s" -> dumpS,
        "query_p50_s" -> median(qWalls),
        "query_tail_s" -> tail(qWalls).getOrElse("fewer than 11 warm query executions"),
        "query_cold_s" -> coldExecs.map(e => e.query -> e.wall).toMap,
        "query_warm_p50_s" -> warmExecs.groupBy(_.query).map { case (q, es) =>
          q -> median(es.map(_.wall).toSeq) },
        "queries" -> Queries.size))
  }

  /** Traced warm passes: every query a span under its own job group,
    * nested in a span for the pass.
    */
  final class TracedPasses(cold: Seq[Exec]) {
    private val listener = new GroupListener
    private val tracer = new Tracer(spark.sparkContext, listener)
    private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    private val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]
    private val passWalls = mutable.ArrayBuffer.empty[Double]
    private val coldByFamily = cold.groupBy(e => FamilyOf(e.query)).map { case (f, es) => f -> es.map(_.wall).sum }

    def pass(id: Int): Unit = {
      spark.sparkContext.addSparkListener(listener)
      val (wall, execs) = QueryMixRun.this.pass(id, Some(tracer))
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      passWalls += wall
      val spans = tracer.spans.filter(_.batch == id)
      val m = mutable.LinkedHashMap.empty[String, Double]
      m ++= tracer.schedulerStats(spans.find(_.name == "pass").get, cores, epochOffsetNs)
      Families.foreach { case (f, qs) =>
        val fs = spans.filter(s => qs.contains(s.name))
        m(s"queries.$f.s") = fs.map(_.seconds).sum
        m(s"queries.$f.jobs") = fs.map(s => listener.get(s.group).jobs).sum.toDouble
      }
      MemoFamilies.foreach(f => m(s"queries.$f.artifact_build_s") = coldByFamily(f) - m(s"queries.$f.s"))
      m("queries.build_s") = execs.map(_.build).sum
      m("queries.plan_s") = execs.map(_.plan).sum
      m("queries.exec_s") = execs.map(_.exec).sum
      m("queries.span_s") = spans.filter(_.name != "pass").map(_.seconds).sum
      perPass += m.toMap
    }

    def report(untraced: Seq[Double]): (Map[String, Double], Seq[Map[String, Any]]) = {
      val keys = perPass.head.keySet - "queries.span_s"
      val layer = keys.map(k => k -> median(perPass.map(_(k)).toSeq)).toMap ++ Map(
        "trace.overhead_frac" -> (median(passWalls.toSeq) - median(untraced)) / median(untraced),
        "trace.coverage" -> median(perPass.map(_("queries.span_s")).toSeq) / median(untraced))
      val spans = tracer.spans.toSeq.map { s =>
        Map("name" -> s.name, "batch" -> s.batch, "parent" -> s.parent.orNull,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs, "seconds" -> s.seconds,
          "group" -> s.group, "family" -> FamilyOf.getOrElse(s.name, null)) ++
          tracer.schedulerStats(s, cores, epochOffsetNs)
      }
      (layer, spans)
    }
  }
}
