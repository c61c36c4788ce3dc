package graft

/** No query changes the session it runs in: the confs and the extra
  * optimizer rules read the same before and after each query that once
  * set one — the first `events` reader, the SQL query over the custom
  * functions, and the streaming runners. Otherwise a query's plan
  * would depend on which queries ran before it.
  */
class SessionSetupSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  Seq("ab_test", "sql_vocab_topk", "streaming_ann", "streaming_sessions",
      "streaming_session_ids", "streaming_geo_cache").foreach { name =>
    test(s"$name leaves the session set-up as it found it") {
      val before = GraftSession.setup(spark)
      SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save()
      val drift = GraftSession.drift(before, GraftSession.setup(spark))
      assert(drift.isEmpty, s"$name changed the session:\n  ${drift.mkString("\n  ")}")
    }
  }
}
