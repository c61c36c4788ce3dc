package graft

import graft.operators.DataQuality._

class DataQualitySpec extends SparkSpec {
  import spark.implicits._

  // Hand-countable fixture: 6 rows with known defects.
  //   id: null once, duplicated once (value 2 appears twice)
  //   v : one below range, one above range, one null (null must NOT violate range)
  //   kind: one value outside the allowed set, one null (null must NOT violate set)
  //   js: one non-{} string, one null (null must NOT violate pattern)
  lazy val fixture = Seq(
    (Option(1L), Option(5.0), Option("a"), Option("{}")),
    (Option(2L), Option(-1.0), Option("b"), Option("{\"k\":1}")),
    (Option(2L), Option(99.0), Option("zzz"), Option("nope")),
    (None: Option[Long], Option(50.0), None: Option[String], None: Option[String]),
    (Option(3L), None: Option[Double], Option("a"), Option("{}")),
    (Option(4L), Option(10.0), Option("b"), Option("{}"))
  ).toDF("id", "v", "kind", "js")

  test("report: one row per check, exact hand-counted violations, passed flag") {
    val r = report(fixture, Seq(
      complete("id"),
      unique("id"),
      inRange("v", 0.0, 90.0),
      inSet("kind", Seq("a", "b")),
      matches("js", "^\\{.*\\}$")))
    val m = r.as[(String, Long, Boolean)].collect()
      .map { case (n, viol, p) => n -> ((viol, p)) }.toMap
    assert(m.size === 5)
    assert(m("complete_id") === ((1L, false)))   // one null id
    assert(m("unique_id") === ((1L, false)))     // id=2 twice -> 1 extra
    assert(m("range_v") === ((2L, false)))       // -1.0 and 99.0; null v ignored
    assert(m("set_kind") === ((1L, false)))      // "zzz"; null kind ignored
    assert(m("pattern_js") === ((1L, false)))    // "nope"; null js ignored
  }

  test("report: clean column passes with zero violations") {
    val r = report(fixture.where($"id".isNotNull), Seq(unique("v")))
    val (name, viol, passed) = r.as[(String, Long, Boolean)].head()
    assert(name === "unique_v" && viol === 0L && passed)
  }

  test("report compiles the whole suite into a single aggregate over one scan") {
    val r = report(fixture, Seq(complete("id"), unique("id"), inRange("v", 0, 1)))
    val plan = r.queryExecution.executedPlan.toString
    // one scan of the input, not one per check
    assert("LocalTableScan|Scan ExistingRDD".r.findAllIn(plan).size <= 1, plan)
  }

  test("refIntegrity counts orphan fact keys via anti-join; clean dims pass") {
    val fact = Seq(10L, 11L, 11L, 12L, 13L).toDF("fk")
    val dim = Seq(10L, 11L, 13L, 14L).toDF("pk")
    val bad = refIntegrity("ri", fact, "fk", dim, "pk")
      .as[(String, Long, Boolean)].head()
    assert(bad === (("ri", 1L, false)))          // only fk=12 is orphaned
    val ok = refIntegrity("ri", fact.where($"fk" =!= 12L), "fk", dim, "pk")
      .as[(String, Long, Boolean)].head()
    assert(ok === (("ri", 0L, true)))
  }
}
