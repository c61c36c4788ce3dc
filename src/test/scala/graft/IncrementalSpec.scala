package graft

import graft.operators.Incremental

class IncrementalSpec extends SparkSpec {

  import spark.implicits._

  private def agg(rows: (String, Long, Long)*) =
    rows.toDF("grp", "n", "s")

  private def chg(rows: (Option[String], Option[Long], Option[String], Option[Long])*) =
    rows.toDF("bg", "bv", "ag", "av")

  private def run(base: org.apache.spark.sql.DataFrame,
      changes: org.apache.spark.sql.DataFrame) =
    Incremental.incrementalAgg(base, changes, "grp", "n", "s",
        "bg", "bv", "ag", "av")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap

  test("insert, delete, and migrating update maintain counts and sums") {
    val base = agg(("a", 2L, 100L), ("b", 1L, 50L))
    val out = run(base, chg(
      (None, None, Some("a"), Some(10L)),        // insert into a
      (Some("b"), Some(50L), None, None),        // delete b's only row
      (Some("a"), Some(40L), Some("c"), Some(40L)) // migrate a -> c
    ))
    assert(out == Map("a" -> ((2L, 70L)), "c" -> ((1L, 40L))))
    // b reached zero rows and is dropped, exactly like a recompute.
  }

  test("a multi-op chain on one key telescopes without a latest-op window") {
    // Row starts in a at value 10, is updated to b@12, then to c@15,
    // then deleted: the four contributions must net to -1 row from a.
    val base = agg(("a", 3L, 30L))
    val out = run(base, chg(
      (Some("a"), Some(10L), Some("b"), Some(12L)),
      (Some("b"), Some(12L), Some("c"), Some(15L)),
      (Some("c"), Some(15L), None, None)
    ))
    assert(out == Map("a" -> ((2L, 20L))))
  }

  test("empty changelog is the identity; result is layout-independent") {
    val base = agg(("a", 2L, 100L), ("b", 1L, 50L))
    val out = run(base, chg())
    assert(out == Map("a" -> ((2L, 100L)), "b" -> ((1L, 50L))))

    val changes = chg(
      (None, None, Some("x"), Some(7L)),
      (Some("a"), Some(60L), Some("b"), Some(60L)))
    assert(run(base, changes) == run(base.repartition(5), changes.repartition(3)))
  }
}
