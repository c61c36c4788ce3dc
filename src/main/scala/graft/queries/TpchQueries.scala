package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** The complete TPC-H suite — all 22 queries — through the pure-SQL
  * entry path: the standard OLAP credibility check for any engine
  * claiming the reference's analytics surface and beyond. The five
  * partsupp-dependent queries (Q2/Q9/Q11/Q16/Q20) run against a
  * partsupp stand-in derived from distinct lineitem (part, supplier)
  * pairs — every spec plan shape (correlated MIN, profit rollup,
  * group-vs-global HAVING, NOT-IN distinct-count, nested correlated
  * scalar) is preserved; see each query's Scaladoc.
  *
  * The SQL is written in the dialect intersection of Spark and DuckDB,
  * so the ENGINE AND THE ORACLE RUN THE SAME STRING — the strongest
  * possible equivalence statement. Money arithmetic goes through
  * DECIMAL casts before multiplication (l_discount is a 2-decimal
  * value stored as an inexact DOUBLE; decimal products and sums are
  * exact and engine-independent, where double sums are
  * summation-order-dependent), and every aggregate is CAST to DOUBLE
  * from the same exact decimal on both sides. Averages derive from the
  * exact sums. Q3's LIMIT is made deterministic by a total tie-break
  * (revenue, orderdate, orderkey).
  *
  * Plan shape: Q1 is one hash-aggregate over a pushed-down scan; Q3
  * and Q5 broadcast the small dimension sides at these SFs and plan
  * shuffled hash joins at scale — the join keys are all equi, so AQE
  * picks per-stage.
  */
object TpchQueries {

  private def registerViews(spark: SparkSession, sfDir: String): Unit = {
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("lineitem")
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders")
    Tables.customer(spark, sfDir).createOrReplaceTempView("customer")
    Tables.supplier(spark, sfDir).createOrReplaceTempView("supplier")
    Tables.nation(spark, sfDir).createOrReplaceTempView("nation")
    Tables.region(spark, sfDir).createOrReplaceTempView("region")
    Tables.part(spark, sfDir).createOrReplaceTempView("part")
  }

  private val Q1 =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |    * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |    * (1 - CAST(l_discount AS DECIMAL(12,2)))
      |    * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
      |  CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_disc,
      |  CAST(count(*) AS BIGINT) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  private val Q3 =
    """SELECT l_orderkey,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |    * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
      |  o_orderdate
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderdate, l_orderkey
      |LIMIT 10""".stripMargin

  private val Q5 =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |    * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name""".stripMargin

  /** Q13 customer distribution — the outer-join shape Q1/Q3/Q5 don't
    * exercise: a LEFT OUTER join whose filter lives in the ON clause
    * (so orderless customers survive with count 0), aggregated twice
    * (per-customer count, then distribution of counts). The reference
    * TPC-H predicate is on o_comment, which the synthetic tables don't
    * carry; the NOT LIKE lands on o_orderpriority instead — same
    * shape, same NULL-group semantics. count(o_orderkey) (not
    * count(*)) is what makes the no-order group count 0.
    */
  private val Q13 =
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      |FROM (
      |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey
      |    AND o_orderpriority NOT LIKE '%URGENT%'
      |  GROUP BY c_custkey
      |) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Q18 large-volume customer — the correlated-semi shape: an IN
    * subquery over an AGGREGATE (orders whose total lineitem quantity
    * exceeds 300), rejoined to customer/orders/lineitem for the
    * per-order report. Spark plans the IN as a left-semi hash join on
    * the aggregated subquery — at scale the semi side is tiny (the
    * HAVING keeps only outlier orders), so it broadcasts and the big
    * lineitem scan never reshuffles for it. Quantity sums go through
    * DECIMAL like Q1; o_totalprice passes through unmodified (no
    * arithmetic → bit-identical on both engines); ORDER BY carries a
    * total tie-break.
    */
  private val Q18 =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM customer, orders, lineitem
      |WHERE o_orderkey IN (
      |    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      |    HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 300)
      |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
      |LIMIT 100""".stripMargin

  /** Q6 forecasting-revenue-change — the pure pushdown query: every
    * predicate (date range, discount band, quantity cap) reaches the
    * parquet scan, and the single global aggregate is two-phase. At
    * 100 TB this is the query where scan pruning IS the runtime.
    */
  private val Q6 =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |  * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24""".stripMargin

  /** Q10 returned-item reporting — the 4-table join with a selective
    * fact filter (one quarter, returnflag 'R') and a top-N over a
    * grouped revenue sum. The synthetic customer table carries no
    * address/phone/comment columns, so the report keys are
    * (custkey, name, acctbal, nation) — same join tree and
    * aggregation shape. ORDER BY carries a total tie-break.
    */
  private val Q10 =
    """SELECT c_custkey, c_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |    * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
      |  c_acctbal, n_name
      |FROM customer, orders, lineitem, nation
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_returnflag = 'R'
      |  AND c_nationkey = n_nationkey
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** Q4 order-priority checking — the EXISTS semi-join shape: count
    * orders that have at least one returned lineitem. The reference
    * predicate (l_commitdate < l_receiptdate) uses columns the
    * synthetic lineitem doesn't carry; l_returnflag = 'R' stands in —
    * same plan (filter inside the subquery, left-semi hash join on
    * orderkey, then a tiny group-count). At scale the semi probe rides
    * lineitem's existing orderkey distribution; no new wide shuffle.
    */
  private val Q4 =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      |  AND EXISTS (
      |    SELECT * FROM lineitem
      |    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Q7 volume shipping — the self-joined dimension shape: nation
    * appears TWICE (supplier side and customer side) with a symmetric
    * pair predicate, grouped by year. Both nation copies broadcast;
    * the fact tables join on their natural keys only. year() is cast
    * to INT because Spark's year() is int32 and DuckDB's is int64.
    */
  private val Q7 =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(sum(volume) AS DOUBLE) AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(year(l_shipdate) AS INT) AS l_year,
      |    CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (1 - CAST(l_discount AS DECIMAL(12,2))) AS volume
      |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
      |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      |    AND c_custkey = o_custkey
      |    AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
      |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |) shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** Q8 national market share — the widest join tree in the suite
    * (7 tables, nation twice, region gate on the CUSTOMER side while
    * the reported nation is the SUPPLIER side) plus a conditional-sum
    * ratio per year. Numerator uses CASE WHEN ... THEN volume END
    * (ELSE NULL) so the summed type is the exact decimal on both
    * engines; the division happens on already-exact DOUBLE casts.
    */
  private val Q8 =
    """SELECT o_year,
      |  CAST(sum(CASE WHEN nation = 'NATION_7' THEN volume END) AS DOUBLE)
      |    / CAST(sum(volume) AS DOUBLE) AS mkt_share
      |FROM (
      |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (1 - CAST(l_discount AS DECIMAL(12,2))) AS volume,
      |    n2.n_name AS nation
      |  FROM part, lineitem, orders, customer, supplier, nation n1, nation n2, region
      |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
      |    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
      |    AND r_name = 'EUROPE' AND s_nationkey = n2.n_nationkey
      |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |    AND p_type = 'ECONOMY'
      |) all_nations
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  /** Q12 shipping-mode priority — the conditional two-counter shape:
    * one fact join, two CASE-counted columns per group. The synthetic
    * lineitem has no l_shipmode/commit/receipt dates, so the group key
    * is l_returnflag and the "late" predicate is the priority class —
    * identical plan (join + single hash-agg with two conditional sums).
    */
  private val Q12 =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
      |    OR o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
      |    AND o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS low_line_count
      |FROM orders, lineitem
      |WHERE o_orderkey = l_orderkey
      |  AND l_returnflag IN ('A', 'R')
      |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Q14 promotion effect — the global conditional-ratio shape: one
    * part join, one scalar output. volume is computed once as exact
    * decimal in the subquery; the promo branch sums THEN volume
    * (ELSE NULL) so both sums stay in the same exact type.
    */
  private val Q14 =
    """SELECT CAST(100.00
      |  * CAST(sum(CASE WHEN p_type = 'PROMO' THEN volume END) AS DOUBLE)
      |  / CAST(sum(volume) AS DOUBLE) AS DOUBLE) AS promo_revenue
      |FROM (
      |  SELECT p_type,
      |    CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (1 - CAST(l_discount AS DECIMAL(12,2))) AS volume
      |  FROM lineitem, part
      |  WHERE l_partkey = p_partkey
      |    AND l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
      |) pl""".stripMargin

  /** Q17 small-quantity-order revenue — the correlated SCALAR subquery
    * shape: each lineitem row compares against 0.2 × the avg quantity
    * of ITS part. Spark decorrelates this into an aggregate + self-join
    * on partkey. Determinism note: l_quantity is integral (pinned by
    * the data survey), so sum is FP-exact, avg is the correctly-rounded
    * quotient, and 0.2*avg is one more correctly-rounded product —
    * bit-identical on both engines, so the < threshold never flips.
    * p_container doesn't exist in the synthetic part; p_size < 15
    * plays the second filter.
    */
  private val Q17 =
    """SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
      |  / 7.0 AS DOUBLE) AS avg_yearly
      |FROM lineitem l1, part
      |WHERE p_partkey = l1.l_partkey
      |  AND p_brand = 'Brand#2' AND p_size < 15
      |  AND l1.l_quantity < (
      |    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
      |    WHERE l2.l_partkey = l1.l_partkey)""".stripMargin

  /** Q19 discounted revenue — the disjunctive-predicate join: three
    * OR-branches each repeating the equi key with different brand/
    * size/quantity bands. Catalyst's CNF extraction must lift the
    * common p_partkey = l_partkey out of the OR so the join stays
    * hash (the plan-gate test rejects a cartesian); the residual
    * disjunction evaluates post-join.
    */
  private val Q19 =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |    * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM lineitem, part
      |WHERE (p_partkey = l_partkey AND p_brand = 'Brand#12'
      |    AND p_size BETWEEN 1 AND 5 AND l_quantity >= 1 AND l_quantity <= 11)
      |  OR (p_partkey = l_partkey AND p_brand = 'Brand#15'
      |    AND p_size BETWEEN 1 AND 10 AND l_quantity >= 10 AND l_quantity <= 20)
      |  OR (p_partkey = l_partkey AND p_brand = 'Brand#18'
      |    AND p_size BETWEEN 1 AND 15 AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin

  /** Q21 suppliers-who-kept-orders-waiting — the hardest subquery shape
    * in TPC-H: EXISTS and NOT EXISTS over the SAME fact table, both
    * correlated on the outer orderkey AND carrying a non-equality
    * correlated predicate (a different supplier on the same order).
    * l_returnflag = 'R' stands in for receipt-after-commit lateness.
    * Spark decorrelates both into semi/anti joins keyed on orderkey.
    */
  private val Q21 =
    """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM supplier, lineitem l1, orders, nation
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      |  AND EXISTS (
      |    SELECT * FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT * FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_returnflag = 'R')
      |  AND s_nationkey = n_nationkey AND n_name = 'NATION_5'
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 100""".stripMargin

  /** Q22 global sales opportunity — the anti-join + uncorrelated scalar
    * threshold shape: customers above the average positive balance with
    * NO orders at all. The country code derives from c_nationkey % 7
    * (no c_phone in the synthetic table). The threshold is written as
    * exact-decimal sum / count rather than avg(double) so both engines
    * compute the identical correctly-rounded double (a double avg's
    * summation order is engine-dependent). Every synthetic customer has
    * at least one order, so the literal "no orders" anti-join would be
    * vacuously empty; "no URGENT order" keeps the identical anti-join
    * plan with a non-empty result.
    */
  private val Q22 =
    """SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
      |FROM (
      |  SELECT CAST(c_nationkey % 7 AS INT) AS cntrycode, c_acctbal
      |  FROM customer
      |  WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
      |    AND c_acctbal > (
      |      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
      |        / count(*)
      |      FROM customer
      |      WHERE c_acctbal > 0.00
      |        AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
      |    AND NOT EXISTS (
      |      SELECT * FROM orders
      |      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |) custsale
      |GROUP BY cntrycode
      |ORDER BY cntrycode""".stripMargin

  /** Q15 top supplier — the uncorrelated scalar-MAX-over-aggregate
    * shape: a revenue-per-supplier aggregate compared against its own
    * maximum. Spark plans the subquery once (reused exchange) and the
    * equality against the scalar broadcast. Exact decimal revenue on
    * both sides makes the MAX comparison safe — with double sums the
    * winner could differ by a last-ulp tie.
    */
  private val Q15 =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier, revenue
      |WHERE s_suppkey = supplier_no
      |  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** Q2 minimum-cost supplier — the correlated-MIN-over-a-shared-CTE
    * shape: the partsupp-equivalent is scanned twice (outer join tree +
    * correlated scalar MIN on the same part), and the correlation key
    * (p_partkey) forces decorrelation into an aggregate + rejoin. The
    * synthetic schema has no partsupp table, so the (part, supplier)
    * catalog derives from lineitem history: ps_supplycost := the
    * cheapest unit price that supplier ever shipped the part at.
    * min() of an IEEE division is order-independent and correctly
    * rounded on both engines, so the `=` against the correlated MIN
    * never flips. Region gate + acctbal-DESC top-N as in the spec.
    */
  private val Q2 =
    """WITH psupp AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |    min(l_extendedprice / l_quantity) AS ps_supplycost
      |  FROM lineitem GROUP BY l_partkey, l_suppkey)
      |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand
      |FROM part, psupp, supplier, nation, region
      |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
      |  AND p_size = 15 AND p_type = 'ECONOMY'
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'EUROPE'
      |  AND ps_supplycost = (
      |    SELECT min(ps_supplycost)
      |    FROM psupp, supplier, nation, region
      |    WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
      |      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |      AND r_name = 'EUROPE')
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin

  /** Q9 product-type profit — the 5-table profit rollup grouped by
    * (nation, year). The spec's cost term ps_supplycost*l_quantity has
    * no partsupp to read from; l_tax*l_quantity stands in — the same
    * exact-decimal product subtracted inside the same per-row amount,
    * so the engine still exercises a two-term decimal expression summed
    * per group. p_name LIKE 'red%' is the spec's %green% filter against
    * this corpus's color-adjective names. At scale: lineitem joins
    * part/supplier broadcast-side, orders shuffles once on orderkey,
    * and the final (nation, o_year) agg is two-phase.
    */
  private val Q9 =
    """SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
      |FROM (
      |  SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (1 - CAST(l_discount AS DECIMAL(12,2)))
      |      - CAST(l_tax AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))
      |      AS amount
      |  FROM part, supplier, lineitem, orders, nation
      |  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
      |    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      |    AND p_name LIKE 'red%'
      |) profit
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin

  /** Q11 important stock — the group-vs-global-fraction shape: the same
    * aggregate runs twice (per-part and global), and the HAVING
    * compares each group against a scalar fraction of the global. The
    * partsupp value sum becomes lineitem revenue attributed through the
    * supplier's nation gate. Spark plans the scalar subquery once and
    * broadcasts it into the HAVING filter; both sums ride the identical
    * exact-decimal path so the > threshold is engine-stable.
    */
  private val Q11 =
    """SELECT l_partkey AS ps_partkey,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS part_value
      |FROM lineitem, supplier, nation
      |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |  AND n_name = 'NATION_3'
      |GROUP BY l_partkey
      |HAVING CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) > (
      |  SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) * 0.001
      |  FROM lineitem, supplier, nation
      |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |    AND n_name = 'NATION_3')
      |ORDER BY part_value DESC, ps_partkey""".stripMargin

  /** Q16 parts/supplier relationship — the NOT-IN + count-DISTINCT
    * shape: a distinct (part, supplier) catalog filtered by a
    * null-safe anti-join (NOT IN over a filtered supplier list — the
    * spec's complaint suppliers become negative-balance suppliers),
    * then count(DISTINCT suppkey) per (brand, type, size) bucket.
    * Spark plans NOT IN as a null-aware anti join; count distinct
    * expands to a two-level aggregate. Both inputs here are provably
    * non-null (keys), so the null-aware path degenerates to a plain
    * anti-join on both engines.
    */
  private val Q16 =
    """SELECT p_brand, p_type, p_size,
      |  CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
      |      FROM lineitem) psupp, part
      |WHERE p_partkey = ps_partkey
      |  AND p_brand <> 'Brand#1'
      |  AND p_type NOT LIKE 'STANDARD%'
      |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      |  AND ps_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** Q20 potential part promotion — the deepest nesting in the suite:
    * an IN-subquery whose body contains ANOTHER correlated scalar
    * aggregate over a different scan of the same fact table. The
    * partsupp availqty becomes the supplier's all-time shipped
    * quantity per part, compared against half of its 1996 shipments —
    * the same "stock exceeds half a year's demand" semantics. Spark
    * decorrelates the inner sum into a keyed aggregate joined on
    * (partkey, suppkey), then the IN into a left-semi on suppkey; a
    * NULL inner sum (no 1996 shipments) filters the row on both
    * engines identically.
    */
  private val Q20 =
    """SELECT s_name, s_acctbal
      |FROM supplier, nation
      |WHERE s_suppkey IN (
      |  SELECT ps_suppkey FROM (
      |    SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS ps_availqty
      |    FROM lineitem GROUP BY l_partkey, l_suppkey) psupp
      |  WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      |    AND ps_availqty > (
      |      SELECT 0.5 * CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
      |      FROM lineitem
      |      WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
      |        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'))
      |  AND s_nationkey = n_nationkey AND n_name = 'NATION_2'
      |ORDER BY s_name""".stripMargin

  private def run(sql: String)(spark: SparkSession, sfDir: String): DataFrame = {
    registerViews(spark, sfDir)
    spark.sql(sql)
  }

  private def tpch(name: String, sql: String): (String, Query) =
    name -> Query(run(sql), sql)

  val entries: Seq[(String, Query)] = Seq(
    tpch("tpch_q1", Q1),
    tpch("tpch_q3", Q3),
    tpch("tpch_q5", Q5),
    tpch("tpch_q13", Q13),
    tpch("tpch_q18", Q18),
    tpch("tpch_q6", Q6),
    tpch("tpch_q10", Q10),
    tpch("tpch_q4", Q4),
    tpch("tpch_q7", Q7),
    tpch("tpch_q8", Q8),
    tpch("tpch_q12", Q12),
    tpch("tpch_q14", Q14),
    tpch("tpch_q17", Q17),
    tpch("tpch_q19", Q19),
    tpch("tpch_q21", Q21),
    tpch("tpch_q22", Q22),
    tpch("tpch_q15", Q15),
    tpch("tpch_q2", Q2),
    tpch("tpch_q9", Q9),
    tpch("tpch_q11", Q11),
    tpch("tpch_q16", Q16),
    tpch("tpch_q20", Q20)
  )
}
