package graft

import org.apache.spark.sql.functions._
import graft.operators._
import graft.QueryDefs._

/** Relational layer beyond the reference's single-table surface
  * (SURVEY.md §2.4 "ABSENT" rows, §2.5, §2.6): general group-by
  * aggregation, rollup/cube, equi/semi/anti joins, ranking and frame
  * windows. All single-shuffle; dimension sides broadcast.
  */
object RelationalQueries {

  // ---- Correlated-subquery TPC-H class (q4/q17/q21/q22-lite) --------------
  // The everyday relational shapes Catalyst DECORRELATES: EXISTS /
  // NOT EXISTS rewrite to left-semi / left-anti joins
  // (RewritePredicateSubquery), correlated scalar aggregates to a grouped
  // aggregate joined back on the correlation key
  // (RewriteCorrelatedScalarSubquery). Every query is written ONCE in the
  // shared ANSI dialect and executed verbatim by BOTH engines — the Spark
  // side is spark.sql over the registered table views, so the plans under
  // test are exactly what a SQL user gets. Decorrelated-plan shapes
  // (semi/anti joins present, no nested-loop join) are pinned in
  // SubquerySpec. All arithmetic in the correlated predicates is integer /
  // exact-decimal, so the oracle rows are hash-EXACT:
  //  - q17/q22 avoid the classic `x < 0.2*AVG(y)` float threshold by the
  //    equivalent cross-multiplied integer form `5*x*COUNT(y) < SUM(y)`
  //    (quantities are integral; acctbal compares as DECIMAL(18,6), whose
  //    product with COUNT stays inside both engines' 38-digit width).
  private val sqlQ4 =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders o
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate + INTERVAL 1200 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority ASC NULLS FIRST""".stripMargin

  private val sqlQ17 =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / 7.0 AS avg_yearly,
      |       COUNT(*) AS n_small
      |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE p.p_brand = 'Brand#4' AND p.p_size <= 10
      |  AND 5 * CAST(l.l_quantity AS BIGINT)
      |        * (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
      |      < (SELECT CAST(SUM(CAST(l2.l_quantity AS BIGINT)) AS BIGINT)
      |         FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)""".stripMargin

  private val sqlQ21 =
    """SELECT s_name, COUNT(*) AS numwait
      |FROM supplier, lineitem l1, orders
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name ASC LIMIT 20""".stripMargin

  private val sqlQ22 =
    """SELECT cntrycode, COUNT(*) AS numcust,
      |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
      |FROM (SELECT CAST(c_nationkey AS BIGINT) AS cntrycode, c_acctbal, c_custkey FROM customer
      |      WHERE CAST(c_acctbal AS DECIMAL(18,6))
      |              * (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0)
      |            > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,6)))
      |               FROM customer WHERE c_acctbal > 0)) c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_totalprice > 300000)
      |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin

  // ---- TPC-H -lite extension pack (q7/q10/q12/q13/q14/q15/q19/q20) --------
  // The remaining everyday relational shapes, same shared-dialect + exact-
  // arithmetic conventions as the correlated class above: left-OUTER join
  // aggregation (q13 — the one outer-join shape the catalog lacked),
  // disjunctive predicate pushdown (q19 — OR-of-conjunctions referencing
  // both join sides rides the partkey equi join as a residual), a scalar
  // max over a CTE'd aggregate (q15), nested IN-subquery chains with an
  // above-average HAVING (q20 — two stacked left-semi joins + an exact
  // cross-multiplied scalar pair), CASE-conditional aggregation over a
  // fact join (q12, q14), a two-sided nation-pair filter (q7), and
  // group-then-top-k revenue (q10).
  private val sqlQ7 =
    s"""SELECT supp_nation, cust_nation, l_year, revenue FROM (
       |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |         CAST(year(l_shipdate) AS INTEGER) AS l_year,
       |         ${sqlDsum("l_extendedprice*(1-l_discount)")} AS revenue
       |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
       |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
       |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
       |    AND c_nationkey = n2.n_nationkey
       |    AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
       |      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
       |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
       |  GROUP BY 1, 2, 3)
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  private val sqlQ10 =
    s"""SELECT c_custkey, c_name, n_name, revenue FROM (
       |  SELECT c_custkey, c_name, n_name,
       |         ${sqlDsum("l_extendedprice*(1-l_discount)")} AS revenue
       |  FROM customer, orders, lineitem, nation
       |  WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |    AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
       |    AND l_returnflag = 'R' AND c_nationkey = n_nationkey
       |  GROUP BY 1, 2, 3)
       |ORDER BY revenue DESC NULLS LAST, c_custkey ASC LIMIT 20""".stripMargin

  private val sqlQ12 =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders, lineitem
      |WHERE o_orderkey = l_orderkey
      |  AND l_shipdate >= o_orderdate + INTERVAL 30 DAY
      |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private val sqlQ13 =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      |  FROM customer c LEFT OUTER JOIN orders o
      |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      |  GROUP BY 1)
      |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin

  private val sqlQ14 =
    """SELECT (100.0 * promo) / total AS promo_revenue FROM (
      |  SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
      |                       THEN CAST(l_extendedprice*(1-l_discount) AS DECIMAL(30,6))
      |                       ELSE CAST(0 AS DECIMAL(30,6)) END) AS DOUBLE) AS promo,
      |         CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS total
      |  FROM lineitem, part
      |  WHERE l_partkey = p_partkey
      |    AND l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00')""".stripMargin

  private val sqlQ15 =
    s"""WITH revenue AS (
       |  SELECT l_suppkey AS supplier_no,
       |         ${sqlDsum("l_extendedprice*(1-l_discount)")} AS total_revenue
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
       |  GROUP BY 1)
       |SELECT s_suppkey, s_name, total_revenue
       |FROM supplier, revenue
       |WHERE s_suppkey = supplier_no
       |  AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
       |ORDER BY s_suppkey""".stripMargin

  private val sqlQ19 =
    s"""SELECT ${sqlDsum("l_extendedprice*(1-l_discount)")} AS revenue,
       |       COUNT(*) AS n_lines
       |FROM lineitem, part
       |WHERE p_partkey = l_partkey AND (
       |     (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30))""".stripMargin

  private val sqlQ20 =
    """WITH blue AS (
      |  SELECT l_suppkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |  FROM lineitem
      |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'blue%')
      |  GROUP BY 1)
      |SELECT s_name, s_acctbal FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM blue
      |  WHERE qty * (SELECT COUNT(*) FROM blue) > (SELECT SUM(qty) FROM blue))
      |ORDER BY s_name""".stripMargin

  /** The shared-dialect SQL of each correlated-subquery / extension-pack
    * row (exposed for SubquerySpec's plan asserts).
    */
  val subquerySql: Map[String, String] = Map(
    "q4_order_priority" -> sqlQ4,
    "q17_small_quantity" -> sqlQ17,
    "q21_waiting_supplier" -> sqlQ21,
    "q22_idle_balance" -> sqlQ22,
    "q7_nation_volume" -> sqlQ7,
    "q10_returned_items" -> sqlQ10,
    "q12_priority_lines" -> sqlQ12,
    "q13_order_distribution" -> sqlQ13,
    "q14_promo_share" -> sqlQ14,
    "q15_top_supplier" -> sqlQ15,
    "q19_disjunctive" -> sqlQ19,
    "q20_part_suppliers" -> sqlQ20)

  // Shared by `window_ntile` (the SQL-window dialect-parity row) and
  // `window_ntile_scalable` (the histogram-cut map-side plan): the
  // assignment rule is identical, so ONE oracle pins both.
  private val sqlNtile =
    """SELECT o_orderpriority, tile, COUNT(*) AS cnt,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price
      |FROM (
      |  SELECT o_orderpriority, o_totalprice,
      |         CAST(ntile(4) OVER (PARTITION BY o_orderpriority
      |           ORDER BY o_totalprice ASC, o_orderkey ASC) AS INTEGER) AS tile
      |  FROM orders)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val sqlNtileMulti =
    """SELECT o_orderpriority, o_orderstatus, tile, COUNT(*) AS cnt,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price
      |FROM (
      |  SELECT o_orderpriority, o_orderstatus, o_totalprice,
      |         CAST(ntile(4) OVER (PARTITION BY o_orderpriority, o_orderstatus
      |           ORDER BY o_totalprice ASC, o_orderkey ASC) AS INTEGER) AS tile
      |  FROM orders)
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  private def sqlQuery(name: String, sql: String): Q =
    Q(name, sql) { (s, d) =>
      graft.sources.Tables.registerAll(s, d)
      s.sql(sql)
    }

  val all: Seq[Q] = Seq(

    // TPC-H Q4: late-order priority count — correlated EXISTS with a
    // NON-EQUI outer reference (l_shipdate > o_orderdate + 1200 days)
    // riding the l_orderkey equality; Catalyst plans a left-semi join
    // with the date predicate as join residual.
    sqlQuery("q4_order_priority", sqlQ4),

    // TPC-H Q17: small-quantity revenue — TWO correlated scalar
    // aggregates over the same correlation key (COUNT and SUM per
    // partkey), the cross-multiplied exact-integer form of
    // `quantity < 0.2 * AVG(quantity)`. Catalyst decorrelates each to a
    // per-partkey aggregate joined back (and MergeScalarSubqueries can
    // fuse the twin scans).
    sqlQuery("q17_small_quantity", sqlQ17),

    // TPC-H Q21: suppliers who were the SOLE late shipper of a
    // multi-supplier order — EXISTS + NOT EXISTS on the same fact table,
    // both correlated on l_orderkey with `<>` and date residuals:
    // one left-semi and one left-anti join over the decorrelated scans.
    sqlQuery("q21_waiting_supplier", sqlQ21),

    // TPC-H Q22: positive-balance customers above the average with no
    // big-ticket orders — an UNCORRELATED scalar subquery pair (the
    // average, cross-multiplied to exact decimals) feeding a correlated
    // NOT EXISTS (left-anti against orders).
    sqlQuery("q22_idle_balance", sqlQ22),

    // TPC-H Q7: shipping volume between a nation pair by year — the
    // two-sided disjunctive nation filter rides the broadcast nation
    // joins as a residual; one fact-fact shuffle.
    sqlQuery("q7_nation_volume", sqlQ7),

    // TPC-H Q10: returned-item revenue top 20 — group-then-top-k with a
    // broadcast nation dim.
    sqlQuery("q10_returned_items", sqlQ10),

    // TPC-H Q12: late-line priority counts — CASE-conditional aggregation
    // over the orders⋈lineitem join with a correlated-date residual.
    sqlQuery("q12_priority_lines", sqlQ12),

    // TPC-H Q13: customer order-count distribution — the catalog's one
    // LEFT OUTER join aggregation (null-extended rows become c_count = 0)
    // followed by a second-level distribution groupBy.
    sqlQuery("q13_order_distribution", sqlQ13),

    // TPC-H Q14: promo revenue share — two exact-decimal conditional sums
    // in one pass, double division only at the surface.
    sqlQuery("q14_promo_share", sqlQ14),

    // TPC-H Q15: top supplier by windowed revenue — a scalar MAX over the
    // CTE'd aggregate equi-selects the argmax rows (exact-decimal sums
    // make the double equality engine-stable).
    sqlQuery("q15_top_supplier", sqlQ15),

    // TPC-H Q19: disjunctive brand/size/quantity predicates — the
    // OR-of-conjunctions references BOTH join sides, so Catalyst keeps
    // the partkey equi join and evaluates the disjunction as a residual
    // (never a nested loop).
    sqlQuery("q19_disjunctive", sqlQ19),

    // TPC-H Q20: above-average part suppliers — nested IN chains (two
    // stacked left-semi joins) with an exact cross-multiplied
    // above-average HAVING over the CTE'd per-supplier quantities.
    sqlQuery("q20_part_suppliers", sqlQ20),

    // ---- TPC-H Q1-style pricing summary (general groupBy+agg) --------------
    Q("q1_pricing_summary",
      s"""SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price,
         |sum_charge, sum_qty/cnt AS avg_qty, sum_base_price/cnt AS avg_price,
         |s_disc/cnt AS avg_disc, cnt FROM (
         |  SELECT l_returnflag, l_linestatus,
         |         ${sqlDsum("l_quantity")} AS sum_qty,
         |         ${sqlDsum("l_extendedprice")} AS sum_base_price,
         |         ${sqlDsum("l_extendedprice*(1-l_discount)")} AS sum_disc_price,
         |         ${sqlDsum("l_extendedprice*(1-l_discount)*(1+l_tax)")} AS sum_charge,
         |         ${sqlDsum("l_discount")} AS s_disc,
         |         COUNT(*) AS cnt
         |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
         |  GROUP BY 1, 2)
         |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin) {
      (s, d) =>
        // prune + spread: the 5-dsum partial aggregation is the whole cost,
        // and a single-row-group scan would serialize it on one task
        val li = Det.spread(t(s, d, "lineitem")
          .filter(col("l_shipdate") <= to_timestamp(lit("2000-12-01 00:00:00")))
          .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
            col("l_extendedprice"), col("l_discount"), col("l_tax")))
        val g = li.groupBy(col("l_returnflag"), col("l_linestatus")).agg(
          Det.dsum(col("l_quantity")).as("sum_qty"),
          Det.dsum(col("l_extendedprice")).as("sum_base_price"),
          Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
          Det.dsum(col("l_discount")).as("s_disc"),
          count(lit(1)).as("cnt"))
        g.select(
          col("l_returnflag"), col("l_linestatus"),
          col("sum_qty"), col("sum_base_price"), col("sum_disc_price"), col("sum_charge"),
          (col("sum_qty") / col("cnt")).as("avg_qty"),
          (col("sum_base_price") / col("cnt")).as("avg_price"),
          (col("s_disc") / col("cnt")).as("avg_disc"),
          col("cnt"))
          .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // ---- TPC-H Q6-style forecast revenue (pure filter + agg) ---------------
    Q("q6_forecast_revenue",
      s"""SELECT ${sqlDsum("l_extendedprice*l_discount")} AS revenue FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin) {
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(Det.dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))
    },

    // ---- TPC-H Q5-style local-supplier volume (six-way join) ---------------
    // Catalyst/CBO plan: region→nation broadcast down the dimension chain,
    // fact-fact joins shuffled on their keys; the c_nationkey = s_nationkey
    // residual rides the supplier join.
    Q("q5_local_supplier_volume",
      s"""SELECT n_name, ${sqlDsum("l_extendedprice*(1-l_discount)")} AS revenue
         |FROM customer, orders, lineitem, supplier, nation, region
         |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |  AND r_name = 'ASIA'
         |GROUP BY n_name ORDER BY revenue DESC NULLS LAST, n_name ASC""".stripMargin) {
      (s, d) =>
        val nations = Joins.withDim(
          t(s, d, "nation"),
          t(s, d, "region").filter(col("r_name") === "ASIA")
            .select(col("r_regionkey").as("n_regionkey")),
          Seq("n_regionkey"))
          .select(col("n_nationkey"), col("n_name"))
        val sup = Joins.withDim(
          t(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey").as("n_nationkey")),
          nations, Seq("n_nationkey"))
        val cust = t(s, d, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
        val ord = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
        val li = t(s, d, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey").as("s_suppkey"),
            (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
        li.join(Joins.withDim(ord, cust, Seq("o_custkey")), Seq("o_orderkey"))
          .join(broadcast(sup.select(col("s_suppkey"), col("n_nationkey"), col("n_name"))),
            Seq("s_suppkey"))
          .filter(col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(Det.dsum(col("rev")).as("revenue"))
          .orderBy(col("revenue").desc_nulls_last, col("n_name").asc)
    },

    // ---- TPC-H Q18-style large-volume customers ----------------------------
    // Group-by + HAVING over the fact table, then join + top-k: the heavy
    // lineitem aggregation is the only shuffle; the surviving order set is
    // selectivity-tiny (sum_qty > 300 ≈ the 99.7th percentile), so it
    // BROADCASTS through orders and customer — no fact-fact shuffle join.
    Q("q18_large_volume",
      s"""WITH big AS (
         |  SELECT l_orderkey, sum_qty FROM (
         |    SELECT l_orderkey, ${sqlDsum("l_quantity")} AS sum_qty
         |    FROM lineitem GROUP BY 1)
         |  WHERE sum_qty > 300)
         |SELECT c_name, o_custkey, o_orderkey,
         |       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts,
         |       o_totalprice, sum_qty
         |FROM big JOIN orders ON o_orderkey = l_orderkey
         |JOIN customer ON c_custkey = o_custkey
         |ORDER BY o_totalprice DESC NULLS LAST, order_ts ASC, o_orderkey ASC
         |LIMIT 10""".stripMargin) {
      (s, d) =>
        val big = t(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(Det.dsum(col("l_quantity")).as("sum_qty"))
          .filter(col("sum_qty") > 300)
        val ord = t(s, d, "orders").select(col("o_orderkey").as("l_orderkey"),
          col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
        val cust = t(s, d, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_name"))
        cust.join(broadcast(ord.join(broadcast(big), Seq("l_orderkey"))),
            Seq("o_custkey"))
          .select(col("c_name"), col("o_custkey"), col("l_orderkey").as("o_orderkey"),
            Det.fmtTs(col("o_orderdate")).as("order_ts"),
            col("o_totalprice"), col("sum_qty"))
          .orderBy(col("o_totalprice").desc_nulls_last, col("order_ts").asc,
            col("o_orderkey").asc)
          .limit(10)
    },

    // ---- TPC-H Q16-style supplier counts -----------------------------------
    // Distinct-count aggregation over a fact⋈dim join with an anti-joined
    // exclusion list: suppliers in bad standing (negative balance) are
    // anti-joined out BEFORE the join (broadcast — the list is tiny), part
    // broadcasts as the dim, and the countDistinct is the one shuffle.
    Q("q16_supplier_cnt",
      // NOT EXISTS, not NOT IN: NOT IN's three-valued logic collapses to
      // zero rows if any excluded key is NULL, while left_anti (the Spark
      // side) keeps non-matching rows — NOT EXISTS matches left_anti
      // semantics exactly, null keys included
      """SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem l JOIN part ON p_partkey = l_partkey
        |WHERE NOT EXISTS (SELECT 1 FROM supplier s
        |                  WHERE s.s_acctbal < 0 AND s.s_suppkey = l.l_suppkey)
        |GROUP BY 1, 2
        |ORDER BY supplier_cnt DESC NULLS LAST, p_brand ASC, p_size ASC""".stripMargin) {
      (s, d) =>
        val bad = t(s, d, "supplier").filter(col("s_acctbal") < 0)
          .select(col("s_suppkey").as("l_suppkey"))
        val li = Joins.anti(
          t(s, d, "lineitem").select(col("l_partkey"), col("l_suppkey")),
          bad, Seq("l_suppkey"))
        val part = t(s, d, "part")
          .select(col("p_partkey").as("l_partkey"), col("p_brand"), col("p_size"))
        Joins.withDim(li, part, Seq("l_partkey"))
          .groupBy(col("p_brand"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc_nulls_last, col("p_brand").asc,
            col("p_size").asc)
    },

    // ---- ROLLUP ------------------------------------------------------------
    Q("rollup_counts",
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin) {
      (s, d) => t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // ---- CUBE --------------------------------------------------------------
    Q("cube_counts",
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin) {
      (s, d) => t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // ---- Q3-lite: fact ⋈ fact ⋈ broadcast(dim) -----------------------------
    Q("join_q3lite",
      s"""SELECT o_orderkey, ${sqlDsum("l_extendedprice*(1-l_discount)")} AS revenue
         |FROM customer, orders, lineitem
         |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND c_mktsegment = 'BUILDING'
         |GROUP BY o_orderkey
         |ORDER BY revenue DESC NULLS LAST, o_orderkey ASC LIMIT 10""".stripMargin) {
      (s, d) =>
        val cust = Filters.equality(t(s, d, "customer"), "c_mktsegment", "BUILDING")
          .select(col("c_custkey").as("o_custkey"))
        val ord = Joins.withDim(t(s, d, "orders"), cust, Seq("o_custkey"))
          .select(col("o_orderkey").as("l_orderkey"))
        Joins.withDim(t(s, d, "lineitem"), ord, Seq("l_orderkey"))
          .groupBy(col("l_orderkey").as("o_orderkey"))
          .agg(Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
          .orderBy(col("revenue").desc_nulls_last, col("o_orderkey").asc)
          .limit(10)
    },

    // ---- Star join: revenue by part brand (dim broadcast) ------------------
    Q("join_star_brand",
      s"""SELECT p_brand, COUNT(*) AS cnt,
         |${sqlDsum("l_extendedprice*(1-l_discount)")} AS revenue
         |FROM lineitem, part WHERE l_partkey = p_partkey
         |GROUP BY p_brand ORDER BY p_brand ASC NULLS FIRST""".stripMargin) {
      (s, d) =>
        val part = t(s, d, "part").select(col("p_partkey").as("l_partkey"), col("p_brand"))
        Joins.withDim(t(s, d, "lineitem"), part, Seq("l_partkey"))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("cnt"),
            Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
          .orderBy(col("p_brand").asc_nulls_first)
    },

    // ---- Salted join (explicit skew mitigation; same result as plain) ------
    Q("join_salted_brand",
      """SELECT p_brand, COUNT(*) AS cnt FROM lineitem, part
        |WHERE l_partkey = p_partkey
        |GROUP BY 1 ORDER BY p_brand ASC NULLS FIRST""".stripMargin) {
      (s, d) =>
        val part = t(s, d, "part").select(col("p_partkey").as("l_partkey"), col("p_brand"))
        Joins.saltedEqui(t(s, d, "lineitem"), part, Seq("l_partkey"), "l_orderkey", 8)
          .groupBy(col("p_brand")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("p_brand").asc_nulls_first)
    },

    // ---- Semi / anti joins -------------------------------------------------
    Q("join_semi_count",
      """SELECT COUNT(*) AS cnt FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin) {
      (s, d) =>
        val ok = t(s, d, "orders").select(col("o_custkey").as("c_custkey"))
        Joins.semi(t(s, d, "customer"), ok, Seq("c_custkey")).agg(count(lit(1)).as("cnt"))
    },

    Q("join_anti_count",
      """SELECT COUNT(*) AS cnt FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin) {
      (s, d) =>
        val ok = t(s, d, "orders").select(col("o_custkey").as("c_custkey"))
        Joins.anti(t(s, d, "customer"), ok, Seq("c_custkey")).agg(count(lit(1)).as("cnt"))
    },

    // ---- Theta join: same-nation supplier pairs by account balance ---------
    // Catalyst extracts the equi conjunct (nk1 = nk2) and plans a hash/SMJ
    // join with the inequality as a residual filter — never a full
    // nested-loop over the cross product.
    Q("join_theta_count",
      """SELECT COUNT(*) AS cnt FROM supplier a JOIN supplier b
        |ON a.s_nationkey = b.s_nationkey AND a.s_acctbal > b.s_acctbal""".stripMargin) {
      (s, d) =>
        val sup = t(s, d, "supplier")
        val a = sup.select(col("s_nationkey").as("nk1"), col("s_acctbal").as("b1"))
        val b = sup.select(col("s_nationkey").as("nk2"), col("s_acctbal").as("b2"))
        Joins.theta(a, b, col("nk1") === col("nk2") && col("b1") > col("b2"))
          .agg(count(lit(1)).as("cnt"))
    },

    // ---- Range join: lineitems shipped within 60 days of the order ---------
    Q("join_range_count",
      """SELECT COUNT(*) AS cnt FROM lineitem l JOIN orders o
        |ON l.l_orderkey = o.o_orderkey
        |AND l.l_shipdate >= o.o_orderdate
        |AND l.l_shipdate < o.o_orderdate + INTERVAL 60 DAY""".stripMargin) {
      (s, d) =>
        val ord = t(s, d, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"))
        Joins.range(t(s, d, "lineitem").select("l_orderkey", "l_shipdate"), ord,
          Seq("l_orderkey"),
          col("l_shipdate") >= col("o_orderdate") &&
            col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .agg(count(lit(1)).as("cnt"))
    },

    // ---- Keyless point-in-interval join via grid bucketing ------------------
    // Ship dates (a 1/50 slice) against order-derived activity windows
    // (a 1/20 slice, span = o_orderkey % 60 days) with NO equi key — the
    // shape that plans nested-loop; intervalBucketed routes it through an
    // exploded-cell equi join (30-day grid) and stays exact. The oracle
    // is the naive BETWEEN cross join; the no-cartesian plan shape and
    // nested-loop parity are pinned in IntervalJoinSpec.
    Q("join_range_bucketed",
      """WITH p AS (
        |  SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS pd
        |  FROM lineitem WHERE l_partkey % 50 = 0),
        |iv AS (
        |  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS lo,
        |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |           + o_orderkey % 60 AS hi
        |  FROM orders WHERE o_orderkey % 20 = 0)
        |SELECT COUNT(*) AS cnt, CAST(SUM(hi - pd) AS BIGINT) AS sum_slack
        |FROM p JOIN iv ON pd BETWEEN lo AND hi""".stripMargin) {
      (s, d) =>
        val p = t(s, d, "lineitem").filter(col("l_partkey") % 50 === 0)
          .select(datediff(col("l_shipdate"), lit("1970-01-01")).cast("long").as("pd"))
        val lo = datediff(col("o_orderdate"), lit("1970-01-01")).cast("long")
        val iv = t(s, d, "orders").filter(col("o_orderkey") % 20 === 0)
          .select(lo.as("lo"), (lo + col("o_orderkey") % 60).as("hi"))
        Joins.intervalBucketed(p, iv, "pd", "lo", "hi", bucketWidth = 30L)
          .agg(count(lit(1)).as("cnt"),
            sum(col("hi") - col("pd")).cast("long").as("sum_slack"))
    },

    // ---- UNION ALL of different tables (schema-aligned by name) ------------
    Q("union_all_counts",
      """SELECT src, COUNT(*) AS cnt, COUNT(mktsegment) AS n_seg FROM (
        |  SELECT 'cust' AS src, c_mktsegment AS mktsegment FROM customer
        |  UNION ALL
        |  SELECT 'supp' AS src, NULL AS mktsegment FROM supplier)
        |GROUP BY src ORDER BY src""".stripMargin) {
      (s, d) =>
        val cust = t(s, d, "customer")
          .select(lit("cust").as("src"), col("c_mktsegment").as("mktsegment"))
        val supp = t(s, d, "supplier").select(lit("supp").as("src"))
        SetOps.unionAll(cust, supp)
          .groupBy(col("src"))
          .agg(count(lit(1)).as("cnt"), count(col("mktsegment")).as("n_seg"))
          .orderBy(col("src"))
    },

    // ---- As-of join: last click at or before each purchase, per user -------
    // Right side deduped to one row per (user_id, ts) so the as-of winner
    // is well-defined on both engines.
    Q("join_asof",
      """WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(event_id) AS click_id
        |      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.user_id, strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |       p.event_id AS purchase_id, c.click_id
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.user_id, p.ts, purchase_id""".stripMargin) {
      (s, d) =>
        val ev = t(s, d, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("click_id"))
        Joins.asOf(purchases, clicks, Seq("user_id"), "ts", "ts", Seq("click_id"))
          .select(col("user_id"), Det.fmtTs(col("ts")).as("purchase_ts"),
            col("event_id").as("purchase_id"), col("asof_click_id").as("click_id"))
          .orderBy(col("user_id"), col("ts"), col("purchase_id"))
    },

    // ---- Ranking window: top-3 lineitems per supplier ----------------------
    Q("window_rank",
      """SELECT l_suppkey, CAST(rn AS BIGINT) AS rn, l_orderkey, l_linenumber, l_extendedprice
        |FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |         row_number() OVER (PARTITION BY l_suppkey
        |           ORDER BY l_extendedprice DESC NULLS LAST, l_orderkey ASC, l_linenumber ASC) AS rn
        |  FROM lineitem)
        |WHERE rn <= 3 ORDER BY l_suppkey, rn""".stripMargin) {
      (s, d) => Windows.topNPerGroup(t(s, d, "lineitem"), Seq("l_suppkey"),
        Seq(SortKey("l_extendedprice", asc = false), SortKey("l_orderkey"), SortKey("l_linenumber")), 3)
        .select(col("l_suppkey"), col("rn").cast("long").as("rn"),
          col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_suppkey"), col("rn"))
    },

    // ---- lag/lead ----------------------------------------------------------
    Q("window_lag",
      """SELECT l_suppkey, strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS ship_ts,
        |l_orderkey, l_linenumber, l_extendedprice,
        |lag(l_extendedprice) OVER (PARTITION BY l_suppkey
        |  ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC, l_extendedprice ASC) AS lag_val
        |FROM lineitem WHERE l_suppkey <= 5
        |ORDER BY l_suppkey, ship_ts, l_orderkey, l_linenumber, l_extendedprice""".stripMargin) {
      // (l_orderkey, l_linenumber) is not unique — l_extendedprice completes
      // the total order inside each partition so lag() is deterministic.
      (s, d) =>
        val base = t(s, d, "lineitem").filter(col("l_suppkey") <= 5)
        Windows.withLag(base, Seq("l_suppkey"),
          Seq(SortKey("l_shipdate"), SortKey("l_orderkey"), SortKey("l_linenumber"),
            SortKey("l_extendedprice")),
          "l_extendedprice")
          .select(col("l_suppkey"), Det.fmtTs(col("l_shipdate")).as("ship_ts"),
            col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("lag_val"))
          .orderBy(col("l_suppkey"), col("ship_ts"), col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"))
    },

    // ---- n-tile cohorts: price quartiles per priority ----------------------
    // ntile's standard assignment (contiguous tiles, earlier tiles one
    // larger on remainders) is identical in both engines and
    // deterministic under the (price, orderkey) total order; the rollup
    // pins every tile boundary via the exact-decimal per-tile sums.
    Q("window_ntile", sqlNtile) {
      (s, d) =>
        Windows.withNtile(t(s, d, "orders"), Seq("o_orderpriority"),
            Seq(SortKey("o_totalprice"), SortKey("o_orderkey")), 4, "tile")
          .groupBy(col("o_orderpriority"), col("tile"))
          .agg(count(lit(1)).as("cnt"),
            Det.dsum(col("o_totalprice")).as("sum_price"))
          .orderBy(col("o_orderpriority"), col("tile"))
    },

    // ---- n-tile cohorts, SCALE-SAFE plan ------------------------------
    // Same cohorts, same oracle — but via Windows.ntileMapSide's
    // histogram-cut boundaries + map-side assignment instead of a window
    // sort: the SQL form above partitions by ~5 priorities, so its
    // parallelism ceiling is the key cardinality (each priority's entire
    // row set is ONE task's sort — a 100× straggler). This is the
    // catalog's quantile-cohort primitive at scale; the SQL row stays as
    // the dialect-parity contrast. Plan shape (no full-corpus per-key
    // window) is asserted in PlanGuardSpec; tile parity with the window
    // form in RandomizedParitySpec.
    Q("window_ntile_scalable", sqlNtile) {
      (s, d) =>
        Windows.ntileMapSide(t(s, d, "orders"), Seq("o_orderpriority"),
            "o_totalprice", "o_orderkey", 4, "tile")
          .groupBy(col("o_orderpriority"), col("tile"))
          .agg(count(lit(1)).as("cnt"),
            Det.dsum(col("o_totalprice")).as("sum_price"))
          .orderBy(col("o_orderpriority"), col("tile"))
    },

    // ---- Multi-column cohorts through the scale-safe plan ------------------
    // The (source, language)-shape: ntileMapSide's Seq-of-group-columns
    // signature keys one internal struct, so a (priority, status)
    // cohort needs no pre-concat — the SQL window oracle partitions by
    // both columns directly, pinning the multi-key assignment hash-exact
    // (the two-column hostile parity in RandomizedParitySpec is the
    // property test; this row is the oracle-green deployment shape).
    Q("window_ntile_scalable_multi", sqlNtileMulti) {
      (s, d) =>
        Windows.ntileMapSide(t(s, d, "orders"),
            Seq("o_orderpriority", "o_orderstatus"),
            "o_totalprice", "o_orderkey", 4, "tile")
          .groupBy(col("o_orderpriority"), col("o_orderstatus"), col("tile"))
          .agg(count(lit(1)).as("cnt"),
            Det.dsum(col("o_totalprice")).as("sum_price"))
          .orderBy(col("o_orderpriority"), col("o_orderstatus"), col("tile"))
    },

    // ---- Sliding rows frame: trailing-4-order spend per customer -----------
    Q("window_moving_sum",
      """SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts, o_orderkey,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate ASC, o_orderkey ASC
        |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum
        |FROM orders WHERE o_custkey <= 50
        |ORDER BY o_custkey, order_ts, o_orderkey""".stripMargin) {
      (s, d) =>
        Windows.movingSum(t(s, d, "orders").filter(col("o_custkey") <= 50),
            Seq("o_custkey"), Seq(SortKey("o_orderdate"), SortKey("o_orderkey")),
            "o_totalprice", lookback = 3)
          .select(col("o_custkey"), Det.fmtTs(col("o_orderdate")).as("order_ts"),
            col("o_orderkey"), col("moving_sum"))
          .orderBy(col("o_custkey"), col("order_ts"), col("o_orderkey"))
    },

    // ---- first/last value frames per supplier ------------------------------
    // The running-frame forms (NOT the default-frame last_value trap —
    // that frame ends at the current row and returns the current value).
    Q("window_first_last",
      """SELECT l_suppkey, strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS ship_ts,
        |l_orderkey, l_linenumber, l_extendedprice,
        |first_value(l_extendedprice) OVER (PARTITION BY l_suppkey
        |  ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC, l_extendedprice ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_val,
        |last_value(l_extendedprice) OVER (PARTITION BY l_suppkey
        |  ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC, l_extendedprice ASC
        |  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS last_val
        |FROM lineitem WHERE l_suppkey <= 5
        |ORDER BY l_suppkey, ship_ts, l_orderkey, l_linenumber, l_extendedprice""".stripMargin) {
      (s, d) =>
        Windows.withFirstLast(t(s, d, "lineitem").filter(col("l_suppkey") <= 5),
            Seq("l_suppkey"),
            Seq(SortKey("l_shipdate"), SortKey("l_orderkey"),
              SortKey("l_linenumber"), SortKey("l_extendedprice")),
            "l_extendedprice")
          .select(col("l_suppkey"), Det.fmtTs(col("l_shipdate")).as("ship_ts"),
            col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
            col("first_val"), col("last_val"))
          .orderBy(col("l_suppkey"), col("ship_ts"), col("l_orderkey"),
            col("l_linenumber"), col("l_extendedprice"))
    },

    // ---- VALUE-range frame: same-priority orders within a $1000 band -------
    // RANGE (not ROWS): the frame is value-defined, so ties see the same
    // frame and the count needs no tiebreaker; the integer cents key
    // keeps the frame bounds exact in both engines.
    Q("window_range_band",
      """SELECT o_orderpriority, price_cents, o_orderkey, n_in_range FROM (
        |  SELECT o_orderpriority, price_cents, o_orderkey,
        |         COUNT(*) OVER (PARTITION BY o_orderpriority ORDER BY price_cents
        |           RANGE BETWEEN 100000 PRECEDING AND 100000 FOLLOWING) AS n_in_range
        |  FROM (SELECT o_orderpriority, o_orderkey,
        |               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
        |        FROM orders WHERE o_custkey <= 30))
        |ORDER BY o_orderpriority, price_cents, o_orderkey""".stripMargin) {
      (s, d) =>
        val base = t(s, d, "orders").filter(col("o_custkey") <= 30)
          .select(col("o_orderpriority"), col("o_orderkey"),
            round(col("o_totalprice") * 100).cast("long").as("price_cents"))
        Windows.rangeCount(base, Seq("o_orderpriority"), "price_cents",
            below = 100000L, above = 100000L, outCol = "n_in_range")
          .select(col("o_orderpriority"), col("price_cents"), col("o_orderkey"),
            col("n_in_range"))
          .orderBy(col("o_orderpriority"), col("price_cents"), col("o_orderkey"))
    },

    // ---- Relative position: percent_rank + cume_dist per supplier ----------
    // Both are one small-integer division (correctly rounded ⇒
    // bit-identical cross-engine), so the row is hash-exact UNROUNDED —
    // percent_rank is also the reference UI's scroll-position mapping.
    Q("window_percent_rank",
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
        |FROM lineitem WHERE l_suppkey <= 3
        |WINDOW w AS (PARTITION BY l_suppkey
        |  ORDER BY l_extendedprice ASC, l_orderkey ASC, l_linenumber ASC)
        |ORDER BY l_suppkey, pr, l_orderkey, l_linenumber""".stripMargin) {
      (s, d) =>
        Windows.withPercentiles(t(s, d, "lineitem").filter(col("l_suppkey") <= 3),
            Seq("l_suppkey"),
            Seq(SortKey("l_extendedprice"), SortKey("l_orderkey"),
              SortKey("l_linenumber")))
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("pr"), col("cd"))
          .orderBy(col("l_suppkey"), col("pr"), col("l_orderkey"),
            col("l_linenumber"))
    },

    // ---- Frame window: running total per customer --------------------------
    Q("window_running_sum",
      """SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts, o_orderkey,
        |o_totalprice,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate ASC, o_orderkey ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_sum
        |FROM orders WHERE o_custkey <= 50
        |ORDER BY o_custkey, order_ts, o_orderkey""".stripMargin) {
      (s, d) =>
        val base = t(s, d, "orders").filter(col("o_custkey") <= 50)
        Windows.runningSum(base, Seq("o_custkey"),
          Seq(SortKey("o_orderdate"), SortKey("o_orderkey")), "o_totalprice")
          .select(col("o_custkey"), Det.fmtTs(col("o_orderdate")).as("order_ts"),
            col("o_orderkey"), col("o_totalprice"), col("running_sum"))
          .orderBy(col("o_custkey"), col("order_ts"), col("o_orderkey"))
    },

    // ---- FULL OUTER join: indebted customers vs cheap suppliers by nation --
    // Completes the outer-join family (q13 covers LEFT OUTER): two
    // sketch-sized per-nation aggregates full-outer-joined so BOTH
    // null-extension directions genuinely occur — the customer side is
    // capped to nations < 12 (left-only rows where no cheap supplier
    // exists there; right-only rows for every nation >= 12 with one).
    // Null counts stay null (not 0) — the honest outer-join rendering,
    // and hash-exact. Scale shape: the work is the two map-side partial
    // aggregations; the join itself is ~25 rows a side.
    Q("join_full_outer",
      """WITH c AS (
        |  SELECT c_nationkey AS nk, COUNT(*) AS n_cust,
        |         CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS cust_bal
        |  FROM customer WHERE c_acctbal < -200 AND c_nationkey < 12 GROUP BY 1),
        |s AS (
        |  SELECT s_nationkey AS nk, COUNT(*) AS n_supp
        |  FROM supplier WHERE s_acctbal < 1000 GROUP BY 1)
        |SELECT COALESCE(c.nk, s.nk) AS nationkey, c.n_cust, c.cust_bal, s.n_supp
        |FROM c FULL OUTER JOIN s ON c.nk = s.nk
        |ORDER BY nationkey""".stripMargin) {
      (s, d) =>
        val c = t(s, d, "customer")
          .filter(col("c_acctbal") < -200 && col("c_nationkey") < 12)
          .groupBy(col("c_nationkey").as("nk"))
          .agg(count(lit(1)).as("n_cust"), Det.dsum(col("c_acctbal")).as("cust_bal"))
        val sup = t(s, d, "supplier").filter(col("s_acctbal") < 1000)
          .groupBy(col("s_nationkey").as("snk"))
          .agg(count(lit(1)).as("n_supp"))
        c.join(sup, col("nk") === col("snk"), "full_outer")
          .select(coalesce(col("nk"), col("snk")).as("nationkey"),
            col("n_cust"), col("cust_bal"), col("n_supp"))
          .orderBy(col("nationkey"))
    },

    // ---- PIVOT: order-status columns per priority ---------------------------
    // The everyday analytics reshape: one row per priority, one count
    // column per status. The pivot VALUES are declared explicitly
    // (Seq("F","O","P")) — at scale the implicit form first runs a
    // distinct scan over the pivot key just to learn the columns. Cells
    // coalesce to 0 (Spark pivot yields null for an empty cell, DuckDB's
    // COUNT FILTER yields 0). The F/O/P closed set is pinned by the
    // TPC-H o_orderstatus domain on BOTH sides — any future status value
    // would be silently absent from this matrix in both engines, and
    // unpivot_status_matrix's full-GROUP-BY oracle is the loud guard
    // that would catch it.
    Q("pivot_status_matrix",
      """SELECT o_orderpriority,
        |       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) {
      (s, d) =>
        t(s, d, "orders")
          .groupBy(col("o_orderpriority"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)))
          .select(col("o_orderpriority"),
            coalesce(col("F"), lit(0L)).as("n_f"),
            coalesce(col("O"), lit(0L)).as("n_o"),
            coalesce(col("P"), lit(0L)).as("n_p"))
          .orderBy(col("o_orderpriority"))
    },

    // ---- UNPIVOT: the wide matrix melted back to long -----------------------
    // Dataset.unpivot over the pivot row's wide frame — the round trip
    // must land exactly on the direct (priority, status) group counts,
    // which IS the oracle (a melt that loses or relabels a cell breaks
    // the hash). The melt runs on the 5-row aggregate: pivot does the
    // corpus work, unpivot is a shape operator.
    Q("unpivot_status_matrix",
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) {
      (s, d) =>
        val wide = t(s, d, "orders")
          .groupBy(col("o_orderpriority"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)))
        wide.unpivot(Array(col("o_orderpriority")),
            Array(col("F"), col("O"), col("P")), "o_orderstatus", "n_orders")
          // an EMPTY pivot cell melts back as null — the long form has no
          // such row, so drop it (keeps the round trip exact if a fixture
          // ever lacks a (priority, status) combination)
          .filter(col("n_orders").isNotNull)
          .orderBy(col("o_orderpriority"), col("o_orderstatus"))
    }
  )
}
