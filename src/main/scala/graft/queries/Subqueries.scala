package graft.queries

import graft.core.Tables.registerAll

/** Subquery surface (Catalyst's subquery handling, SURVEY §4): scalar,
  * correlated-scalar, IN and NOT IN (null-safe data), plus classic TPC-H
  * shapes that exercise subquery + join + agg together. All via the
  * `spark.sql` text API — identical SQL runs in DuckDB, making these
  * oracle rows that also cover the SQL entry point (SURVEY §3 EP3).
  */
object Subqueries extends graft.Family {
  private def q(text: String): Q = (s, d) => { registerAll(s, d); s.sql(text) }

  private val sqls: Map[String, String] = Map(
    // uncorrelated scalar subquery
    "sub_scalar" -> """
      SELECT o_orderkey, o_totalprice,
             o_totalprice - (SELECT avg(o_totalprice) FROM orders) AS delta_from_avg
      FROM orders
      WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) * 1.8""",

    // correlated scalar subquery (per-status average)
    "sub_correlated" -> """
      SELECT o_orderkey, o_orderstatus
      FROM orders o
      WHERE o_totalprice > 1.9 * (SELECT avg(o_totalprice)
                                  FROM orders i
                                  WHERE i.o_orderstatus = o.o_orderstatus)""",

    // IN / NOT IN subqueries (keys are non-null, so NOT IN is safe)
    "sub_in" -> """
      SELECT c_custkey, c_mktsegment
      FROM customer
      WHERE c_custkey IN (SELECT o_custkey FROM orders
                          WHERE o_totalprice > 400000.0)
        AND c_custkey NOT IN (SELECT o_custkey FROM orders
                              WHERE o_orderstatus = 'P')""",

    // EXISTS / NOT EXISTS (Catalyst rewrites to semi/anti joins — the
    // declarative twin of join_semi/join_anti)
    "sub_exists" -> """
      SELECT c_custkey, c_mktsegment
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > 450000.0)
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderstatus = 'P')""",

    // LATERAL correlated subquery: per-customer top order by price —
    // the subquery re-evaluates per outer row (DecorrelateInnerQuery path)
    "sub_lateral" -> """
      SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      FROM customer c
      JOIN LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 1
      ) t ON true
      WHERE c.c_custkey <= 200""",

    // TPC-H Q3 shape: shipping-priority top-10
    "tpch_q3_shipping" -> """
      SELECT l_orderkey,
             sum(l_extendedprice * (1.0 - l_discount)) AS revenue,
             o_orderdate
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1999-06-01'
        AND l_shipdate > TIMESTAMP '1999-06-01'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue DESC, o_orderdate, l_orderkey
      LIMIT 10""",

    // TPC-H Q18 shape: large-volume customers via HAVING subquery
    "tpch_q18_volume" -> """
      SELECT c_custkey, o_orderkey, o_totalprice, sum(l_quantity) AS total_qty
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING sum(l_quantity) > 150
      )
      GROUP BY c_custkey, o_orderkey, o_totalprice""",

    // TPC-H Q4 shape (adapted: no commit/receipt dates in the fixture —
    // "late" = shipped after the order date): priority counts gated by a
    // correlated EXISTS whose predicate mixes an equality (l_orderkey =
    // o_orderkey) with a NON-equality outer reference (l_shipdate >
    // o_orderdate) — the DecorrelateInnerQuery path beyond plain semi-join
    "tpch_q4_priority" -> """
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1999-07-01'
        AND o_orderdate <  TIMESTAMP '1999-10-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey
                      AND l_shipdate > o_orderdate)
      GROUP BY o_orderpriority""",

    // TPC-H Q17 shape (p_size < 10 substitutes the fixture-less container
    // filter): small-quantity revenue where the cutoff is a PER-PART
    // correlated aggregate — Catalyst decorrelates to an aggregate join,
    // i.e. the per-group-threshold pattern without a window
    "tpch_q17_small_qty" -> """
      SELECT sum(l_extendedprice) / 7.0 AS avg_yearly,
             count(*) AS n_lines
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#3' AND p_size < 10
        AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
                          WHERE l2.l_partkey = p_partkey)""",

    // TPC-H Q21 shape (late = shipped >90 days after order date): the
    // EXISTS + NOT EXISTS chain over the SAME fact table — multi-supplier
    // orders where ONLY this supplier was late. Three lineitem legs; the
    // correlated predicates carry the outer o_orderdate into both
    // subqueries (non-equality correlation under negation)
    "tpch_q21_waiting" -> """
      SELECT s_name, count(*) AS numwait
      FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE o_orderstatus = 'F' AND n_name = 'NATION_3'
        AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
      GROUP BY s_name""",

    // TPC-H Q22 shape (c_nationkey substitutes the phone country code;
    // anti side = "no urgent order" — every fixture customer has SOME
    // order): scalar average gate + NOT EXISTS + final aggregate
    "tpch_q22_opportunity" -> """
      SELECT c_nationkey AS cntry, count(*) AS numcust,
             sum(c_acctbal) AS totacctbal
      FROM customer
      WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                         WHERE c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderpriority = '1-URGENT')
      GROUP BY c_nationkey""",

    // NOT IN three-valued logic: a NULL in the subquery result makes
    // NOT IN evaluate UNKNOWN for every non-matching row — the classic
    // silent-empty-result trap, pinned as a 0-count next to the clean
    // anti-join count (same text both engines)
    "sub_not_in_null" -> """
      SELECT 'not_in_with_null' AS probe, count(*) AS n_rows
      FROM orders
      WHERE o_orderkey NOT IN (
        SELECT CASE WHEN o_orderstatus = 'F' THEN o_orderkey END
        FROM orders)
      UNION ALL
      SELECT 'not_in_clean' AS probe, count(*) AS n_rows
      FROM orders
      WHERE o_orderkey NOT IN (
        SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')""",

    // recursive CTE (Spark 4 WITH RECURSIVE): 24-month calendar spine
    // gap-filled against monthly order revenue — the fixture's orders end
    // 2001-08, so the tail months exercise the zero-fill. Recursion depth
    // is the calendar length (24), never the data size: the spine is a
    // driver-light seed the fact table LEFT-joins onto. DuckDB runs this
    // same text (both dialects accept it).
    "sub_recursive_cte" -> """
      WITH RECURSIVE months(m) AS (
        SELECT DATE '2001-01-01'
        UNION ALL
        SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
        WHERE m < DATE '2002-12-01'
      )
      SELECT m AS month_start,
             CAST(coalesce(r.n_orders, 0) AS BIGINT) AS n_orders,
             coalesce(r.revenue, 0.0) AS revenue,
             r.mo IS NULL AS is_gap
      FROM months LEFT JOIN (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                 AS revenue
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '2001-01-01'
        GROUP BY 1
      ) r ON r.mo = months.m""")

  /** Single-scan re-plan of the Q21 EXISTS/NOT-EXISTS chain (the SQL twin
    * above is the spec and stays as-is). Catalyst plans the textual form as
    * THREE lineitem legs (join + semi + anti); this form reads lineitem
    * once: join the 'F' orders to tag each line late/on-time, then a
    * two-level aggregate — per (order, supplier) first, per order second —
    * derives "has another supplier" (n_supp ≥ 2) and "only this supplier
    * late" (n_late_supp = 1) as plain conditional counts. Both aggregates
    * reuse the join's orderkey clustering (subset-of-keys satisfies
    * ClusteredDistribution), so the whole query is ONE lineitem shuffle;
    * the nation-filtered supplier dim broadcasts at the end. Two-level
    * instead of multi-countDistinct avoids the 3× Expand. At 100 TB the
    * textual plan's extra two lineitem exchanges dominate — this is the
    * plan a user would want. */
  private val q21SingleScan: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    import graft.core.Tables.t
    val ordersF = t(s, d, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val lines = t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(ordersF, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAY"))
    val perSupp = lines
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(bool_or(col("late")).as("any_late"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late_rows"))
    val perOrder = perSupp
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"),
        sum(when(col("any_late"), 1L).otherwise(0L)).as("n_late_supp"),
        max(when(col("any_late"), col("l_suppkey"))).as("late_supp"),
        sum(when(col("any_late"), col("n_late_rows")).otherwise(0L))
          .as("n_late_rows"))
      .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
    val supp = t(s, d, "supplier")
      .join(t(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === "NATION_3")
      .select(col("s_suppkey"), col("s_name"))
    perOrder.join(broadcast(supp), col("late_supp") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(sum(col("n_late_rows")).as("numwait"))
  }

  /** Single-scan re-plan of Q18 (SQL twin unchanged): the textual form
    * scans lineitem TWICE — once inside the IN/HAVING subquery and once
    * for the outer sum — but the outer grouping is per order, so the
    * HAVING aggregate IS the result aggregate. One lineitem pass:
    * groupBy(orderkey).sum(qty), filter > 150 (the gate and total_qty in
    * one), then join the bounded survivor set to orders + customer. */
  private val q18SingleScan: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    import graft.core.Tables.t
    t(s, d, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 150)
      .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("total_qty"))
  }

  val defs: Map[String, Q] =
    sqls.map { case (k, v) => k -> q(v) } +
      ("tpch_q21_waiting" -> q21SingleScan) +
      ("tpch_q18_volume" -> q18SingleScan)
  val sql: Map[String, String] = sqls
}
