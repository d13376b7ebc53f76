package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables.t

/** The reference's analytical query surface (SURVEY.md §2 tier B, B1–B5 —
  * DataTalks Zoomcamp shapes over `sql/init.sql`'s schema), re-expressed on
  * the driver testdata star schema: `lineitem/orders` play `taxi_trips`,
  * `nation/region` play `taxi_zones` (small broadcastable dims, like the
  * 265-row zone lookup).
  *
  * Scale design mirrors the reference's index strategy (`sql/init.sql:45-47`)
  * the Spark way: date-range predicates push into the parquet scan (min/max
  * row-group stats ≈ the `pickup_datetime` B-tree), location joins broadcast
  * (≈ the location-id B-trees).
  */
object Taxi extends graft.Family {
  val defs: Map[String, Q] = Map(
    // B1: validation counts per table + windowed count
    "taxi_validation_counts" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val inWin = li.filter(
        col("l_shipdate") >= lit("1999-01-01").cast("timestamp") &&
        col("l_shipdate") <  lit("2000-01-01").cast("timestamp"))
      li.agg(count(lit(1)).as("n")).select(lit("lineitem").as("tbl"), col("n"))
        .union(o.agg(count(lit(1)).as("n")).select(lit("orders").as("tbl"), col("n")))
        .union(inWin.agg(count(lit(1)).as("n"))
          .select(lit("lineitem_1999").as("tbl"), col("n")))
    }),

    // B2: segmentation by value buckets within a date range
    "taxi_bucket_segmentation" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
                col("l_shipdate") <  lit("2001-01-01").cast("timestamp"))
        .select(
          when(col("l_quantity") <= 10, "0-10")
            .when(col("l_quantity") <= 20, "10-20")
            .when(col("l_quantity") <= 35, "20-35")
            .otherwise("35+").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_trips"))
    }),

    // B3: "longest trip per day" — per-orderdate max price, top-5 days
    "taxi_daily_max" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(max(col("o_totalprice")).as("day_max"))
        .orderBy(col("day_max").desc, col("day"))
        .limit(5)
    }),

    // B4: top "zones" by revenue with HAVING — nations via broadcast join
    "taxi_top_zones_revenue" -> ((s, d) => {
      val o = t(s, d, "orders"); val c = t(s, d, "customer")
      val n = t(s, d, "nation")
      // customer is fact-scale at 100 TB: no forced broadcast, AQE decides
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp") &&
                col("o_orderdate") <  lit("2000-01-01").cast("timestamp"))
        .groupBy(col("n_name"))
        // exact integer cents (r12 sf1 hazard class: raw double sums over
        // ~10⁴-row groups drift past round-6 between engines); the
        // revenue cut compares on the exact cents sum
        .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("pc"),
             count(lit(1)).as("n_orders"))
        .filter(col("pc") > 100000000L)
        .select(col("n_name"),
          (col("pc").cast("double") / 100.0).as("revenue"), col("n_orders"))
    }),

    // B5: "max tip pickup→dropoff zone pair" — double-aliased dim join,
    // max discount lineitem between customer-nation and supplier-nation
    "taxi_zone_pair_max" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val su = t(s, d, "supplier")
      val pu = t(s, d, "nation").select(
        col("n_nationkey").as("pu_key"), col("n_name").as("pickup_nation"))
      val dn = t(s, d, "nation").select(
        col("n_nationkey").as("do_key"), col("n_name").as("dropoff_nation"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(pu), col("c_nationkey") === col("pu_key"))
        .join(broadcast(dn), col("s_nationkey") === col("do_key"))
        .filter(col("pickup_nation") === "n00")
        .groupBy(col("dropoff_nation"))
        .agg(max(col("l_discount")).as("max_disc"),
             sum(col("l_extendedprice")).as("volume"))
    })
  )

  val sql: Map[String, String] = Map(
    "taxi_validation_counts" -> """
      SELECT 'lineitem' AS tbl, count(*) AS n FROM lineitem
      UNION ALL
      SELECT 'orders' AS tbl, count(*) AS n FROM orders
      UNION ALL
      SELECT 'lineitem_1999' AS tbl, count(*) AS n FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1999-01-01'
        AND l_shipdate <  TIMESTAMP '2000-01-01'""",

    "taxi_bucket_segmentation" -> """
      SELECT CASE WHEN l_quantity <= 10 THEN '0-10'
                  WHEN l_quantity <= 20 THEN '10-20'
                  WHEN l_quantity <= 35 THEN '20-35'
                  ELSE '35+' END AS bucket,
             count(*) AS n_trips
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        AND l_shipdate <  TIMESTAMP '2001-01-01'
      GROUP BY 1""",

    "taxi_daily_max" -> """
      SELECT CAST(o_orderdate AS DATE) AS day,
             max(o_totalprice) AS day_max
      FROM orders GROUP BY 1
      ORDER BY day_max DESC, day LIMIT 5""",

    "taxi_top_zones_revenue" -> """
      SELECT n_name,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS revenue,
             count(*) AS n_orders
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1999-01-01'
        AND o_orderdate <  TIMESTAMP '2000-01-01'
      GROUP BY n_name
      HAVING sum(CAST(round(o_totalprice * 100) AS BIGINT)) > 100000000""",

    "taxi_zone_pair_max" -> """
      SELECT dn.n_name AS dropoff_nation,
             max(l_discount) AS max_disc,
             sum(l_extendedprice) AS volume
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation pu ON c_nationkey = pu.n_nationkey
      JOIN nation dn ON s_nationkey = dn.n_nationkey
      WHERE pu.n_name = 'n00'
      GROUP BY dn.n_name"""
  )
}
