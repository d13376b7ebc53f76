package graft.queries
import graft.core.Ckpt._

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables.t
import graft.functions.SaltedHash.md5Prefix

/** Resampling, reweighting, and distribution alignment (SURVEY.md §2
  * tier C — the survey-statistics / experiment-infrastructure family):
  *
  *   - iterative proportional fitting (raking): scale a contingency
  *     table's weights until both margins hit their targets — 2 unrolled
  *     IPF sweeps over a domain-bounded cell table (|segments|·|regions|
  *     rows; the data-sized work is ONE count aggregate);
  *   - quantile normalization: map each source's value distribution onto
  *     the pooled distribution. Formulated at VALUE granularity so the
  *     whole mapping lives on domain-bounded CDF tables (no per-row
  *     global window, no data-sized sort): target(v) = min pooled w with
  *     cdf_pool(w) ≥ cdf_src(v), compared as exact integer
  *     cross-products; per-doc application is one broadcast join;
  *   - deterministic Poisson bootstrap: B = 16 replicate estimates of
  *     total revenue, each row's replicate weight drawn as Poisson(1)
  *     via the inverse CDF on a PORTABLE md5-derived uniform (integer
  *     thresholds = ⌊cdf·2³²⌋, so replicate membership is exact on both
  *     engines and every replicate sum is an exact bigint). This is the
  *     resampling scheme that actually scales: weights are computed
  *     row-local from a hash — no sampling pass, no shuffle beyond the
  *     16-way aggregate.
  */
object Resampling extends graft.Family {
  /** Poisson(1) inverse-CDF thresholds scaled to 2³² (⌊cdf_k · 2³²⌋):
    * u32 < t(0) → weight 0, < t(1) → 1, ... else 5. */
  private val pThresh = Seq(1580030168L, 3160060337L, 3950075421L,
    4213413783L, 4279248373L)

  val defs: Map[String, Q] = Map(

    // IPF raking to uniform margins over the (mktsegment × region)
    // customer table: start from exact counts, alternate row/column
    // scaling twice. The cell table is |domain|² rows — every window
    // below is over a bounded frame, and the only data-sized job is the
    // initial count.
    "agg_raking_ipf" -> ((s, d) => {
      val cells = t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("c_mktsegment").as("seg"), col("r_name").as("region"))
        .agg(count(lit(1)).as("cnt"))
        .ckpt(eager = false) // 4 scaling sweeps read this
      val wSeg = Window.partitionBy(col("seg"))
      val wReg = Window.partitionBy(col("region"))
      val wAll = Window.partitionBy()
      // targets: uniform shares of the grand total, n/|margin levels| —
      // computed inside the frame so no extra driver action
      var w = cells.withColumn("w", col("cnt").cast("double"))
      for (_ <- 1 to 2) {
        w = w
          .withColumn("w", col("w") *
            ((sum(col("w")).over(wAll) / count(lit(1)).over(wAll)
              * count(lit(1)).over(wSeg)) / sum(col("w")).over(wSeg)))
          .withColumn("w", col("w") *
            ((sum(col("w")).over(wAll) / count(lit(1)).over(wAll)
              * count(lit(1)).over(wReg)) / sum(col("w")).over(wReg)))
      }
      w.select(col("seg"), col("region"), col("cnt"),
        round(col("w"), 6).as("w"))
    }),

    // Quantile-normalize per-source document lengths onto the pooled
    // length distribution, entirely on value-domain CDF tables.
    "ml_quantile_normalize" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      // per-(source, value) and pooled-value cumulative counts: windows
      // ordered over the VALUE DOMAIN (bounded), not the row count
      val srcCdf = docs.groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("n_v"))
        .withColumn("cum_s", sum(col("n_v")).over(
          Window.partitionBy(col("source")).orderBy(col("n_chars"))))
        .withColumn("n_s", sum(col("n_v")).over(
          Window.partitionBy(col("source"))))
        .select(col("source"), col("n_chars"), col("cum_s"), col("n_s"))
      val poolCdf = docs.groupBy(col("n_chars").as("w"))
        .agg(count(lit(1)).as("n_w"))
        .withColumn("cum_p", sum(col("n_w")).over(
          Window.orderBy(col("w"))))
        .withColumn("n_p", sum(col("n_w")).over(
          Window.partitionBy()))
        .select(col("w"), col("cum_p"), col("n_p"))
      // min pooled w with cdf_pool(w) >= cdf_src(v), compared as exact
      // integer cross-products; both sides are domain-bounded so the
      // quadratic candidate join never touches row-count scale
      val mapping = srcCdf.join(broadcast(poolCdf),
          col("cum_p") * col("n_s") >= col("cum_s") * col("n_p"))
        .groupBy(col("source"), col("n_chars"))
        .agg(min(col("w")).as("qnorm"))
      docs.join(broadcast(mapping), Seq("source", "n_chars"))
        .select(col("doc_id"), col("source"), col("n_chars"), col("qnorm"))
    }),

    // Laplace-mechanism noisy counts (the differential-privacy release
    // shape, ε = 0.5 ⇒ scale b = 2): noise = −b·sign(u−½)·ln(1−2|u−½|)
    // with u a PORTABLE md5 uniform per group, shifted to (0,1) so the
    // inverse CDF never sees 0 — the identical double reaches ln() on
    // both engines and the release is reproducible. Counts are one
    // aggregate; the noise is row-local on the |priority| result rows.
    "etl_dp_counts" -> ((s, d) => {
      val cnt = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("cnt"))
      val hv = md5Prefix(concat(lit("dp:"), col("priority")), 8)
      val u = (hv.cast("double") + 0.5) / 4294967296.0
      val noise = lit(-2.0) * signum(u - 0.5) *
        log(lit(1.0) - lit(2.0) * abs(u - 0.5))
      cnt.withColumn("noisy", round(col("cnt") + noise, 6))
    }),

    // Weighted sampling without replacement (Efraimidis-Spirakis A-Res):
    // per-row key = ln(u)/w on the portable md5 uniform, global top-50
    // by (rounded key, doc_id). One scan + a TakeOrdered — the
    // distributed one-pass weighted sampler (no per-partition state, no
    // second pass); rounding the key to 12 decimals keeps the cut line
    // engine-exact.
    "llm_weighted_sample" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"))
      val hv = md5Prefix(concat(lit("ws:"), col("doc_id")), 8)
      val u = (hv.cast("double") + 0.5) / 4294967296.0
      docs
        .withColumn("skey", round(log(u) / col("n_chars").cast("double"), 12))
        .orderBy(col("skey").desc, col("doc_id"))
        .limit(50)
    }),

    // Neyman allocation for stratified sampling: split a fixed budget
    // B = 1000 across the returnflag strata proportional to Nᵢ·σᵢ (the
    // variance-minimizing design). The ONLY FP steps are the per-stratum
    // variance from exact decimal(38) moment sums (the welch pattern)
    // and one sqrt — σ is then floored to whole cents, so the weights
    // Nᵢ·σ_c, the floor-division base allocations, AND the
    // largest-remainder rounding that hands out the leftover seats are
    // all exact-BIGINT arithmetic (remainder = B·wᵢ mod Σw — never a
    // float comparison). Windows run over the ≤|strata| table (3 rows),
    // never the data; the data-sized work is one moment aggregate.
    "agg_neyman_alloc" -> ((s, d) => {
      def dec(c: Column) = c.cast("decimal(19,0)")
      val v = round(col("l_extendedprice") * 100).cast("bigint")
      val per = t(s, d, "lineitem")
        .select(col("l_returnflag").as("grp"), v.as("x"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_pop"),
          sum(dec(col("x"))).cast("double").as("sx"),
          sum(dec(col("x")) * dec(col("x"))).cast("double").as("sxx"))
        .withColumn("sigma_c",
          floor(sqrt((col("n_pop") * col("sxx") - col("sx") * col("sx"))
            / (col("n_pop") * col("n_pop")).cast("double")) + lit(0.5))
            .cast("long"))
        .withColumn("wq", col("n_pop") * col("sigma_c"))
      val wAll = Window.orderBy(col("grp"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      per
        .withColumn("wsum", sum(col("wq")).over(wAll))
        .withColumn("base", expr("(1000 * wq) div wsum"))
        .withColumn("rem", lit(1000L) * col("wq") - col("base") * col("wsum"))
        .withColumn("leftover",
          lit(1000L) - sum(col("base")).over(wAll))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("rem").desc, col("grp"))))
        .select(col("grp"), col("n_pop"), col("sigma_c"),
          (col("base") + when(col("rk") <= col("leftover"), 1L)
            .otherwise(0L)).as("alloc"))
    }),

    // permutation test for the revenue gap between returned and kept
    // lines — the nonparametric significance readout with an EXACT
    // integer decision path: 16 deterministic label permutations, all
    // sixteen coins drawn from ONE portable md5 per row (hex nibble r of
    // md5('perm:'||key), mod 2 — the sf1 sweep showed the per-(replicate,
    // row) md5 form spending 295 s at 6M rows; one digest per row is 16×
    // less hashing for the same test), and each replicate's
    // "at least as extreme" comparison
    // |s₁/n₁ − s₀/n₀| ≥ |S₁/N₁ − S₀/N₀| is cross-multiplied into
    // decimal(38,0) ≡ HUGEINT products — the p-value can never
    // ulp-flip. One fan-out aggregate (16× the scan, the bootstrap
    // shape); everything after is a 16-row table.
    "ml_perm_test" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(
        round(col("l_extendedprice") * 100).cast("bigint").as("v"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"),
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
        .ckpt(eager = false)
      val obs = li.agg(
        sum(when(col("y") === 1L, col("v"))).as("os1"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("on1"),
        sum(when(col("y") === 0L, col("v"))).as("os0"),
        sum(when(col("y") === 0L, 1L).otherwise(0L)).as("on0"))
      val perms = li
        .withColumn("h", md5(concat(lit("perm:"), col("ok"), lit(":"),
          col("ln"))))
        .withColumn("r", explode(expr("sequence(0, 15)")))
        .withColumn("py", expr(
          "CAST(conv(substring(h, r + 1, 1), 16, 10) AS BIGINT) % 2"))
        .groupBy(col("r"))
        .agg(sum(when(col("py") === 1L, col("v"))).as("s1"),
          sum(when(col("py") === 1L, 1L).otherwise(0L)).as("n1"),
          sum(when(col("py") === 0L, col("v"))).as("s0"),
          sum(when(col("py") === 0L, 1L).otherwise(0L)).as("n0"))
      perms.crossJoin(broadcast(obs))
        .selectExpr("r",
          // |s1·n0 − s0·n1|·N1·N0 ≥ |S1·N0 − S0·N1|·n1·n0, all exact.
          // HEADROOM BOUND (ADVICE r9, the er_blocking_eval discipline):
          // the product is ≤ Σcents·N·N² ≈ 1e12·SF · (6e6·SF)³ worth of
          // digits — decimal(38,0) holds it through SF ≈ 10 (~1e37); at
          // SF 100 (~1e40) Spark's decimal silently NULLs while DuckDB's
          // HUGEINT errors. Past SF 10, divide out the common n1·n0 ≈
          // N²/4 factor (compare gaps in cents·ppm) before the abs().
          
          "CASE WHEN abs(CAST(s1 AS DECIMAL(38,0)) * n0" +
            " - CAST(s0 AS DECIMAL(38,0)) * n1)" +
            " * CAST(on1 AS DECIMAL(38,0)) * on0 >=" +
            " abs(CAST(os1 AS DECIMAL(38,0)) * on0" +
            " - CAST(os0 AS DECIMAL(38,0)) * on1)" +
            " * CAST(n1 AS DECIMAL(38,0)) * n0" +
            " THEN 1 ELSE 0 END AS extreme",
          "CAST(floor(1e6 * abs(CAST(os1 AS DOUBLE) / on1" +
            " - CAST(os0 AS DOUBLE) / on0) + 0.5) AS BIGINT)" +
            " AS obs_gap_ppm_cents")
        .groupBy(col("obs_gap_ppm_cents"))
        .agg(count(lit(1)).as("n_perms"), sum(col("extreme")).as("n_extreme"))
        .selectExpr("n_perms", "n_extreme", "obs_gap_ppm_cents",
          "CAST(floor(1e6 * n_extreme / n_perms + 0.5) AS BIGINT)" +
            " AS p_ppm")
    }),

    // 16 deterministic Poisson-bootstrap replicates of total revenue
    // (cents): weight_r(row) = Poisson(1) inverse CDF at the portable
    // md5 uniform of (replicate, order, line). Exact bigints end-to-end.
    "agg_poisson_bootstrap" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        round(col("l_extendedprice") * 100).cast("bigint").as("cents"))
      val reps = li.select(col("ok"), col("ln"), col("cents"),
        explode(sequence(lit(0), lit(15))).as("r"))
      val u32 = md5Prefix(concat(lit("boot"), col("r"), lit(":"), col("ok"),
        lit(":"), col("ln")), 8)
      val wgt = when(u32 < pThresh(0), 0L)
        .when(u32 < pThresh(1), 1L)
        .when(u32 < pThresh(2), 2L)
        .when(u32 < pThresh(3), 3L)
        .when(u32 < pThresh(4), 4L)
        .otherwise(5L)
      reps.withColumn("wgt", wgt)
        .groupBy(col("r"))
        .agg(sum(col("wgt")).as("n_eff"),
          sum(col("wgt") * col("cents")).as("boot_cents"))
        .orderBy(col("r"))
    }))

  val sql: Map[String, String] = Map(

    "agg_raking_ipf" -> """
      WITH cells AS (
        SELECT c.c_mktsegment AS seg, r.r_name AS region,
               count(*) AS cnt
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
      ), w0 AS (
        SELECT seg, region, cnt, CAST(cnt AS DOUBLE) AS w FROM cells
      ), w1 AS (
        SELECT seg, region, cnt, w *
          ((sum(w) OVER () / count(*) OVER ()
            * count(*) OVER (PARTITION BY seg))
           / sum(w) OVER (PARTITION BY seg)) AS w
        FROM w0
      ), w2 AS (
        SELECT seg, region, cnt, w *
          ((sum(w) OVER () / count(*) OVER ()
            * count(*) OVER (PARTITION BY region))
           / sum(w) OVER (PARTITION BY region)) AS w
        FROM w1
      ), w3 AS (
        SELECT seg, region, cnt, w *
          ((sum(w) OVER () / count(*) OVER ()
            * count(*) OVER (PARTITION BY seg))
           / sum(w) OVER (PARTITION BY seg)) AS w
        FROM w2
      ), w4 AS (
        SELECT seg, region, cnt, w *
          ((sum(w) OVER () / count(*) OVER ()
            * count(*) OVER (PARTITION BY region))
           / sum(w) OVER (PARTITION BY region)) AS w
        FROM w3
      )
      SELECT seg, region, cnt, round(w, 6) AS w FROM w4""",

    "ml_quantile_normalize" -> """
      WITH docs AS (
        SELECT doc_id, source, n_chars FROM documents
      ), src_cdf AS (
        SELECT source, n_chars,
               sum(n_v) OVER (PARTITION BY source ORDER BY n_chars) AS cum_s,
               sum(n_v) OVER (PARTITION BY source) AS n_s
        FROM (SELECT source, n_chars, count(*) AS n_v
              FROM docs GROUP BY 1, 2)
      ), pool_cdf AS (
        SELECT w,
               sum(n_w) OVER (ORDER BY w) AS cum_p,
               sum(n_w) OVER () AS n_p
        FROM (SELECT n_chars AS w, count(*) AS n_w FROM docs GROUP BY 1)
      ), mapping AS (
        SELECT s.source, s.n_chars, min(p.w) AS qnorm
        FROM src_cdf s JOIN pool_cdf p
          ON p.cum_p * s.n_s >= s.cum_s * p.n_p
        GROUP BY s.source, s.n_chars
      )
      SELECT d.doc_id, d.source, d.n_chars, m.qnorm
      FROM docs d JOIN mapping m
        ON m.source = d.source AND m.n_chars = d.n_chars""",

    "etl_dp_counts" -> """
      WITH cnt AS (
        SELECT o_orderpriority AS priority, count(*) AS cnt
        FROM orders GROUP BY 1
      ), drawn AS (
        SELECT priority, cnt,
               (CAST(('0x' || substr(md5('dp:' || priority), 1, 8))
                     AS BIGINT) + 0.5) / 4294967296.0 AS u
        FROM cnt
      )
      SELECT priority, cnt,
             round(cnt + (-2.0) * sign(u - 0.5)
                   * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noisy
      FROM drawn""",

    "llm_weighted_sample" -> """
      SELECT doc_id, n_chars,
             round(ln((CAST(('0x' || substr(md5('ws:' || doc_id), 1, 8))
                            AS BIGINT) + 0.5) / 4294967296.0)
                   / CAST(n_chars AS DOUBLE), 12) AS skey
      FROM documents
      ORDER BY skey DESC, doc_id
      LIMIT 50""",

    "agg_neyman_alloc" -> """
      WITH per AS (
        SELECT l_returnflag AS grp,
               CAST(count(*) AS BIGINT) AS n_pop,
               CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT))
                    AS DOUBLE) AS sx,
               CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                        * CAST(round(l_extendedprice*100) AS BIGINT))
                    AS DOUBLE) AS sxx
        FROM lineitem GROUP BY 1
      ), sig AS (
        SELECT grp, n_pop,
               CAST(floor(sqrt((n_pop * sxx - sx * sx)
                 / CAST(n_pop * n_pop AS DOUBLE)) + 0.5) AS BIGINT)
                 AS sigma_c
        FROM per
      ), wq AS (
        SELECT grp, n_pop, sigma_c,
               CAST(n_pop * sigma_c AS BIGINT) AS wq,
               CAST(sum(n_pop * sigma_c) OVER () AS BIGINT) AS wsum
        FROM sig
      ), base AS (
        SELECT grp, n_pop, sigma_c, wq, wsum,
               CAST((1000 * wq) // wsum AS BIGINT) AS base,
               CAST(1000 * wq - ((1000 * wq) // wsum) * wsum AS BIGINT)
                 AS rem
        FROM wq
      ), ranked AS (
        SELECT *, CAST(1000 - sum(base) OVER () AS BIGINT) AS leftover,
               row_number() OVER (ORDER BY rem DESC, grp) AS rk
        FROM base
      )
      SELECT grp, n_pop, sigma_c,
             CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                  AS BIGINT) AS alloc
      FROM ranked""",

    "ml_perm_test" -> """
      WITH li AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
               l_orderkey AS ok, l_linenumber AS ln
        FROM lineitem),
      obs AS (
        SELECT CAST(sum(CASE WHEN y = 1 THEN v END) AS BIGINT) AS os1,
               CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS on1,
               CAST(sum(CASE WHEN y = 0 THEN v END) AS BIGINT) AS os0,
               CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS on0
        FROM li),
      fan AS (
        SELECT li.*, r.r,
               CAST(('0x' || substr(md5('perm:' || ok || ':' || ln),
                 CAST(r.r + 1 AS BIGINT), 1)) AS BIGINT) % 2 AS py
        FROM li CROSS JOIN (SELECT unnest(range(0, 16)) AS r) r),
      perms AS (
        SELECT r, CAST(sum(CASE WHEN py = 1 THEN v END) AS BIGINT) AS s1,
               CAST(sum(CASE WHEN py = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n1,
               CAST(sum(CASE WHEN py = 0 THEN v END) AS BIGINT) AS s0,
               CAST(sum(CASE WHEN py = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n0
        FROM fan GROUP BY r),
      scored AS (
        SELECT CASE WHEN abs(CAST(s1 AS HUGEINT) * n0
                 - CAST(s0 AS HUGEINT) * n1)
                 * CAST(on1 AS HUGEINT) * on0 >=
                 abs(CAST(os1 AS HUGEINT) * on0
                 - CAST(os0 AS HUGEINT) * on1)
                 * CAST(n1 AS HUGEINT) * n0
               THEN 1 ELSE 0 END AS extreme,
               CAST(floor(1e6 * abs(CAST(os1 AS DOUBLE) / on1
                 - CAST(os0 AS DOUBLE) / on0) + 0.5) AS BIGINT)
                 AS obs_gap_ppm_cents
        FROM perms, obs)
      SELECT CAST(count(*) AS BIGINT) AS n_perms,
             CAST(sum(extreme) AS BIGINT) AS n_extreme,
             obs_gap_ppm_cents,
             CAST(floor(1e6 * sum(extreme) / count(*) + 0.5) AS BIGINT)
               AS p_ppm
      FROM scored GROUP BY obs_gap_ppm_cents""",

    "agg_poisson_bootstrap" -> """
      WITH reps AS (
        SELECT l_orderkey AS ok, l_linenumber AS ln,
               CAST(ROUND(l_extendedprice*100) AS BIGINT) AS cents,
               unnest(generate_series(0, 15)) AS r
        FROM lineitem
      ), drawn AS (
        SELECT r, cents,
               CAST(('0x' || substr(md5('boot' || r || ':' || ok || ':' || ln),
                                    1, 8)) AS BIGINT) AS u32
        FROM reps
      ), weighted AS (
        SELECT r, cents,
               CASE WHEN u32 < 1580030168 THEN 0
                    WHEN u32 < 3160060337 THEN 1
                    WHEN u32 < 3950075421 THEN 2
                    WHEN u32 < 4213413783 THEN 3
                    WHEN u32 < 4279248373 THEN 4
                    ELSE 5 END AS wgt
        FROM drawn
      )
      SELECT r, CAST(sum(wgt) AS BIGINT) AS n_eff,
             CAST(sum(wgt * cents) AS BIGINT) AS boot_cents
      FROM weighted
      GROUP BY r ORDER BY r"""
  )
}
