package graft.queries
import graft.core.Ckpt._

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables.t
import graft.ops.Partitioning

/** Hypothesis-testing and survival operators — the experiment-readout
  * family beyond the z/t/KS/chi2 tests in [[Analytics]]:
  *
  *   - Mann-Whitney U (Wilcoxon rank-sum) with tie correction — the
  *     nonparametric two-sample test, computed from EXACT integer rank
  *     arithmetic (doubled rank sums stay bigint; the only doubles are
  *     the final σ and z);
  *   - Benjamini-Hochberg FDR correction — the multiple-comparisons
  *     step-up procedure over per-metric A/B z-tests, with the normal
  *     tail probability from the Abramowitz-Stegun 7.1.26 polynomial
  *     (elementary ops only, so both engines evaluate the identical
  *     closed form);
  *   - Kaplan-Meier survival estimate over user lifetimes with
  *     right-censoring at the observation horizon.
  *
  * Scale shapes: Mann-Whitney's global rank accumulation runs through
  * ops.Partitioning.rankedCumSum (range-partitioned two-level prefix
  * sum — no single-task global window); BH and KM do their windowing
  * over bounded aggregates (|event types| rows, |distinct lifetime
  * days| rows), never over the raw data.
  */
object Hypothesis extends graft.Family {
  /** Shared Welch layers (agg_welch_t): exact-integer moment sums →
    * means + squared standard errors (L1) → t and Welch-Satterthwaite
    * df (L2), every FP op an identical expression on identical operands;
    * outputs on the floor-ppm grid. Squares are written as x*x, never
    * power(x, 2) — libm pow is not guaranteed to equal the product. */
  private val welchL1 = Seq(
    "n1", "n2",
    "s1/n1 AS m1", "s2/n2 AS m2",
    "((q1 - s1*s1/n1)/(n1 - 1))/n1 AS se1",
    "((q2 - s2*s2/n2)/(n2 - 1))/n2 AS se2")
  private val welchL2 = Seq(
    "floor(1e6 * ((m1 - m2) / sqrt(se1 + se2)) + 0.5) / 1e6 AS t_stat",
    "floor(1e6 * (((se1 + se2)*(se1 + se2)) / " +
      "(se1*se1/(n1 - 1) + se2*se2/(n2 - 1))) + 0.5) / 1e6 AS df")

  val defs: Map[String, Q] = Map(

    // Welch's unequal-variance t on order-line price cents, returnflag
    // 'A' vs 'R': one conditional moment aggregate (counts/sums/sums of
    // squares as decimal(38,0) ≡ HUGEINT — exact at any sf), then the
    // shared closed form. The classic two-sample readout alongside
    // agg_mannwhitney's rank test.
    "agg_welch_t" -> ((s, d) => {
      def dec(c: Column) = c.cast("decimal(19,0)")
      val v = round(col("l_extendedprice") * 100).cast("bigint")
      t(s, d, "lineitem")
        .filter(col("l_returnflag").isin("A", "R"))
        .select(when(col("l_returnflag") === "A", 1).otherwise(0).as("a"),
          v.as("v"))
        .agg(
          sum(col("a")).cast("double").as("n1"),
          sum(when(col("a") === 1, dec(col("v")))
            .otherwise(lit(0).cast("decimal(19,0)"))).cast("double").as("s1"),
          sum(when(col("a") === 1, dec(col("v")) * dec(col("v")))
            .otherwise(lit(0).cast("decimal(38,0)"))).cast("double").as("q1"),
          sum(lit(1) - col("a")).cast("double").as("n2"),
          sum(when(col("a") === 0, dec(col("v")))
            .otherwise(lit(0).cast("decimal(19,0)"))).cast("double").as("s2"),
          sum(when(col("a") === 0, dec(col("v")) * dec(col("v")))
            .otherwise(lit(0).cast("decimal(38,0)"))).cast("double").as("q2"))
        .selectExpr(welchL1: _*)
        .selectExpr(welchL2: _*)
    }),

    // Hill tail-index estimator over order totals: γ = mean ln(x_i/x_(k+1))
    // on the top-k order statistics, α = 1/γ. The top-(k+1) set comes from
    // ONE TakeOrdered with a full tiebreak (value desc, orderkey) — the
    // VALUE multiset is deterministic even under ties, and values are
    // exact cents so the only FP is the 200-term ln sum (round-6 safe).
    // Pairs with llm_zipf_slope as the heavy-tail diagnostic family.
    "agg_tail_index" -> ((s, d) => {
      val k = 200
      val top = t(s, d, "orders")
        .select(round(col("o_totalprice") * 100).cast("bigint").as("v"),
          col("o_orderkey"))
        .orderBy(col("v").desc, col("o_orderkey"))
        .limit(k + 1)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("v").desc, col("o_orderkey"))))
      // x_(k+1) = min over the top-(k+1) set — a grouping-less aggregate
      // (scalar broadcast), not a row filter, so the cross join's build
      // side is provably one row
      val xk1 = top.agg(min(col("v")).as("vk"))
      top.filter(col("rnk") <= k)
        .crossJoin(broadcast(xk1))
        .agg(round(avg(log(col("v").cast("double") / col("vk").cast("double"))),
          6).as("gamma"),
          round(lit(1.0) / avg(log(col("v").cast("double")
            / col("vk").cast("double"))), 6).as("alpha"),
          max(col("vk")).as("x_k1"))
    }),

    // Spearman rank correlation between quantity and discount, computed
    // EXACTLY over the (q, d) contingency grid: tie-averaged ranks come
    // from the marginal cumulative counts (2·rank = 2·cum_below + n_v + 1
    // stays integer), and the weighted Pearson over ranks uses
    // decimal(38) ≡ HUGEINT sums — no per-row ranking pass, no global
    // sort; everything is bounded by the VALUE DOMAINS (50 × 11 cells).
    "agg_spearman" -> ((s, d) => {
      val raw = t(s, d, "lineitem").select(
        round(col("l_quantity")).cast("bigint").as("q"),
        round(col("l_discount") * 100).cast("bigint").as("dc"))
      val cells = raw.groupBy(col("q"), col("dc"))
        .agg(count(lit(1)).as("n"))
      def marg(key: String, rank: String) = {
        val w = Window.orderBy(col(key))
          .rowsBetween(Window.unboundedPreceding, 0)
        raw.groupBy(col(key)).agg(count(lit(1)).as("nv"))
          .withColumn("cum", sum(col("nv")).over(w))
          .select(col(key),
            (lit(2) * (col("cum") - col("nv")) + col("nv") + 1).as(rank))
      }
      // widen the OPERANDS, not just the sum: tie-averaged ranks scale
      // with the row count (rq ≈ 2N), so the per-row long product
      // n·rq·rd would silently wrap at ~1e9-1e10 rows while the DuckDB
      // twin's HUGEINT stays exact. decimal(18,0) holds any realistic
      // count/rank; the triple product then lands in decimal(38,0).
      def dec(c: Column) = c.cast("decimal(18,0)")
      def dsum(e: Column) = sum(e).cast("double")
      cells
        .join(broadcast(marg("q", "rq")), Seq("q"))
        .join(broadcast(marg("dc", "rd")), Seq("dc"))
        .agg(sum(col("n")).cast("double").as("w"),
          dsum(dec(col("n")) * dec(col("rq"))).as("sq"),
          dsum(dec(col("n")) * dec(col("rd"))).as("sd"),
          dsum(dec(col("n")) * dec(col("rq")) * dec(col("rq"))).as("sqq"),
          dsum(dec(col("n")) * dec(col("rd")) * dec(col("rd"))).as("sdd"),
          dsum(dec(col("n")) * dec(col("rq")) * dec(col("rd"))).as("sqd"))
        .selectExpr(
          "round((w*sqd - sq*sd) / sqrt((w*sqq - sq*sq) * (w*sdd - sd*sd)), 6) AS spearman_rho")
    }),

    // Kendall tau-b on the same grid: concordant/discordant pair weights
    // from the cell-pair join (|q domain|·|d domain| cells squared —
    // bounded by the domains, never the row count), tie corrections from
    // the marginals. C, D, and the tie terms are exact bigints.
    "agg_kendall_tau" -> ((s, d) => {
      val raw = t(s, d, "lineitem").select(
        round(col("l_quantity")).cast("bigint").as("q"),
        round(col("l_discount") * 100).cast("bigint").as("dc"))
      val cells = raw.groupBy(col("q"), col("dc"))
        .agg(count(lit(1)).as("n"))
        .ckpt(eager = false) // pair join reads both sides
      // decimal(18,0) operands: total C/D grow as N²/2, so a long sum
      // of a.n·b.n wraps silently past ~4e9 rows while DuckDB promotes
      // to HUGEINT — widen before multiplying, like agg_spearman.
      def dec(c: Column) = c.cast("decimal(18,0)")
      val pairs = cells.alias("a")
        .join(broadcast(cells.alias("b")), col("a.q") < col("b.q"))
        .agg(
          sum(when(col("a.dc") < col("b.dc"),
            dec(col("a.n")) * dec(col("b.n")))
            .otherwise(lit(0).cast("decimal(37,0)"))).as("c"),
          sum(when(col("a.dc") > col("b.dc"),
            dec(col("a.n")) * dec(col("b.n")))
            .otherwise(lit(0).cast("decimal(37,0)"))).as("dd"))
      val ties = raw.agg(count(lit(1)).as("nn")).crossJoin(
        raw.groupBy(col("q")).agg(count(lit(1)).as("tq"))
          .agg(sum(col("tq") * (col("tq") - 1)).as("tq2x")).crossJoin(
            raw.groupBy(col("dc")).agg(count(lit(1)).as("td"))
              .agg(sum(col("td") * (col("td") - 1)).as("td2x"))))
      // c/d emitted as DOUBLE: the decimal→double cast is correctly
      // rounded on both engines (DuckDB: HUGEINT→DOUBLE), so the hash
      // contract survives row counts where a BIGINT output would wrap
      pairs.crossJoin(broadcast(ties))
        .selectExpr("CAST(c AS DOUBLE) AS c", "CAST(dd AS DOUBLE) AS d",
          "round(CAST(c - dd AS DOUBLE) / sqrt(" +
            "CAST(nn*(nn - 1) - tq2x AS DOUBLE) / 2.0 * " +
            "(CAST(nn*(nn - 1) - td2x AS DOUBLE) / 2.0)), 6) AS kendall_tau_b")
    }),

    // Difference-in-differences over the 2×2 (variant × before/after
    // midpoint) design: DiD = (Δ treated) − (Δ control), SE from the
    // four cell variances. The midpoint is integer epoch arithmetic on
    // a 1-row min/max aggregate (scalar broadcast); all twelve cell
    // moments come from ONE conditional aggregate over exact cents.
    "evt_did" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(pmod(col("user_id"), lit(2)).as("g"),
          unix_timestamp(col("ts")).as("ut"),
          round(col("value") * 100).cast("bigint").as("v"))
      // `div`, not `/`: fractional division + cast would TRUNCATE on
      // Spark but ROUND on DuckDB for an odd epoch sum; integer floor
      // division agrees on both engines (epochs are positive)
      val mid = ev.agg(min(col("ut")).as("mn"), max(col("ut")).as("mx"))
        .selectExpr("(mn + mx) div 2 AS mid")
      def cell(g: Int, p: Int) = {
        val in = col("g") === g &&
          (if (p == 1) col("ut") >= col("mid") else col("ut") < col("mid"))
        Seq(sum(when(in, 1L).otherwise(0L)).as(s"n$g$p"),
          sum(when(in, col("v")).otherwise(0L)).as(s"sv$g$p"),
          sum(when(in, col("v") * col("v")).otherwise(0L)).as(s"svv$g$p"))
      }
      val cells = Seq(cell(0, 0), cell(0, 1), cell(1, 0), cell(1, 1)).flatten
      val agged = ev.crossJoin(broadcast(mid))
        .agg(cells.head, cells.tail: _*)
      val mexpr = Seq(0, 1).flatMap(g => Seq(0, 1).map(p =>
        s"CAST(sv$g$p AS DOUBLE)/n$g$p AS m$g$p")) ++
        Seq(0, 1).flatMap(g => Seq(0, 1).map(p =>
          s"(CAST(svv$g$p AS DOUBLE)/n$g$p - (CAST(sv$g$p AS DOUBLE)/n$g$p)*(CAST(sv$g$p AS DOUBLE)/n$g$p))/n$g$p AS vm$g$p"))
      agged.selectExpr(mexpr: _*)
        .selectExpr(
          "round(m00/100.0, 6) AS m_ctl_pre", "round(m01/100.0, 6) AS m_ctl_post",
          "round(m10/100.0, 6) AS m_trt_pre", "round(m11/100.0, 6) AS m_trt_post",
          "round(((m11 - m10) - (m01 - m00))/100.0, 6) AS did",
          "round(sqrt(vm00 + vm01 + vm10 + vm11)/100.0, 6) AS se",
          "round(((m11 - m10) - (m01 - m00))/sqrt(vm00 + vm01 + vm10 + vm11), 6) AS t")
    }),

    // TOST equivalence test (±δ = 5.00 on the A/B value metric): the
    // experiment readout "are the variants the SAME within a margin" —
    // the question a nonsignificant t-test does NOT answer. Welch SE
    // from exact cents-bigint moments; both one-sided statistics are
    // identical doubles on both engines, so the equivalence verdict
    // (t_lower > 1.645 ∧ t_upper < −1.645) cannot flip cross-engine.
    "agg_tost_equivalence" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(pmod(col("user_id"), lit(2)).as("variant"),
          round(col("value") * 100).cast("bigint").as("v"))
      ev.agg( // ONE conditional aggregate: no join, 1 row by construction
          sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("variant") === 0, col("v")).otherwise(0L)).as("sv0"),
          sum(when(col("variant") === 0, col("v") * col("v")).otherwise(0L))
            .as("svv0"),
          sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("variant") === 1, col("v")).otherwise(0L)).as("sv1"),
          sum(when(col("variant") === 1, col("v") * col("v")).otherwise(0L))
            .as("svv1"))
        .selectExpr(
          "CAST(sv1 AS DOUBLE)/n1 - CAST(sv0 AS DOUBLE)/n0 AS d",
          "sqrt((CAST(svv0 AS DOUBLE)/n0 - (CAST(sv0 AS DOUBLE)/n0)*(CAST(sv0 AS DOUBLE)/n0))/n0 + (CAST(svv1 AS DOUBLE)/n1 - (CAST(sv1 AS DOUBLE)/n1)*(CAST(sv1 AS DOUBLE)/n1))/n1) AS se")
        .selectExpr("round(d/100.0, 6) AS diff",
          "round(se/100.0, 6) AS se",
          "round((d + 500.0)/se, 6) AS t_lower",
          "round((d - 500.0)/se, 6) AS t_upper",
          "((d + 500.0)/se > 1.645) AND ((d - 500.0)/se < -1.645) AS equivalent")
    }),

    // Single change-point detection (binary-segmentation step) per event
    // type: the split day maximizing the normalized mean-shift statistic
    // |m_pre − m_post|·sqrt(n_pre·n_post/n) over daily revenue. Prefix
    // sums over the BOUNDED daily aggregate give every candidate split in
    // one window pass; the argmax orders by the rounded statistic with a
    // full (type, day) tiebreak, so the pick cannot flip cross-engine.
    "evt_changepoint" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("dy"))
        .agg(sum(round(col("value") * 100).cast("bigint")).as("sv"),
          count(lit(1)).as("nv"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("dy"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy(col("event_type"))
      val scored = daily
        .withColumn("cs", sum(col("sv")).over(w))
        .withColumn("cn", sum(col("nv")).over(w))
        .withColumn("ts_", sum(col("sv")).over(wAll))
        .withColumn("tn", sum(col("nv")).over(wAll))
        .filter(col("cn") < col("tn")) // a split needs a non-empty tail
        .selectExpr("event_type", "dy",
          "CAST(cs AS DOUBLE)/cn AS m_pre",
          "CAST(ts_ - cs AS DOUBLE)/(tn - cn) AS m_post",
          "round(abs(CAST(cs AS DOUBLE)/cn - CAST(ts_ - cs AS DOUBLE)/(tn - cn)) * sqrt(CAST(cn AS DOUBLE) * (tn - cn) / tn), 6) AS shift_stat")
      scored
        .withColumn("rn", row_number().over(Window
          .partitionBy(col("event_type"))
          .orderBy(col("shift_stat").desc, col("dy"))))
        .filter(col("rn") === 1)
        .select(col("event_type"), to_date(col("dy")).as("split_day"),
          round(col("m_pre") / 100.0, 4).as("mean_pre_dollars"),
          round(col("m_post") / 100.0, 4).as("mean_post_dollars"),
          col("shift_stat"))
    }),

    // Mann-Kendall trend test per event type over the daily count
    // series: S = Σ_{i<j} sign(n_j − n_i) — an EXACT integer from the
    // pair self-join over the bounded daily aggregate (|days|² pairs,
    // never raw events) — with the tie-corrected variance
    // (m(m−1)(2m+5) − Σ t(t−1)(2t+5))/18 and the continuity-corrected
    // z. The nonparametric companion to evt_trend's least-squares slope.
    "evt_mann_kendall" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("dy"))
        .agg(count(lit(1)).as("n"))
        .ckpt(eager = false) // pair join + tie groups + m
      val pairs = daily.alias("a")
        .join(daily.alias("b"), col("a.event_type") === col("b.event_type")
          && col("a.dy") < col("b.dy"))
        .groupBy(col("a.event_type").as("event_type"))
        .agg(sum(signum(col("b.n") - col("a.n")).cast("bigint")).as("s"))
      val ties = daily.groupBy(col("event_type"), col("n"))
        .agg(count(lit(1)).as("t"))
        .groupBy(col("event_type"))
        .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tsum"),
          sum(col("t")).as("m"))
      pairs.join(ties, Seq("event_type"))
        .select(col("event_type"), col("s"), col("m"),
          ((col("m") * (col("m") - 1) * (col("m") * 2 + 5) - col("tsum"))
            .cast("double") / 18.0).as("var_s"))
        .select(col("event_type"), col("s"), col("m"),
          round(col("var_s"), 6).as("var_s"),
          round(when(col("s") > 0,
              (col("s") - 1).cast("double") / sqrt(col("var_s")))
            .when(col("s") < 0,
              (col("s") + 1).cast("double") / sqrt(col("var_s")))
            .otherwise(0.0), 6).as("z"))
    }),

    // Theil–Sen robust trend: per event type, the slope estimate is the
    // MEDIAN of all pairwise slopes (n_j − n_i)/(d_j − d_i) over the
    // daily counts — the estimator complement of evt_mann_kendall's S
    // test, resistant to ~29% outliers. Pair volume is bounded by the
    // CALENDAR (|days|² per type), never the event count. Slopes land
    // on an exact ppm grid via floor(1e6·s + 0.5) (bit-deterministic,
    // unlike round), so the median — including the even-count midpoint
    // average, exact at half-integers — is identical on both engines.
    "evt_theil_sen" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("dy"))
        .agg(count(lit(1)).as("n"))
        .ckpt(eager = false) // both pair-join legs
      val slopes = daily.alias("a")
        .join(daily.alias("b"), col("a.event_type") === col("b.event_type")
          && col("a.dy") < col("b.dy"))
        .select(col("a.event_type").as("event_type"),
          floor((col("b.n") - col("a.n")).cast("double") * 1e6 /
            datediff(col("b.dy"), col("a.dy")).cast("double") + 0.5)
            .as("sppm"))
      slopes.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"),
          (expr("percentile(sppm, 0.5)") / 1e6).as("slope_per_day"))
    }),

    // Mann-Whitney U on l_extendedprice, 'A' returns vs 'R' returns.
    // Group by exact cent value first (the rank of a value depends only
    // on the counts below it), then ONE distributed prefix sum gives
    // every value's cumulative count; the tie-averaged rank sum doubled
    // is pure bigint: 2·R1 = Σ_v n1_v · (2·cum_below + n_v + 1).
    // σ uses the standard tie correction Σ(t³−t). Bounds: 2·R1 ≤ 2n²
    // (~7·10¹¹ at sf0.1) — bigint holds to ~2·10⁹ rows; past that,
    // switch the two sums to DECIMAL(38,0).
    "agg_mannwhitney" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .filter(col("l_returnflag").isin("A", "R"))
        .select(round(col("l_extendedprice") * 100).cast("bigint").as("v"),
          when(col("l_returnflag") === "A", 1L).otherwise(0L).as("g1"))
      val byv = li.groupBy(col("v"))
        .agg(count(lit(1)).as("n_v"), sum(col("g1")).as("n1_v"))
      val cum = Partitioning.rankedCumSum(
        byv, col("n_v"), Seq(col("v")), 32, "cum_n")
      cum.agg(
          sum(col("n1_v")).as("n1"),
          sum(col("n_v") - col("n1_v")).as("n2"),
          sum(col("n1_v") * (lit(2) * (col("cum_n") - col("n_v"))
            + col("n_v") + 1)).as("r1x2"),
          sum(col("n_v") * col("n_v") * col("n_v") - col("n_v")).as("tie3"))
        .select(col("n1"), col("n2"),
          ((col("r1x2") - col("n1") * (col("n1") + 1)) / 2.0).as("u1"),
          round(((col("r1x2") - col("n1") * (col("n1") + 1))
              - col("n1") * col("n2")).cast("double")
            / (lit(2.0) * sqrt(
              (col("n1").cast("double") * col("n2") / 12.0)
                * ((col("n1") + col("n2") + 1)
                  - col("tie3").cast("double")
                    / ((col("n1") + col("n2"))
                      * (col("n1") + col("n2") - 1)).cast("double")))),
            6).as("z"))
    }),

    // Benjamini-Hochberg step-up FDR at q = 0.10 over one two-proportion
    // z-test per event type (converted = any event of that type with
    // value > 150; variant = user_id parity, the evt_ab_test split).
    // Counts are exact integers; z is elementary arithmetic on them; the
    // two-sided p comes from the A&S 7.1.26 polynomial tail (max abs
    // error 7.5e-8, well inside the 8-decimal rounding both engines
    // apply before the step-up comparison). The BH windows order ≤
    // |event types| rows — a bounded aggregate, so the unpartitioned
    // window is O(types), never data-sized.
    "agg_fdr_bh" -> ((s, d) => {
      val perUser = t(s, d, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(max(when(col("value") > 150.0, 1L).otherwise(0L)).as("conv"))
        .withColumn("variant", pmod(col("user_id"), lit(2)))
      val perType = perUser.groupBy(col("event_type"))
        .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("u0"),
          sum(when(col("variant") === 0, col("conv")).otherwise(0L)).as("c0"),
          sum(when(col("variant") === 1, 1L).otherwise(0L)).as("u1"),
          sum(when(col("variant") === 1, col("conv")).otherwise(0L)).as("c1"))
      val pPool = (col("c0") + col("c1")).cast("double") / (col("u0") + col("u1"))
      val z = (col("c1").cast("double") / col("u1")
          - col("c0").cast("double") / col("u0")) /
        sqrt(pPool * (lit(1.0) - pPool)
          * (lit(1.0) / col("u0") + lit(1.0) / col("u1")))
      val az = abs(col("z"))
      val tt = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
      val tail = exp(-az * az / 2.0) * 0.3989422804014327 *
        (tt * (lit(0.319381530) + tt * (lit(-0.356563782)
          + tt * (lit(1.781477937) + tt * (lit(-1.821255978)
          + tt * lit(1.330274429))))))
      val scored = perType
        .select(col("event_type"), round(z, 6).as("z"))
        .withColumn("p", round(lit(2.0) * tail, 8))
      val wAll = Window.orderBy(col("p_rank")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      scored
        .withColumn("p_rank", row_number().over(
          Window.orderBy(col("p"), col("event_type"))))
        .withColumn("m", count(lit(1)).over(wAll))
        // identical comparison form on both engines: p·m ≤ q·rank
        .withColumn("ok", col("p") * col("m") <= lit(0.10) * col("p_rank"))
        .withColumn("kmax", max(when(col("ok"), col("p_rank")).otherwise(0))
          .over(wAll))
        .select(col("event_type"), col("z"), col("p"), col("p_rank"),
          (col("p_rank") <= col("kmax")).as("rejected"))
    }),

    // Kaplan-Meier over user lifetimes (days between first and last
    // event). A user "churns" (event observed) if their last event is
    // more than 1 day before the observation horizon = max(ts);
    // otherwise they are right-censored. (The synthetic users are all
    // active to within ~3 days of the horizon, so a longer silence
    // cutoff would censor everyone and leave an empty curve.) S(t) = Π_{tᵢ≤t, dᵢ>0}
    // (1 − dᵢ/nᵢ) with nᵢ = users whose lifetime ≥ tᵢ. Time arithmetic
    // is exact integer micros; the curve windows run over the ≤
    // |distinct lifetime days| aggregate (~tens of rows), not users.
    "evt_kaplan_meier" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("user_id"), col("ts"))
      val horizon = ev.agg(max(unix_micros(col("ts"))).as("h_us"))
      val perUser = ev.groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("first_us"),
          max(unix_micros(col("ts"))).as("last_us"))
      val dayUs = 86400000000L
      // exact integer day division — `div` / `//`, never a double
      // quotient cast back (DuckDB rounds double→bigint casts while
      // Spark truncates; the SpatialGrid ADVICE item, same trap).
      val labeled = perUser.crossJoin(broadcast(horizon))
        .select(expr(s"(last_us - first_us) div $dayUs").as("life_d"),
          when(col("last_us") < col("h_us") - lit(1L) * dayUs, 1L)
            .otherwise(0L).as("churned"))
      val byd = labeled.groupBy(col("life_d"))
        .agg(count(lit(1)).as("n_at"), sum(col("churned")).as("d_events"))
      val wBefore = Window.orderBy(col("life_d"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.orderBy(col("life_d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy(col("life_d")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      byd
        .withColumn("n_risk",
          sum(col("n_at")).over(wAll)
            - coalesce(sum(col("n_at")).over(wBefore), lit(0L)))
        .withColumn("term",
          when(col("d_events") < col("n_risk"),
            log(lit(1.0) - col("d_events").cast("double") / col("n_risk")))
            .otherwise(lit(0.0)))
        .withColumn("dead",
          max(when(col("d_events") >= col("n_risk"), 1).otherwise(0))
            .over(wCum))
        .withColumn("survival",
          when(col("dead") === 1, lit(0.0))
            .otherwise(round(exp(sum(col("term")).over(wCum)), 6)))
        .filter(col("d_events") > 0)
        .select(col("life_d"), col("n_risk"), col("d_events"), col("survival"))
    }),

    // CUPED variance reduction (Deng et al. 2013, WSDM — "Improving the
    // Sensitivity of Online Controlled Experiments"): the pre-period
    // covariate X = per-user spend in the first 14 days, the experiment
    // metric Y = per-user spend after; the adjusted metric
    // Y − θ(X − X̄) with θ = cov(X,Y)/var(X) (pooled) keeps the same
    // mean but sheds the variance X explains. EVERYTHING that decides
    // the answer is exact integer arithmetic: cents-bigint per-user
    // sums, bigint moment sums (Σx, Σy, Σx², Σxy, Σy²) per variant —
    // θ and the variances come from those exact moments, so
    // partial-aggregation order cannot move a digit. Variances via the
    // moment identity var(Y−θX) = (Σy² − 2θΣxy + θ²Σx² − (Σy−θΣx)²/n)
    // /(n−1). Two aggregate rows total; the pooled θ is a 1-row
    // broadcast.
    // intraclass correlation + design effect (survey sampling's DEFF =
    // 1 + (m̄ − 1)·ICC — how much clustering inflates the variance of a
    // mean, the number that sizes any cluster-sampled experiment): one-way
    // ANOVA over price cents clustered by supplier nation. EXACT
    // sufficient statistics: N, k, Σy, Σy² and per-group (n_g, S_g) are
    // all integer aggregates; the one per-group rational S_g²/n_g is a
    // single double division FLOOR-QUANTIZED TO AN INTEGER before the
    // k-group sum (magnitudes ~1e17 — the unit floor loses nothing and
    // the sum becomes order-independent; the raw 25-double sum would
    // not be). ICC via ANOVA estimator with the unequal-cluster n₀.
    "agg_icc_deff" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val su = t(s, d, "supplier")
      val rows = li.join(su, li("l_suppkey") === su("s_suppkey"))
        .select(su("s_nationkey").cast("bigint").as("g"),
          round(col("l_extendedprice") * 100).cast("bigint").as("y"))
      val perG = rows.groupBy(col("g"))
        .agg(count(lit(1)).as("n_g"),
          sum(col("y").cast("decimal(38,0)")).as("s_g"))
        .select(col("g"), col("n_g"), col("s_g"),
          floor(col("s_g").cast("double") * col("s_g").cast("double")
            / col("n_g").cast("double")).cast("decimal(38,0)").as("sq_over_n"))
      // the sums-of-squares live near 1e19–1e24 at sf0.1: casting syy and
      // sqn to double SEPARATELY and subtracting let each cast drift an
      // ulp per engine and the cancellation amplified it past round-2
      // (the sf0.1 parity probe caught msw off by 0.01) — so both SS
      // differences are formed in EXACT decimal and cast to double ONCE
      // (ssb is carried ×n so sy²/n never leaves the integer grid)
      val tot = rows.agg(
        count(lit(1)).as("n_l"),
        sum(col("y").cast("decimal(38,0)")).as("sy_d"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy_d"))
      perG.agg(count(lit(1)).cast("double").as("k"),
          sum(col("sq_over_n")).as("sqn_d"),
          sum((col("n_g") * col("n_g")).cast("decimal(38,0)"))
            .cast("double").as("sn2"))
        .crossJoin(broadcast(tot))
        .selectExpr("k", "CAST(n_l AS DOUBLE) AS n", "sn2",
          "CAST(sqn_d * CAST(n_l AS DECIMAL(38,0)) - sy_d * sy_d" +
            " AS DOUBLE) AS ssbn",
          "CAST(syy_d - sqn_d AS DOUBLE) AS ssw")
        .selectExpr("k", "n",
          "(n - sn2/n) / (k - 1.0) AS n0",
          "ssbn / (n * (k - 1.0)) AS msb", "ssw / (n - k) AS msw")
        .selectExpr(
          "CAST(k AS BIGINT) AS k_groups", "CAST(n AS BIGINT) AS n",
          "round(msb, 2) AS msb", "round(msw, 2) AS msw",
          "CAST(floor(1e6 * (msb - msw) / (msb + (n0 - 1.0)*msw) + 0.5)" +
            " AS BIGINT) AS icc_ppm",
          "CAST(floor(1e6 * (1.0 + (n/k - 1.0)" +
            " * ((msb - msw) / (msb + (n0 - 1.0)*msw))) + 0.5)" +
            " AS BIGINT) AS deff_x1e6")
    }),

    "agg_cuped" -> ((s, d) => {
      val dayUs = 86400000000L
      val ev = t(s, d, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          round(col("value") * 100).cast("bigint").as("cents"))
      val start = ev.agg(min(col("ts_us")).as("t0"))
      val perUser = ev.crossJoin(broadcast(start))
        .groupBy(col("user_id"))
        .agg(sum(when(col("ts_us") < col("t0") + lit(14L) * dayUs,
            col("cents")).otherwise(0L)).as("x"),
          sum(when(col("ts_us") >= col("t0") + lit(14L) * dayUs,
            col("cents")).otherwise(0L)).as("y"))
        .withColumn("variant", pmod(col("user_id"), lit(2)))
      val perVariant = perUser.groupBy(col("variant"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("y") * col("y")).as("syy"))
      val pooled = perVariant.agg(sum(col("n")).as("pn"),
          sum(col("sx")).as("psx"), sum(col("sy")).as("psy"),
          sum(col("sxx")).as("psxx"), sum(col("sxy")).as("psxy"))
        .select(
          ((col("pn") * col("psxy") - col("psx") * col("psy")).cast("double")
            / (col("pn") * col("psxx") - col("psx") * col("psx"))
              .cast("double")).as("theta"),
          (col("psx").cast("double") / col("pn")).as("mean_x"))
      val varY = (col("syy").cast("double")
        - col("sy").cast("double") * col("sy") / col("n")) / (col("n") - 1)
      val varC = (col("syy") - lit(2.0) * col("theta") * col("sxy")
        + col("theta") * col("theta") * col("sxx")
        - (col("sy") - col("theta") * col("sx"))
          * (col("sy") - col("theta") * col("sx")) / col("n"))
        .cast("double") / (col("n") - 1)
      perVariant.crossJoin(broadcast(pooled))
        .select(col("variant"), col("n").as("n_users"),
          round(col("theta"), 6).as("theta"),
          round(col("sy").cast("double") / col("n") / 100.0, 6).as("mean_y"),
          round((col("sy").cast("double")
            - col("theta") * (col("sx") - col("n") * col("mean_x")))
            / col("n") / 100.0, 6).as("mean_y_cuped"),
          round(lit(1.0) - varC / varY, 6).as("var_reduction"))
    }),

    // fuzzy key matching by edit distance: dedupe the key DOMAIN first
    // (distinct part names with their frequencies — |domain| ≪ rows),
    // block on the head noun (last token), then pair only within a
    // block and keep levenshtein ≤ 3. The quadratic step is over
    // per-block distinct keys, never over rows, and the distinct-name
    // table broadcasts — the standard scalable shape for typo-joins.
    "join_fuzzy_levenshtein" -> ((s, d) => {
      val names = t(s, d, "part")
        .groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).as("n_parts"))
        .withColumn("noun", split_part(col("name"), lit(" "), lit(2)))
      names.select(col("name").as("name_a"), col("n_parts").as("n_a"),
          col("noun"))
        .join(broadcast(names.select(col("name").as("name_b"),
          col("n_parts").as("n_b"), col("noun"))), Seq("noun"))
        .filter(col("name_a") < col("name_b"))
        .withColumn("lev", levenshtein(col("name_a"), col("name_b")))
        .filter(col("lev") <= 3)
        .select(col("name_a"), col("name_b"), col("lev"),
          col("n_a"), col("n_b"))
    })
  )

  private def sel(exprs: Seq[String]) = exprs.mkString(", ")

  val sql: Map[String, String] = Map(
    "agg_icc_deff" -> """
      WITH rows_ AS (
        SELECT CAST(s.s_nationkey AS BIGINT) AS g,
               CAST(ROUND(l_extendedprice*100) AS BIGINT) AS y
        FROM lineitem li JOIN supplier s ON li.l_suppkey = s.s_suppkey
      ), perg AS (
        SELECT g, count(*) AS n_g, sum(y) AS s_g FROM rows_ GROUP BY g
      ), perg2 AS (
        SELECT g, n_g,
               CAST(floor(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                 / CAST(n_g AS DOUBLE)) AS HUGEINT) AS sq_over_n
        FROM perg
      ), tot AS (
        SELECT CAST(count(*) AS HUGEINT) AS n_i,
               CAST(sum(y) AS HUGEINT) AS sy_i,
               CAST(sum(y*y) AS HUGEINT) AS syy_i
        FROM rows_
      ), agg AS (
        SELECT CAST(count(*) AS DOUBLE) AS k,
               CAST(sum(sq_over_n) AS HUGEINT) AS sqn_i,
               CAST(sum(n_g * n_g) AS DOUBLE) AS sn2
        FROM perg2
      ), l1 AS (
        -- SS differences formed in exact HUGEINT, cast to double ONCE
        -- (mirrors the engine's single-decimal-cast discipline)
        SELECT k, n, n0,
               ssbn / (n * (k - 1.0)) AS msb, ssw / (n - k) AS msw
        FROM (SELECT a.k, CAST(t.n_i AS DOUBLE) AS n,
                     CAST(a.sqn_i * t.n_i - t.sy_i * t.sy_i AS DOUBLE)
                       AS ssbn,
                     CAST(t.syy_i - a.sqn_i AS DOUBLE) AS ssw,
                     (CAST(t.n_i AS DOUBLE) - a.sn2/CAST(t.n_i AS DOUBLE))
                       / (a.k - 1.0) AS n0
              FROM agg a, tot t)
      )
      SELECT CAST(k AS BIGINT) AS k_groups, CAST(n AS BIGINT) AS n,
             round(msb, 2) AS msb, round(msw, 2) AS msw,
             CAST(floor(1e6 * (msb - msw) / (msb + (n0 - 1.0)*msw) + 0.5)
               AS BIGINT) AS icc_ppm,
             CAST(floor(1e6 * (1.0 + (n/k - 1.0)
               * ((msb - msw) / (msb + (n0 - 1.0)*msw))) + 0.5)
               AS BIGINT) AS deff_x1e6
      FROM l1""",

    "agg_welch_t" ->
      s"""WITH cells AS (
        |  SELECT CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS a,
        |         CAST(round(l_extendedprice*100) AS BIGINT) AS v
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')
        |), sums AS (
        |  SELECT CAST(sum(a) AS DOUBLE) AS n1,
        |         CAST(sum(CASE WHEN a = 1 THEN v ELSE 0 END) AS DOUBLE)
        |           AS s1,
        |         CAST(sum(CASE WHEN a = 1 THEN CAST(v AS HUGEINT)*v
        |                       ELSE 0 END) AS DOUBLE) AS q1,
        |         CAST(sum(1 - a) AS DOUBLE) AS n2,
        |         CAST(sum(CASE WHEN a = 0 THEN v ELSE 0 END) AS DOUBLE)
        |           AS s2,
        |         CAST(sum(CASE WHEN a = 0 THEN CAST(v AS HUGEINT)*v
        |                       ELSE 0 END) AS DOUBLE) AS q2
        |  FROM cells
        |), l1 AS (SELECT ${sel(welchL1)} FROM sums)
        |SELECT ${sel(welchL2)} FROM l1""".stripMargin,

    "agg_spearman" -> """
      WITH raw AS (
        SELECT CAST(ROUND(l_quantity) AS BIGINT) AS q,
               CAST(ROUND(l_discount*100) AS BIGINT) AS dc
        FROM lineitem
      ), cells AS (
        SELECT q, dc, count(*) AS n FROM raw GROUP BY 1, 2
      ), mq AS (
        SELECT q, 2 * (cum - nv) + nv + 1 AS rq
        FROM (SELECT q, count(*) AS nv,
                     sum(count(*)) OVER (ORDER BY q
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
              FROM raw GROUP BY q)
      ), md AS (
        SELECT dc, 2 * (cum - nv) + nv + 1 AS rd
        FROM (SELECT dc, count(*) AS nv,
                     sum(count(*)) OVER (ORDER BY dc
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
              FROM raw GROUP BY dc)
      ), sums AS (
        -- HUGEINT operands mirror the Spark side's decimal(18,0)
        -- widening: the per-row triple product must not wrap either
        SELECT CAST(sum(n) AS DOUBLE) AS w,
               CAST(sum(CAST(n AS HUGEINT) * rq) AS DOUBLE) AS sq,
               CAST(sum(CAST(n AS HUGEINT) * rd) AS DOUBLE) AS sd,
               CAST(sum(CAST(n AS HUGEINT) * rq * rq) AS DOUBLE) AS sqq,
               CAST(sum(CAST(n AS HUGEINT) * rd * rd) AS DOUBLE) AS sdd,
               CAST(sum(CAST(n AS HUGEINT) * rq * rd) AS DOUBLE) AS sqd
        FROM cells c JOIN mq ON mq.q = c.q JOIN md ON md.dc = c.dc
      )
      SELECT round((w*sqd - sq*sd)
                   / sqrt((w*sqq - sq*sq) * (w*sdd - sd*sd)), 6)
               AS spearman_rho
      FROM sums""",

    "agg_kendall_tau" -> """
      WITH raw AS (
        SELECT CAST(ROUND(l_quantity) AS BIGINT) AS q,
               CAST(ROUND(l_discount*100) AS BIGINT) AS dc
        FROM lineitem
      ), cells AS (
        SELECT q, dc, count(*) AS n FROM raw GROUP BY 1, 2
      ), pairs AS (
        -- HUGEINT operands + DOUBLE output mirror the Spark side's
        -- decimal widening: C/D grow as N²/2, past BIGINT at ~4e9 rows
        SELECT
          sum(CASE WHEN a.dc < b.dc
                   THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END) AS ch,
          sum(CASE WHEN a.dc > b.dc
                   THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END) AS dh
        FROM cells a JOIN cells b ON a.q < b.q
      ), ties AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM raw) AS nn,
               (SELECT CAST(sum(tq * (tq - 1)) AS BIGINT)
                FROM (SELECT count(*) AS tq FROM raw GROUP BY q)) AS tq2x,
               (SELECT CAST(sum(td * (td - 1)) AS BIGINT)
                FROM (SELECT count(*) AS td FROM raw GROUP BY dc)) AS td2x
      )
      SELECT CAST(p.ch AS DOUBLE) AS c, CAST(p.dh AS DOUBLE) AS d,
             round(CAST(p.ch - p.dh AS DOUBLE) / sqrt(CAST(t.nn*(t.nn - 1) - t.tq2x AS DOUBLE) / 2.0 * (CAST(t.nn*(t.nn - 1) - t.td2x AS DOUBLE) / 2.0)), 6) AS kendall_tau_b
      FROM pairs p CROSS JOIN ties t""",

    "evt_did" -> """
      WITH ev AS (
        SELECT user_id % 2 AS g,
               -- FLOOR before the cast: ts carries sub-second precision,
               -- Spark's unix_timestamp floors but DuckDB's double cast
               -- would round
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS ut,
               CAST(ROUND(value * 100) AS BIGINT) AS v
        FROM events
      ), mid AS (
        SELECT (min(ut) + max(ut)) // 2 AS mid FROM ev
      ), cells AS (
        SELECT
          CAST(sum(CASE WHEN g = 0 AND ut < mid THEN 1 ELSE 0 END) AS BIGINT) AS n00,
          CAST(sum(CASE WHEN g = 0 AND ut < mid THEN v ELSE 0 END) AS BIGINT) AS sv00,
          CAST(sum(CASE WHEN g = 0 AND ut < mid THEN v*v ELSE 0 END) AS BIGINT) AS svv00,
          CAST(sum(CASE WHEN g = 0 AND ut >= mid THEN 1 ELSE 0 END) AS BIGINT) AS n01,
          CAST(sum(CASE WHEN g = 0 AND ut >= mid THEN v ELSE 0 END) AS BIGINT) AS sv01,
          CAST(sum(CASE WHEN g = 0 AND ut >= mid THEN v*v ELSE 0 END) AS BIGINT) AS svv01,
          CAST(sum(CASE WHEN g = 1 AND ut < mid THEN 1 ELSE 0 END) AS BIGINT) AS n10,
          CAST(sum(CASE WHEN g = 1 AND ut < mid THEN v ELSE 0 END) AS BIGINT) AS sv10,
          CAST(sum(CASE WHEN g = 1 AND ut < mid THEN v*v ELSE 0 END) AS BIGINT) AS svv10,
          CAST(sum(CASE WHEN g = 1 AND ut >= mid THEN 1 ELSE 0 END) AS BIGINT) AS n11,
          CAST(sum(CASE WHEN g = 1 AND ut >= mid THEN v ELSE 0 END) AS BIGINT) AS sv11,
          CAST(sum(CASE WHEN g = 1 AND ut >= mid THEN v*v ELSE 0 END) AS BIGINT) AS svv11
        FROM ev CROSS JOIN mid
      ), m AS (
        SELECT CAST(sv00 AS DOUBLE)/n00 AS m00,
               CAST(sv01 AS DOUBLE)/n01 AS m01,
               CAST(sv10 AS DOUBLE)/n10 AS m10,
               CAST(sv11 AS DOUBLE)/n11 AS m11,
               (CAST(svv00 AS DOUBLE)/n00 - (CAST(sv00 AS DOUBLE)/n00)*(CAST(sv00 AS DOUBLE)/n00))/n00 AS vm00,
               (CAST(svv01 AS DOUBLE)/n01 - (CAST(sv01 AS DOUBLE)/n01)*(CAST(sv01 AS DOUBLE)/n01))/n01 AS vm01,
               (CAST(svv10 AS DOUBLE)/n10 - (CAST(sv10 AS DOUBLE)/n10)*(CAST(sv10 AS DOUBLE)/n10))/n10 AS vm10,
               (CAST(svv11 AS DOUBLE)/n11 - (CAST(sv11 AS DOUBLE)/n11)*(CAST(sv11 AS DOUBLE)/n11))/n11 AS vm11
        FROM cells
      )
      SELECT round(m00/100.0, 6) AS m_ctl_pre, round(m01/100.0, 6) AS m_ctl_post,
             round(m10/100.0, 6) AS m_trt_pre, round(m11/100.0, 6) AS m_trt_post,
             round(((m11 - m10) - (m01 - m00))/100.0, 6) AS did,
             round(sqrt(vm00 + vm01 + vm10 + vm11)/100.0, 6) AS se,
             round(((m11 - m10) - (m01 - m00))/sqrt(vm00 + vm01 + vm10 + vm11), 6) AS t
      FROM m""",

    "agg_tost_equivalence" -> """
      WITH ev AS (
        SELECT user_id % 2 AS variant,
               CAST(ROUND(value * 100) AS BIGINT) AS v
        FROM events
      ), ab AS (
        SELECT
          CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
          CAST(sum(CASE WHEN variant = 0 THEN v ELSE 0 END) AS BIGINT) AS sv0,
          CAST(sum(CASE WHEN variant = 0 THEN v*v ELSE 0 END) AS BIGINT)
            AS svv0,
          CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(sum(CASE WHEN variant = 1 THEN v ELSE 0 END) AS BIGINT) AS sv1,
          CAST(sum(CASE WHEN variant = 1 THEN v*v ELSE 0 END) AS BIGINT)
            AS svv1
        FROM ev
      ), st AS (
        SELECT CAST(sv1 AS DOUBLE)/n1 - CAST(sv0 AS DOUBLE)/n0 AS d,
               sqrt((CAST(svv0 AS DOUBLE)/n0 - (CAST(sv0 AS DOUBLE)/n0)*(CAST(sv0 AS DOUBLE)/n0))/n0 + (CAST(svv1 AS DOUBLE)/n1 - (CAST(sv1 AS DOUBLE)/n1)*(CAST(sv1 AS DOUBLE)/n1))/n1) AS se
        FROM ab
      )
      SELECT round(d/100.0, 6) AS diff,
             round(se/100.0, 6) AS se,
             round((d + 500.0)/se, 6) AS t_lower,
             round((d - 500.0)/se, 6) AS t_upper,
             ((d + 500.0)/se > 1.645) AND ((d - 500.0)/se < -1.645)
               AS equivalent
      FROM st""",

    "evt_changepoint" -> """
      WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS dy,
               sum(CAST(ROUND(value * 100) AS BIGINT)) AS sv,
               count(*) AS nv
        FROM events GROUP BY 1, 2
      ), pre AS (
        SELECT event_type, dy,
               sum(sv) OVER w AS cs, sum(nv) OVER w AS cn,
               sum(sv) OVER wt AS ts_, sum(nv) OVER wt AS tn
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY dy
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wt AS (PARTITION BY event_type)
      ), scored AS (
        SELECT event_type, dy,
               CAST(cs AS DOUBLE)/cn AS m_pre,
               CAST(ts_ - cs AS DOUBLE)/(tn - cn) AS m_post,
               round(abs(CAST(cs AS DOUBLE)/cn - CAST(ts_ - cs AS DOUBLE)/(tn - cn)) * sqrt(CAST(cn AS DOUBLE) * (tn - cn) / tn), 6) AS shift_stat
        FROM pre WHERE cn < tn
      )
      SELECT event_type, CAST(dy AS DATE) AS split_day,
             round(m_pre / 100.0, 4) AS mean_pre_dollars,
             round(m_post / 100.0, 4) AS mean_post_dollars,
             shift_stat
      FROM (SELECT *, row_number() OVER (PARTITION BY event_type
              ORDER BY shift_stat DESC, dy) AS rn
            FROM scored)
      WHERE rn = 1""",

    "evt_theil_sen" -> """
      WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS dy, count(*) AS n
        FROM events GROUP BY 1, 2
      ), slopes AS (
        SELECT a.event_type,
               floor(CAST(b.n - a.n AS DOUBLE) * 1e6 /
                     CAST(date_diff('day', a.dy, b.dy) AS DOUBLE) + 0.5)
                 AS sppm
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.dy < b.dy
      )
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
             quantile_cont(sppm, 0.5) / 1e6 AS slope_per_day
      FROM slopes GROUP BY event_type""",

    "evt_mann_kendall" -> """
      WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS dy, count(*) AS n
        FROM events GROUP BY 1, 2
      ), pairs AS (
        SELECT a.event_type,
               CAST(sum(sign(b.n - a.n)) AS BIGINT) AS s
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.dy < b.dy
        GROUP BY a.event_type
      ), ties AS (
        SELECT event_type,
               CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum,
               CAST(sum(t) AS BIGINT) AS m
        FROM (SELECT event_type, n, count(*) AS t
              FROM daily GROUP BY 1, 2)
        GROUP BY event_type
      ), scored AS (
        SELECT p.event_type, p.s, t.m,
               CAST(t.m * (t.m - 1) * (2 * t.m + 5) - t.tsum AS DOUBLE)
                 / 18.0 AS var_s
        FROM pairs p JOIN ties t ON t.event_type = p.event_type
      )
      SELECT event_type, s, m, round(var_s, 6) AS var_s,
             round(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(var_s)
                        WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var_s)
                        ELSE 0.0 END, 6) AS z
      FROM scored""",

    "agg_tail_index" -> """
      WITH top AS (
        SELECT v, row_number() OVER (ORDER BY v DESC, o_orderkey) AS rnk
        FROM (SELECT CAST(ROUND(o_totalprice*100) AS BIGINT) AS v,
                     o_orderkey
              FROM orders
              ORDER BY v DESC, o_orderkey
              LIMIT 201)
      ), xk1 AS (
        SELECT min(v) AS vk FROM top
      )
      SELECT round(avg(ln(CAST(t.v AS DOUBLE) / CAST(x.vk AS DOUBLE))), 6)
               AS gamma,
             round(1.0 / avg(ln(CAST(t.v AS DOUBLE) / CAST(x.vk AS DOUBLE))), 6)
               AS alpha,
             max(x.vk) AS x_k1
      FROM top t CROSS JOIN xk1 x
      WHERE t.rnk <= 200""",

    "agg_mannwhitney" -> """
      WITH li AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
               CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS g1
        FROM lineitem WHERE l_returnflag IN ('A', 'R')
      ), byv AS (
        SELECT v, count(*) AS n_v, sum(g1) AS n1_v FROM li GROUP BY v
      ), cum AS (
        SELECT *, sum(n_v) OVER (ORDER BY v) AS cum_n FROM byv
      ), p AS (
        SELECT CAST(sum(n1_v) AS BIGINT) AS n1,
               CAST(sum(n_v - n1_v) AS BIGINT) AS n2,
               CAST(sum(n1_v * (2 * (cum_n - n_v) + n_v + 1)) AS BIGINT) AS r1x2,
               CAST(sum(n_v * n_v * n_v - n_v) AS BIGINT) AS tie3
        FROM cum
      )
      SELECT n1, n2,
             (r1x2 - n1 * (n1 + 1)) / 2.0 AS u1,
             round(CAST((r1x2 - n1 * (n1 + 1)) - n1 * n2 AS DOUBLE)
               / (2.0 * sqrt(
                   (CAST(n1 AS DOUBLE) * n2 / 12.0)
                     * ((n1 + n2 + 1)
                       - CAST(tie3 AS DOUBLE)
                         / CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE)))),
               6) AS z
      FROM p""",

    "agg_fdr_bh" -> """
      WITH per_user AS (
        SELECT user_id, event_type,
               max(CASE WHEN value > 150 THEN 1 ELSE 0 END) AS conv,
               user_id % 2 AS variant
        FROM events GROUP BY user_id, event_type
      ), per_type AS (
        SELECT event_type,
               sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS u0,
               sum(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS c0,
               sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS u1,
               sum(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS c1
        FROM per_user GROUP BY event_type
      ), zs AS (
        SELECT event_type,
               (CAST(c1 AS DOUBLE) / u1 - CAST(c0 AS DOUBLE) / u0)
                 / sqrt((CAST(c0 + c1 AS DOUBLE) / (u0 + u1))
                   * (1.0 - CAST(c0 + c1 AS DOUBLE) / (u0 + u1))
                   * (1.0 / u0 + 1.0 / u1)) AS z
        FROM per_type
      ), zr AS (
        -- p is computed from the ROUNDED z on both engines, so a 1-ulp
        -- moment-summation difference cannot move the p-value.
        SELECT event_type, round(z, 6) AS z FROM zs
      ), ps AS (
        SELECT event_type, z,
               round(2.0 * exp(-abs(z) * abs(z) / 2.0) * 0.3989422804014327
                 * ((1.0 / (1.0 + 0.2316419 * abs(z)))
                   * (0.319381530 + (1.0 / (1.0 + 0.2316419 * abs(z)))
                     * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * abs(z)))
                       * (1.781477937 + (1.0 / (1.0 + 0.2316419 * abs(z)))
                         * (-1.821255978 + (1.0 / (1.0 + 0.2316419 * abs(z)))
                           * 1.330274429))))), 8) AS p
        FROM zr
      ), ranked AS (
        SELECT event_type, z, p,
               row_number() OVER (ORDER BY p, event_type) AS p_rank,
               count(*) OVER () AS m
        FROM ps
      ), cut AS (
        SELECT *, max(CASE WHEN p * m <= 0.10 * p_rank
                      THEN p_rank ELSE 0 END) OVER () AS kmax
        FROM ranked
      )
      SELECT event_type, z, p, p_rank, p_rank <= kmax AS rejected
      FROM cut""",

    "evt_kaplan_meier" -> """
      WITH ev AS (
        SELECT user_id, epoch_us(ts) AS ts_us FROM events
      ), horizon AS (
        SELECT max(ts_us) AS h_us FROM ev
      ), per_user AS (
        SELECT user_id, min(ts_us) AS first_us, max(ts_us) AS last_us
        FROM ev GROUP BY user_id
      ), labeled AS (
        SELECT (last_us - first_us) // 86400000000 AS life_d,
               CASE WHEN last_us < h_us - 1 * 86400000000::BIGINT
                    THEN 1 ELSE 0 END AS churned
        FROM per_user CROSS JOIN horizon
      ), byd AS (
        SELECT life_d, count(*) AS n_at, sum(churned) AS d_events
        FROM labeled GROUP BY life_d
      ), risk AS (
        SELECT life_d, CAST(n_at AS BIGINT) AS n_at,
               CAST(d_events AS BIGINT) AS d_events,
               CAST(sum(n_at) OVER () AS BIGINT)
                 - CAST(coalesce(sum(n_at) OVER (ORDER BY life_d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS n_risk
        FROM byd
      ), curve AS (
        SELECT *,
               CASE WHEN d_events < n_risk
                    THEN ln(1.0 - CAST(d_events AS DOUBLE) / n_risk)
                    ELSE 0.0 END AS term,
               max(CASE WHEN d_events >= n_risk THEN 1 ELSE 0 END)
                 OVER (ORDER BY life_d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
        FROM risk
      )
      SELECT life_d, n_risk, d_events,
             CASE WHEN dead = 1 THEN 0.0
                  ELSE round(exp(sum(term) OVER (ORDER BY life_d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
             END AS survival
      FROM curve
      WHERE d_events > 0""",

    "agg_cuped" -> """
      WITH ev AS (
        SELECT user_id, epoch_us(ts) AS ts_us,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
      ), start AS (
        SELECT min(ts_us) AS t0 FROM ev
      ), per_user AS (
        SELECT user_id,
               sum(CASE WHEN ts_us < t0 + 14 * 86400000000::BIGINT
                   THEN cents ELSE 0 END) AS x,
               sum(CASE WHEN ts_us >= t0 + 14 * 86400000000::BIGINT
                   THEN cents ELSE 0 END) AS y,
               user_id % 2 AS variant
        FROM ev CROSS JOIN start GROUP BY user_id
      ), per_variant AS (
        SELECT variant, count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM per_user GROUP BY variant
      ), pooled AS (
        SELECT CAST(sum(n) * sum(sxy) - sum(sx) * sum(sy) AS DOUBLE)
                 / CAST(sum(n) * sum(sxx) - sum(sx) * sum(sx) AS DOUBLE)
                 AS theta,
               CAST(sum(sx) AS DOUBLE) / sum(n) AS mean_x
        FROM per_variant
      )
      SELECT variant, n AS n_users, round(theta, 6) AS theta,
             round(CAST(sy AS DOUBLE) / n / 100.0, 6) AS mean_y,
             round((CAST(sy AS DOUBLE) - theta * (sx - n * mean_x))
               / n / 100.0, 6) AS mean_y_cuped,
             round(1.0 - (CAST(syy - 2.0 * theta * sxy
                 + theta * theta * sxx
                 - (sy - theta * sx) * (sy - theta * sx) / n AS DOUBLE)
                 / (n - 1))
               / ((CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * sy / n) / (n - 1)), 6)
               AS var_reduction
      FROM per_variant CROSS JOIN pooled""",

    "join_fuzzy_levenshtein" -> """
      WITH names AS (
        SELECT p_name AS name, count(*) AS n_parts,
               split_part(p_name, ' ', 2) AS noun
        FROM part GROUP BY p_name
      )
      SELECT a.name AS name_a, b.name AS name_b,
             levenshtein(a.name, b.name) AS lev,
             a.n_parts AS n_a, b.n_parts AS n_b
      FROM names a JOIN names b
        ON a.noun = b.noun AND a.name < b.name
      WHERE levenshtein(a.name, b.name) <= 3"""
  )
}
