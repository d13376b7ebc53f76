package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables.t
import graft.functions.SaltedHash.md5Prefix

/** Feature-engineering operators — the transforms a training-data
  * pipeline applies between the warehouse and the trainer: target
  * encoding, the hashing trick, winsorization, missing-value imputation,
  * and standardization. All are single-pass relational shapes (group
  * stats as compact keyed tables or scalar broadcasts joined back; never
  * a per-row subquery), and every value that decides the answer is exact
  * integer arithmetic with ONE double division on output, so the DuckDB
  * twins hash-match bit for bit.
  *
  * Determinism note (same discipline as [[Analytics]]): money enters as
  * exact cents (`round(x*100)::bigint`), second moments as exact cent
  * squares — bigint sums are associative, so partial-aggregation order
  * can't flip a hash. Cent-square sums stay under 2^63 up to ~10^12 rows
  * of 6-figure values; past that, switch the sums to DECIMAL(38,0).
  */
object FeatureEng extends graft.Family {
  val defs: Map[String, Q] = Map(

    // leave-one-out target encoding of order priority against the order
    // total — the high-cardinality-categorical encoder that one-hot can't
    // handle. LOO removes self-leakage: each row gets
    // (Σ_category − own) / (n_category − 1), computed from ONE group
    // aggregate joined back (category table is tiny → broadcast; at
    // 100 TB it is still |categories| rows). Sums are exact cents;
    // singleton categories yield NULL (division by zero stays honest,
    // no global-mean fudge hiding it).
    "ml_target_encode" -> ((s, d) => {
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority").as("priority"),
          round(col("o_totalprice") * 100).cast("bigint").as("tp_u"))
      val cat = o.groupBy(col("priority"))
        .agg(sum(col("tp_u")).as("sum_u"), count(lit(1)).as("n_cat"))
      o.join(broadcast(cat), Seq("priority"))
        .select(col("o_orderkey"), col("priority"),
          round(when(col("n_cat") > 1,
            (col("sum_u") - col("tp_u")).cast("double")
              / ((col("n_cat") - 1) * 100.0)), 4).as("loo_enc"))
        .orderBy(col("o_orderkey"))
    }),

    // hashing trick (signed feature hashing, Weinberger et al. 2009):
    // the status×priority cross lands in one of 64 slots via a salted
    // portable hash, with a second hash bit supplying the ±1 sign that
    // keeps collisions unbiased in expectation. Emits the feature map
    // (distinct crosses) plus per-slot load — the collision accounting
    // you audit before picking the dimension. Everything is integer
    // hash arithmetic; zero fp.
    "ml_feature_hash" -> ((s, d) => {
      val crosses = t(s, d, "orders")
        .select(concat(col("o_orderstatus"), lit("|"),
          col("o_orderpriority")).as("feature"))
        .distinct()
        .select(col("feature"),
          (md5Prefix(concat(lit("fh:"), col("feature")), 4) % 64)
            .as("slot"),
          (md5Prefix(concat(lit("fs:"), col("feature")), 4) % 2 * 2 - 1)
            .as("sign"))
      val load = crosses.groupBy(col("slot"))
        .agg(count(lit(1)).as("slot_load"))
      crosses.join(load, Seq("slot"))
        .select(col("feature"), col("slot"), col("sign"), col("slot_load"))
        .orderBy(col("feature"))
    }),

    // winsorization: clamp the order total to its own [p05, p95] — the
    // outlier treatment that keeps rows (unlike trimming) and bounds
    // influence. Cutoffs are exact data values (percentile_disc on
    // cents — no interpolation fp), broadcast as a 1-row scalar; the
    // clamp is a scan-side least/greatest. Emits only changed rows to
    // keep the result focused (the unchanged majority is recoverable by
    // definition).
    //
    // CAUTION before reusing this pattern with other quantiles: Spark
    // percentile_disc picks element ceil(q·n)−1 (0-based) while DuckDB
    // quantile_disc picks floor(q·(n−1)); the two coincide at
    // q ∈ {0.05, 0.5, 0.95} for every n (this query and
    // agg_winsorized_mean / llm_dataset_card), but diverge for other q —
    // e.g. q=0.3, n=7 → index ceil(2.1)−1 = 2 vs floor(1.8) = 1. A new
    // twin at an arbitrary q needs an element-index formulation instead.
    "etl_winsorize" -> ((s, d) => {
      val o = t(s, d, "orders")
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("bigint").as("tp_u"))
      val cuts = o.agg(
        expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY tp_u)").as("lo_u"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY tp_u)").as("hi_u"))
      o.crossJoin(broadcast(cuts))
        .filter(col("tp_u") < col("lo_u") || col("tp_u") > col("hi_u"))
        .select(col("o_orderkey"),
          (col("tp_u") / 100.0).as("totalprice"),
          (least(greatest(col("tp_u"), col("lo_u")), col("hi_u")) / 100.0)
            .as("winsorized"),
          (col("tp_u") < col("lo_u")).as("clipped_low"))
        .orderBy(col("o_orderkey"))
    }),

    // winsorized mean — the robust location estimate that pairs with
    // etl_winsorize (same exact percentile_disc cutoffs): clamp, then
    // average. Because the cutoffs and the clamped values are all exact
    // cents, the winsorized SUM is an exact bigint and the emitted means
    // are raw engine-identical quotients; reported next to the raw mean
    // so the outlier influence is visible as their gap.
    "agg_winsorized_mean" -> ((s, d) => {
      val o = t(s, d, "orders")
        .select(round(col("o_totalprice") * 100).cast("bigint").as("tp_u"))
      val cuts = o.agg(
        expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY tp_u)").as("lo_u"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY tp_u)").as("hi_u"))
      o.crossJoin(broadcast(cuts))
        .agg(count(lit(1)).as("n"),
          max(col("lo_u")).as("lo_u"), max(col("hi_u")).as("hi_u"),
          sum(col("tp_u")).as("raw_u"),
          sum(least(greatest(col("tp_u"), col("lo_u")), col("hi_u")))
            .as("ws_u"))
        .select(col("n"), (col("lo_u") / 100.0).as("p05"),
          (col("hi_u") / 100.0).as("p95"),
          (col("raw_u").cast("double") / (col("n") * 100.0)).as("raw_mean"),
          (col("ws_u").cast("double") / (col("n") * 100.0))
            .as("winsorized_mean"))
    }),

    // missing-value imputation: 10% of account balances are knocked out
    // by a deterministic salted-hash mask (the generated table has no
    // real NULLs — and a hash mask means both engines agree on WHICH
    // rows are missing), then imputed with the per-nation mean of the
    // SURVIVING values. Group means come from one aggregate on exact
    // cents joined back (nation table is dim-sized → broadcast); each
    // row reports provenance (was_missing) rather than silently blending
    // imputed and observed values.
    "etl_impute" -> ((s, d) => {
      val c = t(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey").as("nationkey"),
          when(md5Prefix(concat(lit("imp:"),
              col("c_custkey").cast("string")), 4) % 10 === 0,
            lit(null).cast("bigint"))
            .otherwise(round(col("c_acctbal") * 100).cast("bigint"))
            .as("bal_u"))
      val nm = c.filter(col("bal_u").isNotNull)
        .groupBy(col("nationkey"))
        .agg(sum(col("bal_u")).as("sum_u"), count(lit(1)).as("n_obs"))
      c.join(broadcast(nm), Seq("nationkey"))
        .select(col("c_custkey"), col("nationkey"),
          col("bal_u").isNull.as("was_missing"),
          round(coalesce(col("bal_u").cast("double"),
            col("sum_u").cast("double") / col("n_obs")) / 100.0, 2)
            .as("acctbal_imputed"))
        .orderBy(col("c_custkey"))
    }),

    // long-tail category collapse: part brands whose share falls below
    // 4% fold into 'OTHER' — the cardinality-control step before
    // one-hot/target encoding (rare levels overfit and bloat the
    // feature space). The keep decision is EXACT integer arithmetic
    // (25·n ≥ total ⟺ share ≥ 4% — no fp share), the category table is
    // one keyed aggregate, the threshold a 1-row scalar broadcast; emits
    // the collapsed distribution with provenance (how many original
    // levels each output level absorbs — both branches fire on the
    // generated brand distribution, shares span ~3–5%).
    "ml_rare_collapse" -> ((s, d) => {
      val counts = t(s, d, "part").groupBy(col("p_brand").as("cat"))
        .agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum(col("n")).as("tot"))
      counts.crossJoin(broadcast(tot))
        .select(col("n"),
          when(col("n") * 25L >= col("tot"), col("cat"))
            .otherwise(lit("OTHER")).as("mapped"))
        .groupBy(col("mapped"))
        .agg(sum(col("n")).as("n_rows"), count(lit(1)).as("n_orig_cats"))
        .orderBy(col("mapped"))
    }),

    // AMS / tug-of-war F2 sketch — the second frequency moment
    // Σ fᵢ² IS the self-join size, the quantity every join-order
    // optimizer estimates. Estimator: Xₑ = (Σ_key sign(e,key)·f)² with
    // deterministic salted-md5 signs (±1), averaged over 16 estimators —
    // E[X] = F2, and with fixed hashes the estimate is reproducible, so
    // the in-band boolean is a stable hash-checked contract (same
    // pattern as agg_hll_union). The exact side is one keyed count +
    // a 1-row Σf²; the sketch side explodes the COMPACT frequency table
    // ×16, never the fact scan.
    "agg_ams_f2" -> ((s, d) => {
      val f = t(s, d, "lineitem").groupBy(col("l_partkey").as("k"))
        .agg(count(lit(1)).as("f"))
      val ex = f.agg(sum(col("f") * col("f")).as("f2_exact"),
        count(lit(1)).as("n_keys"))
      val est = f.select(col("k"), col("f"),
          explode(array((0 until 16).map(lit): _*)).as("e"))
        .withColumn("sgn",
          md5Prefix(concat(lit("ams:"), concat(col("e").cast("string"),
            lit(":"), col("k").cast("string"))), 4) % 2 * 2 - 1)
        .groupBy(col("e")).agg(sum(col("sgn") * col("f")).as("sx"))
        .agg(avg(col("sx") * col("sx")).as("est"))
      ex.crossJoin(broadcast(est))
        .select(col("f2_exact"), col("n_keys"),
          (abs(col("est") - col("f2_exact")) <= col("f2_exact") * 0.5)
            .as("ams_in_band"))
    }),

    // standardization: per-nation z-score AND global min-max of the
    // account balance — the two scalings every feature pipeline ships.
    // The sample stddev comes from the EXACT closed form
    // sqrt((n·Σx² − (Σx)²) / (n·(n−1))) on cent integers, so both
    // engines feed ulp-identical doubles into the one sqrt; min-max is
    // pure integer until the final division. The trailing + 0.0 on the
    // z-score normalizes IEEE negative zero (the pcaL3 lesson): a tiny
    // negative deviation rounds to "-0.0" in DuckDB's FP round but "0.0"
    // in Spark's BigDecimal round — first observed at sf0.1, where a
    // customer balance lands exactly on its nation mean.
    "ml_scale" -> ((s, d) => {
      val c = t(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey").as("nationkey"),
          round(col("c_acctbal") * 100).cast("bigint").as("bal_u"))
      val st = c.groupBy(col("nationkey"))
        .agg(sum(col("bal_u")).as("s1"),
          sum(col("bal_u") * col("bal_u")).as("s2"),
          count(lit(1)).as("n"))
      val mm = c.agg(min(col("bal_u")).as("mn"), max(col("bal_u")).as("mx"))
      c.join(broadcast(st), Seq("nationkey"))
        .crossJoin(broadcast(mm))
        // n·s2 − s1² forms in DECIMAL(38,0) ≡ HUGEINT and casts to double
        // ONCE (the agg_icc_deff discipline): at sf1 the nation-level s1²
        // reaches ~3.6e19 and overflowed the former BIGINT product —
        // caught fail-loud by the r12 sf1 sweep
        .select(col("c_custkey"), col("nationkey"),
          (round((col("bal_u") * col("n") - col("s1")).cast("double")
            / (col("n") * sqrt(
                (col("n").cast("decimal(38,0)") * col("s2").cast("decimal(38,0)")
                  - col("s1").cast("decimal(38,0)") * col("s1").cast("decimal(38,0)"))
                .cast("double") / (col("n") * (col("n") - 1)))), 4) + 0.0)
            .as("zscore"),
          round((col("bal_u") - col("mn")).cast("double")
            / (col("mx") - col("mn")), 6).as("minmax"))
        .orderBy(col("c_custkey"))
    }))

  val sql: Map[String, String] = Map(

    "ml_target_encode" -> """
      WITH o AS (
        SELECT o_orderkey, o_orderpriority AS priority,
               CAST(ROUND(o_totalprice*100) AS BIGINT) AS tp_u
        FROM orders),
      cat AS (
        SELECT priority, CAST(SUM(tp_u) AS BIGINT) AS sum_u,
               CAST(COUNT(*) AS BIGINT) AS n_cat
        FROM o GROUP BY 1)
      SELECT o_orderkey, o.priority,
             ROUND(CASE WHEN n_cat > 1 THEN
               CAST(sum_u - tp_u AS DOUBLE) / ((n_cat - 1) * 100.0) END, 4)
               AS loo_enc
      FROM o JOIN cat ON cat.priority = o.priority
      ORDER BY o_orderkey""",

    "ml_feature_hash" -> """
      WITH crosses AS (
        SELECT DISTINCT o_orderstatus || '|' || o_orderpriority AS feature
        FROM orders),
      hashed AS (
        SELECT feature,
               CAST(('0x' || substr(md5('fh:' || feature), 1, 4)) AS BIGINT)
                 % 64 AS slot,
               CAST(('0x' || substr(md5('fs:' || feature), 1, 4)) AS BIGINT)
                 % 2 * 2 - 1 AS sign
        FROM crosses),
      load AS (
        SELECT slot, CAST(COUNT(*) AS BIGINT) AS slot_load
        FROM hashed GROUP BY 1)
      SELECT feature, hashed.slot, sign, slot_load
      FROM hashed JOIN load ON load.slot = hashed.slot
      ORDER BY feature""",

    "etl_winsorize" -> """
      WITH o AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice*100) AS BIGINT) AS tp_u
        FROM orders),
      cuts AS (
        SELECT quantile_disc(tp_u, 0.05) AS lo_u,
               quantile_disc(tp_u, 0.95) AS hi_u
        FROM o)
      SELECT o_orderkey,
             tp_u / 100.0 AS totalprice,
             LEAST(GREATEST(tp_u, lo_u), hi_u) / 100.0 AS winsorized,
             tp_u < lo_u AS clipped_low
      FROM o, cuts
      WHERE tp_u < lo_u OR tp_u > hi_u
      ORDER BY o_orderkey""",

    "agg_winsorized_mean" -> """
      WITH o AS (
        SELECT CAST(ROUND(o_totalprice*100) AS BIGINT) AS tp_u FROM orders),
      cuts AS (
        SELECT quantile_disc(tp_u, 0.05) AS lo_u,
               quantile_disc(tp_u, 0.95) AS hi_u
        FROM o)
      SELECT CAST(count(*) AS BIGINT) AS n,
             lo_u / 100.0 AS p05, hi_u / 100.0 AS p95,
             CAST(SUM(tp_u) AS DOUBLE) / (count(*) * 100.0) AS raw_mean,
             CAST(SUM(LEAST(GREATEST(tp_u, lo_u), hi_u)) AS DOUBLE)
               / (count(*) * 100.0) AS winsorized_mean
      FROM o, cuts GROUP BY lo_u, hi_u""",

    "etl_impute" -> """
      WITH c AS (
        SELECT c_custkey, c_nationkey AS nationkey,
               CASE WHEN CAST(('0x' || substr(md5('imp:'
                      || CAST(c_custkey AS VARCHAR)), 1, 4)) AS BIGINT)
                    % 10 = 0 THEN NULL
                    ELSE CAST(ROUND(c_acctbal*100) AS BIGINT) END AS bal_u
        FROM customer),
      nm AS (
        SELECT nationkey, CAST(SUM(bal_u) AS BIGINT) AS sum_u,
               CAST(COUNT(*) AS BIGINT) AS n_obs
        FROM c WHERE bal_u IS NOT NULL GROUP BY 1)
      SELECT c_custkey, c.nationkey,
             bal_u IS NULL AS was_missing,
             ROUND(COALESCE(CAST(bal_u AS DOUBLE),
               CAST(sum_u AS DOUBLE) / n_obs) / 100.0, 2)
               AS acctbal_imputed
      FROM c JOIN nm ON nm.nationkey = c.nationkey
      ORDER BY c_custkey""",

    "ml_rare_collapse" -> """
      WITH counts AS (
        SELECT p_brand AS cat, CAST(count(*) AS BIGINT) AS n
        FROM part GROUP BY 1),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM counts)
      SELECT CASE WHEN n * 25 >= tot THEN cat
                  ELSE 'OTHER' END AS mapped,
             CAST(SUM(n) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_orig_cats
      FROM counts, tot
      GROUP BY 1 ORDER BY 1""",

    "agg_ams_f2" -> """
      WITH f AS (
        SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS f
        FROM lineitem GROUP BY 1),
      ex AS (SELECT CAST(SUM(f*f) AS BIGINT) AS f2_exact,
                    CAST(count(*) AS BIGINT) AS n_keys FROM f),
      es AS (
        SELECT e,
               CAST(SUM(((CAST(('0x' || substr(md5('ams:'
                 || CAST(e AS VARCHAR) || ':' || CAST(k AS VARCHAR)),
                 1, 4)) AS BIGINT) % 2) * 2 - 1) * f) AS BIGINT) AS sx
        FROM f CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS e)
        GROUP BY 1),
      m AS (SELECT AVG(sx * sx) AS est FROM es)
      SELECT f2_exact, n_keys,
             abs(est - f2_exact) <= f2_exact * 0.5 AS ams_in_band
      FROM ex, m""",

    "ml_scale" -> """
      WITH c AS (
        SELECT c_custkey, c_nationkey AS nationkey,
               CAST(ROUND(c_acctbal*100) AS BIGINT) AS bal_u
        FROM customer),
      st AS (
        SELECT nationkey, CAST(SUM(bal_u) AS BIGINT) AS s1,
               CAST(SUM(bal_u * bal_u) AS BIGINT) AS s2,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM c GROUP BY 1),
      mm AS (SELECT MIN(bal_u) AS mn, MAX(bal_u) AS mx FROM c)
      SELECT c_custkey, c.nationkey,
             ROUND(CAST(bal_u * n - s1 AS DOUBLE)
               / (n * SQRT(CAST(CAST(n AS HUGEINT) * s2
                                - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                           / (n * (n - 1)))), 4) + 0.0 AS zscore,
             ROUND(CAST(bal_u - mn AS DOUBLE) / (mx - mn), 6) AS minmax
      FROM c JOIN st ON st.nationkey = c.nationkey, mm
      ORDER BY c_custkey""")
}
