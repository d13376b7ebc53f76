package graft.queries
import graft.core.Ckpt._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables.t
import graft.functions.SaltedHash.md5Prefix
import graft.ops.Partitioning

/** Business-analytics extension queries (SURVEY.md §2 tier-C): concentration
  * and distribution analyses (Pareto/ABC, Gini), a single-scan correlation
  * matrix, period-over-period growth, an order-independent table
  * fingerprint, and URL-canonicalization dedup.
  *
  * Numeric determinism: every query that feeds floating-point group sums
  * into further arithmetic first converts to EXACT integer cent units
  * (`round(x*100).cast(bigint)`) or rounds the group sum once — integer
  * sums are associative, so Spark's partial-aggregation order and DuckDB's
  * sequential order provably agree, and the derived doubles are then
  * bit-identical on both engines (same literal expression order).
  */
object Analytics extends graft.Family {
  /** Exact revenue in 1/10000-dollar units: price cents × (100 − disc%),
    * both factors exact integers recovered from the 2-decimal doubles. */
  private def revU(price: Column, disc: Column): Column =
    round(price * 100).cast("bigint") * (lit(100) - round(disc * 100).cast("bigint"))

  /** Per (nationkey, c_custkey): the customer's order revenue `rev_c` in
    * exact cents — the input of the inequality family (gini, theil,
    * lorenz). */
  private def customerRevenue(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer")
    val o = t(s, d, "orders")
    c.join(o, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_nationkey").as("nationkey"), col("c_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("rev_c"))
  }

  /** The orders' status × priority contingency table `(status, priority,
    * c)`, checkpointed: its margins and total re-read it. */
  private def statusPriorityCells(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").groupBy(col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("c")).ckpt()

  val defs: Map[String, Q] = Map(

    // Pareto / ABC classification: parts ranked by revenue, cumulative
    // share of total, bucketed A (≤70%), B (≤90%), C. The cumulative sum
    // runs through ops.Partitioning.rankedCumSum — the two-level
    // distributed prefix sum — NOT a partition-less global window, so the
    // ranking phase stays parallel at any entity cardinality (the fact-scan
    // aggregation above it is an ordinary keyed shuffle). The total is the
    // scalar-broadcast pattern: a 1-row global aggregate cross-joined in.
    "agg_pareto_abc" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val rev = li.groupBy(col("l_partkey").as("partkey"))
        .agg(sum(revU(col("l_extendedprice"), col("l_discount"))).as("rev_u"))
      val tot = rev.agg(sum(col("rev_u")).as("tot_u"))
      val cum = Partitioning.rankedCumSum(
        rev, col("rev_u"), Seq(col("rev_u").desc, col("partkey")), 32, "cum_u")
      val share = col("cum_u").cast("double") / col("tot_u")
      cum.crossJoin(broadcast(tot))
        .select(
          col("partkey"),
          (col("rev_u") / lit(10000.0)).as("revenue"),
          share.as("cum_share"),
          when(share <= 0.7, "A").when(share <= 0.9, "B").otherwise("C").as("abc"))
    }),

    // Gini coefficient of customer revenue concentration per nation:
    // G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n over ascending-sorted x. The rank
    // window partitions by nation (parallel); all sums are exact integer
    // cents, so the final double division is engine-identical.
    "agg_gini" -> ((s, d) => {
      val crev = customerRevenue(s, d)
      val w = Window.partitionBy(col("nationkey"))
        .orderBy(col("rev_c"), col("c_custkey"))
      crev.withColumn("i", row_number().over(w).cast("bigint"))
        .groupBy(col("nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("rev_c")).as("tot_c"),
          sum(col("i") * col("rev_c")).as("irev_c"))
        .select(col("nationkey"), col("n_cust"),
          round(lit(2.0) * col("irev_c") / (col("n_cust") * col("tot_c"))
            - (col("n_cust") + lit(1.0)) / col("n_cust"), 6).as("gini"))
    }),

    // Theil T inequality index of customer revenue per nation — the
    // third leg of the inequality family (gini = rank-based, lorenz =
    // the curve, theil = entropy-based and DECOMPOSABLE across
    // subgroups, which is why national-accounts pipelines carry it):
    // T = (1/n)Σ r·ln r with r = xᵢ·n/S. Each term's operands are exact
    // integers, each term is floor-ppm quantized BEFORE the BIGINT sum
    // (the ml_confusion discipline), and the rank-free construction
    // needs no sort at all — one grouped aggregate + per-nation windows.
    "agg_theil" -> ((s, d) => {
      val crev = customerRevenue(s, d)
      val w = Window.partitionBy(col("nationkey"))
      crev
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("stot", sum(col("rev_c")).over(w))
        .withColumn("term_ppm", expr(
          "CAST(floor(1e6 * (CAST(rev_c AS DOUBLE) * n / stot)" +
            " * ln(CAST(rev_c AS DOUBLE) * n / stot) + 0.5) AS BIGINT)"))
        .groupBy(col("nationkey"))
        .agg(count(lit(1)).as("n_cust"), sum(col("term_ppm")).as("tsum"))
        .selectExpr("nationkey", "n_cust",
          "CAST(floor(CAST(tsum AS DOUBLE) / n_cust + 0.5) AS BIGINT)" +
            " AS theil_ppm")
    }),

    // Herfindahl–Hirschman concentration index of supplier revenue per
    // nation (the antitrust/market-power readout; the Gini's
    // concentration cousin): HHI = Σ shareᵢ² = Σ revᵢ² / (Σ rev)² —
    // ONE division of exact integers on the floor-ppm grid. revᵢ is the
    // exact cents×bp revenue sum; the squares live in decimal(38,0)
    // ≡ HUGEINT (revᵢ ~ 1e9 units at sf0.1 → revᵢ² ~ 1e18, past BIGINT
    // at larger sf). One grouped aggregate + one |nations|-row rollup.
    "agg_hhi" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val su = t(s, d, "supplier")
      li.join(su, li("l_suppkey") === su("s_suppkey"))
        .groupBy(col("s_nationkey").as("nationkey"),
          col("s_suppkey").as("suppkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("bigint") *
          (lit(100L) - round(col("l_discount") * 100).cast("bigint")))
          .as("rev"))
        .groupBy(col("nationkey"))
        .agg(count(lit(1)).as("n_supp"),
          sum(col("rev").cast("decimal(38,0)")
            * col("rev").cast("decimal(38,0)")).as("sq"),
          sum(col("rev").cast("decimal(38,0)")).as("tot"))
        .select(col("nationkey"), col("n_supp"),
          expr("CAST(floor(1e6 * CAST(sq AS DOUBLE)" +
            " / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) + 0.5)" +
            " AS BIGINT) AS hhi_ppm"))
    }),

    // Lorenz curve deciles per nation (the table the Gini integrates):
    // customers ranked by spend ascending, decile = ((rank−1)·10) div n
    // (pure integral arithmetic — never ntile, whose remainder placement
    // is engine-defined), then per-decile exact-cent sums and a
    // cumulative floor-ppm share. The rank window reuses agg_gini's
    // per-nation sort; the cumulative windows run over the ≤10-row
    // per-nation decile table.
    "agg_lorenz" -> ((s, d) => {
      val crev = customerRevenue(s, d)
      val w = Window.partitionBy(col("nationkey"))
        .orderBy(col("rev_c"), col("c_custkey"))
      val wn = Window.partitionBy(col("nationkey"))
      val deciled = crev
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .withColumn("n", count(lit(1)).over(wn))
        .withColumn("decile", expr("((rn - 1) * 10) div n"))
        .groupBy(col("nationkey"), col("decile"))
        .agg(count(lit(1)).as("n_cust"), sum(col("rev_c")).as("dec_cents"))
      val wc = Window.partitionBy(col("nationkey")).orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, 0)
      deciled
        .withColumn("cum_cents", sum(col("dec_cents")).over(wc))
        .withColumn("tot_cents", sum(col("dec_cents")).over(wn))
        .select(col("nationkey"), col("decile"), col("n_cust"),
          col("dec_cents"), col("cum_cents"),
          floor(lit(1e6) * col("cum_cents") / col("tot_cents") + 0.5)
            .cast("long").as("cum_share_ppm"))
    }),

    // Pairwise Pearson correlation matrix of the lineitem measures — six
    // pairs in ONE scan, one partial-aggregation pass (corr is a
    // single-pass moment aggregate; no per-pair rescan).
    "agg_corr_matrix" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      def c2(a: String, b: String): Column = round(corr(col(a), col(b)), 5)
      li.agg(
        c2("l_quantity", "l_extendedprice").as("c_qty_price"),
        c2("l_quantity", "l_discount").as("c_qty_disc"),
        c2("l_quantity", "l_tax").as("c_qty_tax"),
        c2("l_extendedprice", "l_discount").as("c_price_disc"),
        c2("l_extendedprice", "l_tax").as("c_price_tax"),
        c2("l_discount", "l_tax").as("c_disc_tax"))
    }),

    // Month-over-month revenue growth: the lag window runs over the
    // month-level aggregate (|months| rows — bounded, not data-sized), so
    // the single-partition window is scale-safe by construction.
    "win_mom_growth" -> ((s, d) => {
      val o = t(s, d, "orders")
      val m = o.groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("month"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"))
      val prev = lag(col("rev"), 1).over(Window.orderBy(col("month")))
      m.select(col("month"), col("rev"),
        round((col("rev") - prev) / prev * 100, 4).as("mom_pct"))
    }),

    // Maximum drawdown of cumulative daily revenue — the risk/health
    // analytic for any cumulative KPI ("how far below its best-so-far did
    // the running total fall"). Same closed-form trick as evt_cusum from
    // the other side: drawdown_t = running_max(cum) − cum, two running
    // windows over the |days|-sized aggregate, no recursion. All sums are
    // exact cents; both the per-day drawdown and the global max (with its
    // date, min-date tiebreak) are emitted, everything integer until the
    // two output divisions. The day window is bounded (|calendar|), not
    // data-sized — the fact scan compacts first.
    "win_drawdown" -> ((s, d) => {
      val daily = t(s, d, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("rev_u"))
      val w = Window.orderBy(col("day"))
      val scored = daily
        .withColumn("cum_u", sum(col("rev_u")).over(w))
        .withColumn("dd_u", max(col("cum_u")).over(w) - col("cum_u"))
      val worst = scored.agg(max(col("dd_u")).as("mx"))
      scored.crossJoin(broadcast(worst))
        .filter(col("dd_u") === col("mx"))
        .groupBy(col("mx"))
        .agg(min(col("day")).as("worst_day"), count(lit(1)).as("n_ties"))
        .select(col("worst_day"), col("n_ties"),
          round(col("mx") / 100.0, 2).as("max_drawdown"))
    }),

    // 2-D skyline (Pareto frontier): parts where no other part is both
    // cheaper AND smaller — the multi-objective shortlist operator
    // (cheapest-for-its-size supplier, fastest-for-its-cost config). The
    // naive form is the quadratic NOT EXISTS dominance join; in 2-D the
    // frontier is exactly where the running min of y (ordered by x)
    // strictly drops, so the distributed form is: one keyed aggregate to
    // (x, min_y), a two-level prefix-min (ops.Partitioning
    // .rankedRunningMin — parallel, never a data-sized single-task
    // window), one join back. The DuckDB oracle IS the quadratic
    // dominance query, so driver hash parity proves window-form ≡
    // dominance-definition on real data. Ties on (x, y) don't dominate
    // each other (dominance needs one strict) — all tied rows stay, and
    // the filter keeps them because the strict-min is over SMALLER x
    // only. Everything integer (exact cents), one output division.
    "win_skyline" -> ((s, d) => {
      val p = t(s, d, "part").select(col("p_partkey").as("k"),
        round(col("p_retailprice") * 100).cast("bigint").as("x"),
        col("p_size").cast("bigint").as("y"))
      val g = p.groupBy(col("x")).agg(min(col("y")).as("ymin"))
      val gm = Partitioning.rankedRunningMin(
        g, col("ymin"), Seq(col("x")), 32, "m_strict", inclusive = false)
      p.join(gm, Seq("x"))
        .filter(col("y") === col("ymin") &&
          (col("m_strict").isNull || col("y") < col("m_strict")))
        .select(col("k"), (col("x") / 100.0).as("price"), col("y").as("size"))
        .orderBy(col("k"))
    }),

    // Order-independent table fingerprint: per-row md5 over a canonical
    // '|'-joined rendering, folded with bit_xor (commutative + exact →
    // partition order irrelevant). The standard cross-system data-validation
    // primitive: at 100 TB both sides compute one narrow scan + one
    // 1-row-per-table aggregate, and equal fingerprints certify equal
    // content without moving rows.
    "etl_table_fingerprint" -> ((s, d) => {
      def fp(df: DataFrame, name: String, cols: Seq[Column]): DataFrame =
        df.select(md5Prefix(concat_ws("|", cols: _*), 15).as("h64"))
          .agg(count(lit(1)).as("n_rows"), bit_xor(col("h64")).as("fp"))
          .select(lit(name).as("table_name"), col("n_rows"), col("fp"))
      val cust = fp(t(s, d, "customer"), "customer", Seq(
        col("c_custkey").cast("string"), col("c_name"),
        col("c_nationkey").cast("string"), col("c_mktsegment")))
      val ord = fp(t(s, d, "orders"), "orders", Seq(
        col("o_orderkey").cast("string"), col("o_custkey").cast("string"),
        col("o_orderstatus"), col("o_orderpriority"),
        col("o_orderdate").cast("date").cast("string")))
      cust.unionAll(ord)
    }),

    // URL-canonicalization dedup — the web-crawl curation op: normalize
    // scheme/host case, strip tracking (utm_*) params, drop fragments and
    // trailing slashes, then group by the canonical form. URLs are built
    // deterministically from documents (id collisions on doc_id % 500
    // guarantee real duplicate groups); Spark canonicalizes via parse_url
    // component extraction, the oracle twin via RFC-3986 regexes — so the
    // hash check pins the parser exactly like fn_url does.
    "llm_url_dedup" -> ((s, d) => {
      val doc = t(s, d, "documents")
      val url = concat(
        lit("https://"),
        when(col("doc_id") % 2 === 0, upper(col("source"))).otherwise(col("source")),
        lit(".example.org/d/"), (col("doc_id") % 500).cast("string"),
        when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
        lit("?id="), (col("doc_id") % 500).cast("string"),
        when(col("doc_id") % 3 === 0, lit("&utm_source=feed&utm_campaign=x"))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("#frag")).otherwise(lit("")))
      val withUrl = doc.withColumn("url", url)
      val host = lower(expr("parse_url(url, 'HOST')"))
      val path = regexp_replace(expr("parse_url(url, 'PATH')"), "/$", "")
      val query = regexp_replace(
        regexp_replace(expr("parse_url(url, 'QUERY')"), "(&|^)utm_[^&]*", ""),
        "^&", "")
      val canon = concat(lit("https://"), host, path,
        when(length(query) > 0, concat(lit("?"), query)).otherwise(lit("")))
      withUrl.withColumn("canon_url", canon)
        .groupBy(col("canon_url"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_doc_id"))
    }),

    // Gopher-style repetition quality signals (Rae et al. 2021, §A1.1):
    // fraction of the document taken by its single most frequent word /
    // bigram — the classic template-spam detector. Relational form: token
    // explode → (doc, gram) count → per-doc max/sum, the same
    // corpus-sized-shuffle class as llm_tfidf; fractions are exact-integer
    // divisions so both engines agree bitwise. Thresholds sit inside the
    // fixture's observed range so both flag classes occur.
    "llm_repetition_score" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("arr"))
      val wordStats = toks
        .select(col("doc_id"), explode(col("arr")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_words"), max(col("c")).as("top_w"))
      val bigramStats = toks
        .select(col("doc_id"), explode(expr(
          "CASE WHEN size(arr) >= 2 THEN transform(sequence(0, size(arr)-2)," +
          " i -> concat(arr[i], ' ', arr[i+1])) ELSE array() END")).as("b"))
        .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_b"))
      val twf = col("top_w").cast("double") / col("n_words")
      val tbf = col("top_b").cast("double") / col("n_bigrams")
      wordStats.join(bigramStats, "doc_id")
        .select(col("doc_id"), col("n_words"),
          twf.as("top_word_frac"), tbf.as("top_bigram_frac"),
          (twf > 0.12 || tbf > 0.18).as("flagged"))
    }),

    // lag/lead/first/nth_value with IGNORE NULLS — gap-jumping analytics
    // over sparse measures; one user-keyed window sort serves all four.
    "win_ignore_nulls" -> ((s, d) => {
      val vn = when(col("event_type") === "view", lit(null))
        .otherwise(col("value"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events").select(
        col("event_id"), col("user_id"),
        vn.as("v"),
        lead(vn, 1, null, ignoreNulls = true).over(w).as("next_v"),
        lag(vn, 1, null, ignoreNulls = true).over(w).as("prev_v"),
        first(vn, ignoreNulls = true).over(wf).as("first_v"),
        nth_value(vn, 2, ignoreNulls = true).over(wf).as("second_v"))
    }),

    // key-skew diagnostic — the operational pre-check before keying a
    // 100 TB shuffle: per-key count distribution collapsed to one row
    // (n_keys, extremes, quantiles, max/avg skew factor). The key-count
    // frame is the only shuffle; the profile itself is a 1-row aggregate.
    "etl_skew_profile" -> ((s, d) => {
      val c = t(s, d, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      c.agg(
        count(lit(1)).as("n_keys"),
        sum(col("c")).as("n_rows"),
        max(col("c")).as("max_key_rows"),
        expr("percentile(c, 0.5)").as("p50_key_rows"),
        expr("percentile(c, 0.99)").as("p99_key_rows"),
        round(max(col("c")) * count(lit(1)) / sum(col("c")).cast("double"), 6)
          .as("skew_factor"))
    }),

    // time-weighted average (TWAP — the sensor/finance aggregate where
    // events are irregular samples): each value weighted by its holding
    // duration to the user's next event. One user-keyed window sort; the
    // weighted sums run on exact integers (value milli-units × duration
    // ms), so partial-agg order can't perturb the hash.
    "evt_twap" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("nts", lead(col("ts"), 1).over(w))
        .withColumn("dur_ms",
          expr("(unix_micros(nts) - unix_micros(ts)) div 1000"))
        .filter(col("dur_ms").isNotNull)
        .withColumn("v_m", round(col("value") * 1000).cast("bigint"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("dur_ms")).as("total_ms"),
          (sum(col("v_m") * col("dur_ms")).cast("double")
            / sum(col("dur_ms")) / 1000.0).as("twap"))
    }),

    // NDCG@10 ranking quality — the offline-eval metric computed
    // relationally: per nation, rank suppliers by first-half revenue, score
    // that ranking against second-half revenue as the gain, normalize by
    // the ideal (gain-sorted) ordering. Two nation-keyed rank windows and
    // one ≤10-term aggregate per group; gains are exact cent integers so
    // only the final ≤10-term double sum needs a rounding guard.
    "win_ndcg" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val su = t(s, d, "supplier")
      val split = lit("1997-01-01").cast("timestamp")
      val rev = li.join(su, li("l_suppkey") === su("s_suppkey"))
        .groupBy(col("s_nationkey").as("nationkey"), col("s_suppkey").as("suppkey"))
        .agg(
          sum(when(col("l_shipdate") < split,
            revU(col("l_extendedprice"), col("l_discount")))
            .otherwise(lit(0L))).as("rev1_u"),
          sum(when(col("l_shipdate") >= split,
            revU(col("l_extendedprice"), col("l_discount")))
            .otherwise(lit(0L))).as("rev2_u"))
      val byH1 = Window.partitionBy(col("nationkey"))
        .orderBy(col("rev1_u").desc, col("suppkey"))
      val byGain = Window.partitionBy(col("nationkey"))
        .orderBy(col("rev2_u").desc, col("suppkey"))
      val ranked = rev
        .withColumn("r1", row_number().over(byH1))
        .withColumn("rg", row_number().over(byGain))
      val gain = col("rev2_u") / lit(10000.0)
      val dcgTerm = gain / log2(col("r1") + 1)
      val idcgTerm = gain / log2(col("rg") + 1)
      ranked.groupBy(col("nationkey"))
        .agg(
          round(sum(when(col("r1") <= 10, dcgTerm).otherwise(lit(0.0))), 4)
            .as("dcg10"),
          round(sum(when(col("rg") <= 10, idcgTerm).otherwise(lit(0.0))), 4)
            .as("idcg10"),
          round(sum(when(col("r1") <= 10, dcgTerm).otherwise(lit(0.0)))
            / sum(when(col("rg") <= 10, idcgTerm).otherwise(lit(0.0))), 4)
            .as("ndcg10"))
    }),

    // Benford first-digit analysis — the classic bookkeeping-fraud /
    // data-quality screen: observed leading-digit frequencies vs the
    // Benford expectation log10(1+1/d), with per-digit chi-square
    // contributions. The digit comes from the STRING of exact integer
    // cents, not floor(x/10^floor(log10 x)) — the arithmetic route can
    // flip at powers of ten when the two engines' libm log10 differ by an
    // ulp; the string route is exact on both.
    "agg_benford" -> ((s, d) => {
      val digit = substring(
        round(col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1)
        .cast("int")
      val counted = t(s, d, "orders")
        .filter(col("o_totalprice") > 0)
        .groupBy(digit.as("digit")).agg(count(lit(1)).as("n"))
      val tot = counted.agg(sum(col("n")).as("n_tot"))
      val obs = col("n").cast("double") / col("n_tot")
      val exp = log10(lit(1.0) + lit(1.0) / col("digit"))
      counted.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          round(obs, 6).as("obs_frac"),
          round(exp, 6).as("benford_frac"),
          round(pow(obs - exp, 2) / exp * col("n_tot"), 6).as("chi2_term"))
    }),

    // SCD2 point-in-time join — the canonical fact-to-versioned-dimension
    // lookup: each fact row (order, valued 30 days later) resolves the
    // dimension version whose [effective_from, effective_to) interval
    // covers its timestamp. The equi key (custkey) drives an ordinary
    // co-partitioned join; the interval bounds are post-join filters, so
    // no BNLJ at any scale. Version ranges partition each key's timeline,
    // so every fact matches exactly one version (row count preserved —
    // the hash check pins that).
    "join_scd2_pit" -> ((s, d) => {
      val hist = graft.etl.Writers.scd2History(
          t(s, d, "orders")
            .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate")),
          "o_custkey", "o_orderdate", "o_orderkey")
        .select(col("o_custkey").as("h_custkey"),
          col("o_orderkey").as("version_id"),
          col("effective_from"), col("effective_to"))
      val fact = t(s, d, "orders").select(
        col("o_orderkey").as("fact_order"), col("o_custkey"),
        expr("o_orderdate + INTERVAL 30 DAYS").as("pit_ts"))
      fact.join(hist,
          fact("o_custkey") === col("h_custkey") &&
          col("pit_ts") >= col("effective_from") &&
          (col("effective_to").isNull || col("pit_ts") < col("effective_to")))
        .select(col("fact_order"), col("o_custkey").as("custkey"),
          col("version_id"))
    }),

    // parameterized SQL (named-marker binding, Spark ≥ 3.4) — the
    // injection-safe text entry point; the twin is the same query with
    // the literals inlined, so the hash check proves the binding.
    "fn_sql_params" -> ((s, d) => {
      graft.core.Tables.registerAll(s, d)
      s.sql(
        """SELECT o_orderkey, o_totalprice
          |FROM orders
          |WHERE o_totalprice > :cutoff AND o_orderstatus = :status""".stripMargin,
        Map("cutoff" -> 450000.0, "status" -> "F"))
    }),

    // Referential-integrity audit: orphan-row counts for the five real
    // star-schema FKs plus one deliberately cross-domain probe
    // (events.user_id against supplier) that is EXPECTED to fail at small
    // sf — an audit that can only say "intact" is untestable. Each
    // relation is one left join on the (distinct) parent key plus a single
    // conditional count: dim-sized parents broadcast, fact-sized parents
    // take an ordinary keyed shuffle, and only the six 1-row summaries
    // leave the executors.
    "etl_fk_audit" -> ((s, d) => {
      def chk(name: String, child: DataFrame, fk: String,
              parent: DataFrame, pk: String): DataFrame =
        child.join(parent.select(col(pk).as("__pk")).distinct(),
            child(fk) === col("__pk"), "left")
          .agg(count(lit(1)).as("n_child"),
               count(when(col("__pk").isNull, 1)).as("n_orphans"))
          .select(lit(name).as("fk"), col("n_child"), col("n_orphans"),
                  (col("n_orphans") === 0).as("intact"))
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val su = t(s, d, "supplier")
      val p = t(s, d, "part");     val n = t(s, d, "nation")
      val ev = t(s, d, "events")
      chk("customer.nationkey->nation", c, "c_nationkey", n, "n_nationkey")
        .unionAll(chk("events.user_id->supplier", ev, "user_id",
                      su, "s_suppkey"))
        .unionAll(chk("lineitem.orderkey->orders", li, "l_orderkey",
                      o, "o_orderkey"))
        .unionAll(chk("lineitem.partkey->part", li, "l_partkey",
                      p, "p_partkey"))
        .unionAll(chk("lineitem.suppkey->supplier", li, "l_suppkey",
                      su, "s_suppkey"))
        .unionAll(chk("orders.custkey->customer", o, "o_custkey",
                      c, "c_custkey"))
        .orderBy(col("fk"))
    }),

    // Functional-dependency audit (the profiling primitive behind schema
    // discovery and data-contract checks): for each candidate LHS → RHS,
    // count LHS groups where the RHS is not single-valued. Two-level
    // aggregate — the count-distinct runs as an ordinary keyed shuffle with
    // map-side partials at any LHS cardinality; only the six 1-row
    // summaries leave the executors. The orderkey→custkey key-FD holds by
    // construction; the rest fail on the generated data (including
    // orderkey,linenumber→partkey — the generator reuses line numbers
    // within an order), so both verdicts are exercised.
    "etl_fd_check" -> ((s, d) => {
      def chk(name: String, df: DataFrame,
              lhs: Seq[String], rhs: String): DataFrame =
        df.groupBy(lhs.map(col): _*)
          .agg(countDistinct(col(rhs)).as("cd"))
          .agg(count(lit(1)).as("n_groups"),
               count(when(col("cd") > 1, 1)).as("n_violating"))
          .select(lit(name).as("fd"), col("n_groups"), col("n_violating"),
                  (col("n_violating") === 0).as("holds"))
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val p = t(s, d, "part")
      val doc = t(s, d, "documents"); val ev = t(s, d, "events")
      chk("documents: source->lang", doc, Seq("source"), "lang")
        .unionAll(chk("events: user_id->event_type", ev,
                      Seq("user_id"), "event_type"))
        .unionAll(chk("lineitem: orderkey,linenumber->partkey", li,
                      Seq("l_orderkey", "l_linenumber"), "l_partkey"))
        .unionAll(chk("orders: custkey->orderpriority", o,
                      Seq("o_custkey"), "o_orderpriority"))
        .unionAll(chk("orders: orderkey->custkey", o,
                      Seq("o_orderkey"), "o_custkey"))
        .unionAll(chk("part: brand->size", p, Seq("p_brand"), "p_size"))
        .orderBy(col("fd"))
    }),

    // Exact weighted median (lower median: least value whose cumulative
    // weight reaches half the total) of line price weighted by quantity,
    // per return flag. COARSE-TO-FINE, two scans, no global sort (r13):
    // the r12 form windowed the 594k-row (flag, price-cents) table over
    // partitionBy(flag) — |flags|=3 tasks, the recurring driver-read
    // drift (VERDICT r12 #4) — and routing it through the two-level
    // rankedCumSum machinery measured a ~1.9 s floor at sf0.1 (range
    // sampling + sort + checkpoint over 594k near-unique price keys:
    // compaction buys nothing when the key IS the price). Instead:
    //   1. aggregate weights into (flag, coarse price bucket) — map-side
    //      combine compacts to ≤|flags|·16k rows, a VALUE-DOMAIN bound
    //      (Bounded.collect discipline), not a data bound; the bucket
    //      WIDTH adapts to a 1-row min/max probe (r14, ADVICE r13: the
    //      fixed $1000 width made the 100k Bounded cap a function of the
    //      price domain — any domain wider than 10⁸ cents aborted), with
    //      $1000 as the floor so the fixture plan is unchanged;
    //   2. on the driver, walk each flag's sorted buckets to find the
    //      bucket holding the median plus the exact integer cumulative
    //      weight before it and the flag total;
    //   3. rescan only rows in the picked buckets (a 3-row broadcast
    //      join) and run the per-price window inside that one bucket —
    //      ~1/|buckets| of the data, never a 3-task global window.
    // Measured 0.90 s steady vs 1.9 s for the two-level pass. All
    // selection arithmetic is integer-exact — cw·2 ≥ tot — so the chosen
    // row cannot ulp-flip between engines; dollars only on output.
    "agg_weighted_median" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val pcCol = round(col("l_extendedprice") * 100).cast("bigint")
      val wCol = round(col("l_quantity")).cast("bigint")
      // bucket width from the price span: ≤16384 buckets per flag no
      // matter how wide the domain; bucket choice cannot affect the
      // answer (buckets only narrow the fine rescan — the median is
      // still the exact least price with cw·2 ≥ tot inside the picked
      // bucket), so the probe is a plan decision, not a numeric one
      val mm = li.agg(min(pcCol).as("mn"), max(pcCol).as("mx")).head()
      val width =
        if (mm.isNullAt(0)) 100000L
        else math.max(100000L, (mm.getLong(1) - mm.getLong(0)) / 16384L + 1L)
      val coarse = graft.core.Bounded.collect(
        li.groupBy(col("l_returnflag"), (pcCol / width).cast("bigint")
            .as("bk"))
          .agg(sum(wCol).as("w")),
        100000, "agg_weighted_median coarse price-bucket table")
      val picks = coarse.groupBy(_.getString(0)).map { case (f, rows) =>
        val srt = rows.sortBy(_.getLong(1))
        val tot = srt.map(_.getLong(2)).sum
        var cw = 0L; var pickBk = srt.head.getLong(1); var before = 0L
        var done = false
        val it = srt.iterator
        while (it.hasNext && !done) {
          val r = it.next()
          if ((cw + r.getLong(2)) * 2 >= tot) {
            pickBk = r.getLong(1); before = cw; done = true
          } else cw += r.getLong(2)
        }
        (f, pickBk, before, tot)
      }.toSeq.sortBy(_._1)
      val pk = s.createDataFrame(picks)
        .toDF("l_returnflag", "bk", "before", "tot")
      val fine = li.select(col("l_returnflag"), pcCol.as("pc"),
          wCol.as("w"))
        .join(broadcast(pk), Seq("l_returnflag"))
        .filter((col("pc") / width).cast("bigint") === col("bk"))
        .groupBy(col("l_returnflag"), col("pc"), col("before"), col("tot"))
        .agg(sum(col("w")).as("w"))
      // per-flag window over ONE bucket's prices — bounded, parallel-safe
      val win = Window.partitionBy(col("l_returnflag")).orderBy(col("pc"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      fine.withColumn("cw", sum(col("w")).over(win) + col("before"))
        .filter(col("cw") * 2 >= col("tot"))
        .groupBy(col("l_returnflag"))
        .agg(min(col("pc")).as("mpc"), max(col("tot")).as("total_weight"))
        .select(col("l_returnflag"),
          (col("mpc").cast("double") / 100.0).as("w_median_price"),
          col("total_weight"))
        .orderBy(col("l_returnflag"))
    }),

    // Two-sample Kolmogorov–Smirnov statistic — the distribution-drift
    // primitive: D = max_x |F_returned(x) − F_other(x)| between the price
    // distributions of returned vs. kept line items. Everything that picks
    // the answer is EXACT integer arithmetic: the ECDF comparison is done
    // on the common-denominator numerator |f1·n2 − f2·n1| (bigint), so the
    // argmax cannot ulp-flip; the single division producing D happens once
    // on output. Scale shape: the data-sized pass is one hash aggregate
    // compacting to ≤|distinct price-cents| rows; both cumulative ECDFs
    // share ONE ops.Partitioning.rankedCumSumMulti pass (range-partitioned
    // two-level scan, one sort for both measures — no global single-task
    // window); the max/argmax reduction and
    // the 1-row totals are the only driver-visible rows. (The bigint
    // cross-products bound n1·n2 < 2^63 — beyond ~3·10^9 rows per sample,
    // switch the numerator to DECIMAL(38,0).)
    "agg_ks_test" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      // r15 (VERDICT r14 #5): the hash aggregate stays FIRST — its
      // partial map-side reduction compacts ~10:1 once the price-cents
      // domain saturates (sf1+; fusing the aggregate into the range
      // exchange measured 1.8× slower there) — but the cumsum pass and
      // the totals now share ONE checkpoint (the kernel's sorted frame)
      // instead of materializing the aggregate twice.
      val g = li.groupBy(round(col("l_extendedprice") * 100).cast("bigint").as("pc"))
        .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("c1"),
             sum(when(col("l_returnflag") =!= "R", 1L).otherwise(0L)).as("c2"))
      val (cum, gShared) = Partitioning.rankedCumSumMultiShared(g,
        Seq(col("c1") -> "f1", col("c2") -> "f2"), Seq(col("pc")), 32)
      val tot = gShared.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      // argmax in ONE pass: max(struct(num, −pc)) picks the max numerator
      // and, among its ties, the smallest pc (−pc maximal ⇔ pc minimal) —
      // exactly the old max-probe + filter + min(pc) result, without
      // consuming the window output twice (the probe leg re-ran the
      // cumsum window end to end)
      cum.crossJoin(broadcast(tot))
        .select(col("n1"), col("n2"),
          struct(abs(col("f1") * col("n2") - col("f2") * col("n1"))
            .as("num"), (-col("pc")).as("npc")).as("cand"))
        .groupBy(col("n1"), col("n2"))
        .agg(max(col("cand")).as("m"))
        .select(col("n1"), col("n2"),
          ((-col("m.npc")).cast("double") / 100.0).as("ks_at_price"),
          (col("m.num").cast("double")
            / (col("n1").cast("double") * col("n2").cast("double"))).as("ks_d"))
    }),

    // Population-stability-index drift report between the pre- and
    // post-1998-04 order cohorts, over fixed $50k price buckets (integer
    // bucketing on exact cents — `pc div 5e6` — so bucket assignment is
    // engine-independent; data-driven edges like deciles would make the
    // report nondeterministic under resampling). Per-bucket PSI terms
    // (p−q)·ln(p/q) from exact integer counts, rounded once on output;
    // one hash aggregate over orders, ≤12 result rows. Buckets empty in
    // either cohort are reported with a NULL term rather than dropped or
    // epsilon-fudged — at 100 TB an empty bucket IS the drift signal.
    "agg_psi_drift" -> ((s, d) => {
      val o = t(s, d, "orders")
      val pc = round(col("o_totalprice") * 100).cast("bigint")
      val g = o.select(pc.as("pc"),
          (col("o_orderdate") < to_timestamp(lit("1998-04-01"))).as("base"))
        // `div` (truncates) ≡ DuckDB `//` (floors) only because
        // o_totalprice is strictly positive; signed values need the
        // floor form (see etl_k_anonymity)
        .select(expr("pc div 5000000").as("bucket"), col("base"))
        .groupBy(col("bucket"))
        .agg(sum(when(col("base"), 1L).otherwise(0L)).as("c_base"),
             sum(when(!col("base"), 1L).otherwise(0L)).as("c_cur"))
      val tot = g.agg(sum(col("c_base")).as("n_base"), sum(col("c_cur")).as("n_cur"))
      g.crossJoin(broadcast(tot))
        .select(col("bucket"), (col("bucket") * 50000.0).as("price_lo"),
          col("c_base"), col("c_cur"),
          round(when(col("c_base") > 0 && col("c_cur") > 0,
            (col("c_base").cast("double") / col("n_base")
              - col("c_cur").cast("double") / col("n_cur"))
            * log(col("c_base").cast("double") * col("n_cur")
                  / (col("c_cur").cast("double") * col("n_base")))), 6)
            .as("psi_term"))
        .orderBy(col("bucket"))
    }),

    // Chi-squared independence report between order status and priority —
    // the categorical-dependence screen (drift/feature relevance on
    // discrete columns, complementing the numeric KS/PSI screens). One
    // hash aggregate compacts the fact scan to |status|×|priority| cells;
    // marginals re-aggregate those cells (cell-sized, not data-sized).
    // Each cell's (O·n − r·k) is EXACT bigint — O·n ≤ n² needs n < ~3e9
    // before DECIMAL is required — and only the final square/divide is
    // double, computed identically on both engines and rounded once.
    "agg_chi2" -> ((s, d) => {
      val cells = statusPriorityCells(s, d)
      val rm = cells.groupBy(col("status")).agg(sum(col("c")).as("r"))
      val cm = cells.groupBy(col("priority")).agg(sum(col("c")).as("k"))
      val n = cells.agg(sum(col("c")).as("n"))
      cells.join(rm, Seq("status")).join(cm, Seq("priority"))
        .crossJoin(broadcast(n))
        .select(col("status"), col("priority"), col("c").as("observed"),
          round(col("r") * col("k") / col("n").cast("double"), 4)
            .as("expected"),
          round(pow((col("c") * col("n") - col("r") * col("k"))
              .cast("double"), 2)
            / (col("r").cast("double") * col("k") * col("n")), 6)
            .as("chi2_term"))
        .orderBy(col("status"), col("priority"))
    }),

    // Mutual information + global chi-squared / Cramér's V over the same
    // status×priority contingency — the 1-row dependence summary. The
    // fp-determinism trick: each cell term is computed once as a double
    // (identical expression on both engines), ROUNDED to fixed precision,
    // scaled to an exact BIGINT, and only those integers are summed —
    // integer addition is associative, so Spark's partial-agg order and
    // DuckDB's sequential order provably agree; one division on output.
    "agg_mutual_info" -> ((s, d) => {
      val cells = statusPriorityCells(s, d)
      val rm = cells.groupBy(col("status")).agg(sum(col("c")).as("r"))
      val cm = cells.groupBy(col("priority")).agg(sum(col("c")).as("k"))
      val tot = cells.agg(sum(col("c")).as("n"),
        countDistinct(col("status")).as("nr"),
        countDistinct(col("priority")).as("nc"))
      // chi2 runs over the FULL r×k grid, not just observed cells: a
      // structurally empty cell still contributes its expectation
      // (0·n − r·k)²/(r·k·n) = r·k/n, and dropping it understates the
      // statistic on sparse contingency tables. The grid cross join is
      // bounded by the two categorical marginals (|status| × |priority|,
      // single digits each), so broadcast(cm) keeps it a bounded
      // broadcast — never data-sized.
      val j = rm.crossJoin(broadcast(cm))
        .join(cells, Seq("status", "priority"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
        .crossJoin(broadcast(tot))
      // the MI term of an empty cell is lim x→0 x·log x = 0, made explicit
      val miTermU = round(
        when(col("c") > 0,
          (col("c").cast("double") / col("n"))
            * log(col("c").cast("double") * col("n")
                  / (col("r").cast("double") * col("k"))))
          .otherwise(0.0) * 1e9)
        .cast("bigint")
      val chiTermU = round(
        pow((col("c") * col("n") - col("r") * col("k")).cast("double"), 2)
          / (col("r").cast("double") * col("k") * col("n")) * 1e6)
        .cast("bigint")
      j.groupBy(col("n"), col("nr"), col("nc"))
        .agg(sum(miTermU).as("mi_u"), sum(chiTermU).as("chi_u"))
        .select(col("n"), col("nr"), col("nc"),
          round(col("mi_u") / 1e9, 6).as("mi_nats"),
          round(col("chi_u") / 1e6, 4).as("chi2"),
          round(sqrt(col("chi_u") / 1e6
            / (col("n") * least(col("nr") - 1, col("nc") - 1))), 6)
            .as("cramers_v"))
    }),

    // Weight-of-evidence / information-value feature screen: does the
    // price bucket of a line item separate returned ('R') from kept rows —
    // the standard scorecard feature-relevance report. Same fixed $50k
    // exact-cent buckets as agg_psi_drift (data-driven edges would be
    // nondeterministic under resampling); WOE's log argument is a ratio of
    // EXACT bigint cross-products, the iv_term double is computed once and
    // rounded. Buckets one-sided-empty get NULL woe rather than an epsilon
    // fudge — at scale an empty cell is itself the signal. One fact-scan
    // hash aggregate; everything after is ≤|buckets| rows.
    "agg_woe_iv" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val pc = round(col("l_extendedprice") * 100).cast("bigint")
      val cells = li
        .select(pc.as("pc"), (col("l_returnflag") === "R").as("ev"))
        // `div` truncates toward zero while the DuckDB twin's `//`
        // floors — equivalent ONLY because l_extendedprice (hence pc) is
        // strictly positive. For a signed measure use the floor form
        // (see etl_k_anonymity below).
        .select(expr("pc div 5000000").as("bucket"), col("ev"))
        .groupBy(col("bucket"))
        .agg(sum(when(col("ev"), 1L).otherwise(0L)).as("n_event"),
             sum(when(!col("ev"), 1L).otherwise(0L)).as("n_non"))
      val tot = cells.agg(sum(col("n_event")).as("te"),
                          sum(col("n_non")).as("tn"))
      val woe = log(col("n_event").cast("double") * col("tn")
                    / (col("n_non").cast("double") * col("te")))
      cells.crossJoin(broadcast(tot))
        .select(col("bucket"), (col("bucket") * 50000.0).as("price_lo"),
          col("n_event"), col("n_non"),
          round(when(col("n_event") > 0 && col("n_non") > 0, woe), 6)
            .as("woe"),
          round(when(col("n_event") > 0 && col("n_non") > 0,
            (col("n_event").cast("double") / col("te")
              - col("n_non").cast("double") / col("tn")) * woe), 6)
            .as("iv_term"))
        .orderBy(col("bucket"))
    }),

    // k-anonymity audit: how many quasi-identifier combinations identify
    // fewer than k=5 customers — the re-identification risk check run
    // before sharing "anonymized" data (nation × market segment × coarse
    // balance band here; a group of size 1 IS a person). One keyed
    // aggregate to the QI-combination table, then a bounded re-aggregate
    // to the risk report; the balance band is exact integer cents so
    // group membership can't drift between engines. Reports rows at
    // risk, not just groups — 1000 singleton groups and one giant group
    // are very different exposures.
    "etl_k_anonymity" -> ((s, d) => {
      val g = t(s, d, "customer")
        // floor division, NOT `div`: Spark div truncates toward zero but
        // DuckDB // floors, and account balances go negative
        .select(col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
          floor(round(col("c_acctbal") * 100).cast("bigint") / 100000.0)
            .cast("bigint").as("bal_band"))
        .groupBy(col("nat"), col("seg"), col("bal_band"))
        .agg(count(lit(1)).as("n"))
      g.agg(count(lit(1)).as("n_groups"),
          sum(col("n")).as("n_rows"),
          sum(when(col("n") < 5, 1L).otherwise(0L)).as("n_groups_lt_k"),
          sum(when(col("n") < 5, col("n")).otherwise(0L)).as("n_rows_at_risk"),
          min(col("n")).as("min_group"),
          sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_singletons"))
        .select(col("n_groups"), col("n_rows"), col("n_groups_lt_k"),
          col("n_rows_at_risk"), col("min_group"), col("n_singletons"),
          (col("n_rows_at_risk").cast("double") / col("n_rows"))
            .as("at_risk_frac"))
    }),

    // Deterministic format-preserving pseudonymization: the NIST FF1
    // Feistel SHAPE (4-round balanced network over the 10-digit key
    // space, 5+5 digit halves) with the repo's portable salted-md5
    // construction as the round PRF. Unlike hashing, the map is a
    // PERMUTATION — no collisions, format preserved (10-digit token),
    // invertible given the key schedule — i.e. pseudonymization in the
    // GDPR art. 4(5) sense, not anonymization. Customer keys and order
    // foreign keys are tokenized INDEPENDENTLY (4 md5 calls per row,
    // scan-side, zero added shuffles) and the audit joins orders →
    // customers BY TOKEN: per nation, order counts via token must equal
    // order counts via raw key (join consistency) and distinct tokens
    // must equal customer count (bijectivity). Keys must sit below
    // 10^10 — generators up to the sf1 fixture's 10^8 offsets do; a
    // wider domain just widens the halves.
    "etl_pseudonymize" -> ((s, d) => {
      val feistel = fpeTokenize _
      val cust = feistel(t(s, d, "customer")
          .select(col("c_custkey").cast("bigint").as("k"),
            col("c_nationkey").as("nat")))
        .select(col("nat"), col("token").as("ctok"))
      val ord = feistel(t(s, d, "orders")
          .select(col("o_custkey").cast("bigint").as("k")))
        .groupBy(col("token").as("otok")).agg(count(lit(1)).as("n_ord"))
      val byTok = cust
        .join(ord, col("ctok") === col("otok"), "left")
        .groupBy(col("nat"))
        .agg(count(lit(1)).as("n_customers"),
          countDistinct(col("ctok")).as("n_tokens"),
          sum(coalesce(col("n_ord"), lit(0L))).as("n_orders_by_token"))
      val byKey = t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nat"))
        .agg(count(lit(1)).as("n_orders_by_key"))
      byTok.join(byKey, Seq("nat"), "left")
        .select(col("nat"), col("n_customers"), col("n_tokens"),
          col("n_orders_by_token"),
          coalesce(col("n_orders_by_key"), lit(0L)).as("n_orders_by_key"),
          (col("n_orders_by_token") ===
            coalesce(col("n_orders_by_key"), lit(0L))).as("consistent"))
        .orderBy(col("nat"))
    }),

    // IQR-fence outlier profile per order priority: Tukey fences
    // (q1 − 1.5·IQR, q3 + 1.5·IQR) from interpolated quartiles over
    // exact cents (Spark `percentile` ≡ DuckDB `quantile_cont`, the
    // agg_percentile pairing), then exact integer comparisons against
    // the fences. Two passes: quartiles per group (broadcast back), then
    // one conditional count aggregate.
    "etl_outlier_iqr" -> ((s, d) => {
      val o = t(s, d, "orders")
        .select(col("o_orderpriority").as("priority"),
          round(col("o_totalprice") * 100).cast("bigint").as("pc"))
        .ckpt(eager = false) // quartile pass + count pass
      val q = o.groupBy(col("priority"))
        .agg(expr("percentile(pc, 0.25)").as("q1"),
          expr("percentile(pc, 0.75)").as("q3"))
        .select(col("priority"), col("q1"), col("q3"),
          (col("q1") - (col("q3") - col("q1")) * 1.5).as("lo"),
          (col("q3") + (col("q3") - col("q1")) * 1.5).as("hi"))
      o.join(broadcast(q), Seq("priority"))
        .groupBy(col("priority"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pc") < col("lo"), 1L).otherwise(0L)).as("n_low"),
          sum(when(col("pc") > col("hi"), 1L).otherwise(0L)).as("n_high"),
          round(max(col("lo")) / 100.0, 2).as("fence_lo"),
          round(max(col("hi")) / 100.0, 2).as("fence_hi"))
        .orderBy(col("priority"))
    }),

    // l-diversity audit — the companion to etl_k_anonymity: a QI group
    // can be large (k-anonymous) yet expose its members if every row
    // shares one sensitive value. l = distinct sensitive values per
    // (nation, segment) group; summary mirrors the k-anon report shape.
    "etl_l_diversity" -> ((s, d) => {
      val g = t(s, d, "customer")
        .select(col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
          floor(round(col("c_acctbal") * 100).cast("bigint") / 100000.0)
            .cast("bigint").as("bal_band"))
        .groupBy(col("nat"), col("seg"))
        .agg(count(lit(1)).as("n"),
          count_distinct(col("bal_band")).as("l"))
      g.agg(count(lit(1)).as("n_groups"),
          sum(col("n")).as("n_rows"),
          min(col("l")).as("min_l"),
          sum(when(col("l") < 3, 1L).otherwise(0L)).as("n_groups_lt_3"),
          sum(when(col("l") < 3, col("n")).otherwise(0L)).as("n_rows_at_risk"))
        .select(col("n_groups"), col("n_rows"), col("min_l"),
          col("n_groups_lt_3"), col("n_rows_at_risk"),
          round(col("n_rows_at_risk").cast("double")
            / col("n_rows").cast("double"), 6).as("at_risk_frac"))
    }),

    // Delete-one-group jackknife standard error of a ratio metric — the
    // error bar every dashboard ratio (avg order value here) needs but
    // a plain stddev can't give (the statistic is a ratio of sums, not
    // a mean of rows). LOO replicates come free from the group totals:
    // θ₋ᵢ = (T − tᵢ)/(N − nᵢ), no per-group rescan. fp discipline: each
    // replicate is one double expression rounded to an exact scaled
    // BIGINT (integer rounding is tie-safe, unlike fractional-digit
    // rounding); the variance uses the Σx/Σx² closed form on those
    // integers, and θ and the SE are emitted as raw engine-identical
    // doubles. Scale shape: one keyed aggregate + |groups|-row algebra.
    "agg_jackknife" -> ((s, d) => {
      val o = t(s, d, "orders").join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").as("g"),
          round(col("o_totalprice") * 100).cast("bigint").as("tp_u"))
      val groups = o.groupBy(col("g"))
        .agg(sum(col("tp_u")).as("t_g"), count(lit(1)).as("n_g"))
      val tot = groups.agg(sum(col("t_g")).as("tt"), sum(col("n_g")).as("nn"),
        count(lit(1)).as("gcnt"))
      groups.crossJoin(broadcast(tot))
        .select(col("gcnt"), col("tt"), col("nn"),
          round((col("tt") - col("t_g")).cast("double")
            / ((col("nn") - col("n_g")) * 100.0) * 1000).cast("bigint")
            .as("su"))
        .groupBy(col("gcnt"), col("tt"), col("nn"))
        .agg(sum(col("su")).as("s1"), sum(col("su") * col("su")).as("s2"))
        .select(col("gcnt").as("n_groups"),
          (col("tt").cast("double") / (col("nn") * 100.0)).as("theta"),
          (sqrt((col("gcnt") - 1).cast("double") / col("gcnt")
            * (col("s2") - col("s1").cast("double") * col("s1")
               / col("gcnt"))) / 1000.0).as("jk_se"))
    }),

    // Incremental JOIN-view maintenance — the delta algebra behind every
    // materialized join view at scale: with base deltas ΔA (new orders)
    // and ΔB (changed customers), the view delta is
    // ΔV = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB — three joins whose inputs are
    // delta-sized on at least one side, instead of rescanning A⋈B.
    // The query RUNS both paths (old view + delta legs vs full
    // recompute) and emits their row counts plus an order-independent
    // md5/bit_xor fingerprint equality — the driver hash then certifies
    // incremental ≡ full on real data every round. The quadrant split is
    // disjoint and exhaustive by construction, so plain unionAll (no
    // dedup) is correct. etl_incremental_agg covers the aggregate-view
    // case; this is the join-view counterpart.
    "etl_incremental_join" -> ((s, d) => {
      val o = t(s, d, "orders"); val c = t(s, d, "customer")
      val cut = to_timestamp(lit("1997-06-01"))
      val aOld = o.filter(col("o_orderdate") < cut)
      val dA = o.filter(col("o_orderdate") >= cut)
      val bOld = c.filter(col("c_custkey") % 10 =!= 0)
      val dB = c.filter(col("c_custkey") % 10 === 0)
      def v(a: DataFrame, b: DataFrame): DataFrame =
        a.join(b, a("o_custkey") === b("c_custkey"))
          .select(col("o_orderkey").cast("string").as("k1"),
            col("c_custkey").cast("string").as("k2"),
            col("c_mktsegment").as("k3"))
      def fp(df: DataFrame): DataFrame =
        df.select(md5Prefix(concat_ws("|", col("k1"), col("k2"), col("k3")),
            15).as("h64"))
          .agg(count(lit(1)).as("n"), bit_xor(col("h64")).as("f"))
      val inc = fp(v(aOld, bOld).unionAll(v(dA, bOld))
        .unionAll(v(aOld, dB)).unionAll(v(dA, dB)))
      val dOnly = v(dA, bOld).unionAll(v(aOld, dB)).unionAll(v(dA, dB))
        .agg(count(lit(1)).as("n_delta"))
      inc.select(col("n").as("n_incremental"), col("f").as("f_inc"))
        .crossJoin(broadcast(dOnly))
        .crossJoin(broadcast(fp(v(o, c))
          .select(col("n").as("n_full"), col("f").as("f_full"))))
        .select(col("n_incremental"), col("n_delta"), col("n_full"),
          (col("f_inc") === col("f_full")).as("incremental_consistent"))
    }),

    // Temporal train/test split + entity-leakage audit: split orders at a
    // date cutoff (the split every forecasting / recsys pipeline needs —
    // llm_split_assign's hash split would leak future rows into train),
    // then audit how many TEST customers also appear in train. That
    // overlap is definitional for user-level personalization but fatal
    // for cold-start evaluation, so it is REPORTED, not judged. Shapes:
    // one fact scan with conditional aggregates for the counts; the
    // overlap is a distinct-key semi-join (keyed shuffle, no fact rescan).
    "etl_time_split_audit" -> ((s, d) => {
      val o = t(s, d, "orders")
      val cut = to_timestamp(lit("1997-01-01"))
      val counts = o.agg(
        sum(when(col("o_orderdate") < cut, 1L).otherwise(0L)).as("n_train"),
        sum(when(col("o_orderdate") >= cut, 1L).otherwise(0L)).as("n_test"),
        max(when(col("o_orderdate") < cut, col("o_orderdate")))
          .cast("date").as("train_end"),
        min(when(col("o_orderdate") >= cut, col("o_orderdate")))
          .cast("date").as("test_start"))
      val trainC = o.filter(col("o_orderdate") < cut)
        .select(col("o_custkey")).distinct()
      val testC = o.filter(col("o_orderdate") >= cut)
        .select(col("o_custkey")).distinct()
      val ent = testC.join(trainC, Seq("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n_cust_overlap"))
      counts
        .crossJoin(broadcast(trainC.agg(count(lit(1)).as("n_cust_train"))))
        .crossJoin(broadcast(testC.agg(count(lit(1)).as("n_cust_test"))))
        .crossJoin(broadcast(ent))
        .select(col("n_train"), col("n_test"),
          col("train_end"), col("test_start"),
          col("n_cust_train"), col("n_cust_test"), col("n_cust_overlap"),
          round(col("n_cust_overlap").cast("double")
            / col("n_cust_test"), 6).as("test_leak_frac"))
    }))

  /** etl_pseudonymize's 4-round balanced Feistel over the 10-digit key
    * space (5+5 digit halves, salted-md5 round PRF): appends a `token`
    * column to a frame carrying a non-negative bigint `k` < 10^10. A
    * permutation of the domain by construction (each round is invertible),
    * exposed for the Round12Spec bijectivity property. */
  private[graft] def fpeTokenize(df: DataFrame): DataFrame = {
    var cur = df
      .withColumn("fl", expr("k div 100000"))
      .withColumn("fr", col("k") % 100000)
    for (i <- 1 to 4) {
      cur = cur
        .withColumn("ft", (col("fl") + expr(
          s"CAST(conv(substring(md5(concat('fpe:$i:'," +
            " CAST(fr AS STRING))), 1, 8), 16, 10) AS BIGINT)"))
          % 100000)
        .withColumn("fl", col("fr"))
        .withColumn("fr", col("ft"))
    }
    cur.withColumn("token",
        lpad((col("fl") * 100000 + col("fr")).cast("string"), 10, "0"))
      .drop("fl", "fr", "ft")
  }

  /** DuckDB-side Feistel round PRF for etl_pseudonymize's twin — the
    * same salted-md5 construction as the engine side. */
  private def fpeF(i: Int, r: String): String =
    s"CAST(('0x' || substr(md5('fpe:$i:' || CAST($r AS VARCHAR)), 1, 8)) AS BIGINT)"

  /** One table's unrolled 4-round Feistel CTE chain (tag-prefixed so the
    * customer and order chains coexist in one WITH clause). `keep0` is
    * the carried column as selected from the source table (may alias),
    * `keepN` its name in later rounds; empty = carry nothing. */
  private def fpeChain(tag: String, src: String, key: String,
                       keep0: String, keepN: String): String = {
    val k0 = if (keep0.isEmpty) "" else s"$keep0, "
    val k = if (keepN.isEmpty) "" else s"$keepN, "
    s"""${tag}0 AS (
       |  SELECT $k0$key // 100000 AS l0, $key % 100000 AS r0 FROM $src
       |), ${tag}1 AS (
       |  SELECT ${k}r0 AS l1, (l0 + ${fpeF(1, "r0")}) % 100000 AS r1
       |  FROM ${tag}0
       |), ${tag}2 AS (
       |  SELECT ${k}r1 AS l2, (l1 + ${fpeF(2, "r1")}) % 100000 AS r2
       |  FROM ${tag}1
       |), ${tag}3 AS (
       |  SELECT ${k}r2 AS l3, (l2 + ${fpeF(3, "r2")}) % 100000 AS r3
       |  FROM ${tag}2
       |), ${tag}4 AS (
       |  SELECT ${k}lpad(CAST(l4 * 100000 + r4 AS VARCHAR), 10, '0')
       |           AS token
       |  FROM (SELECT ${k}r3 AS l4,
       |               (l3 + ${fpeF(4, "r3")}) % 100000 AS r4
       |        FROM ${tag}3)
       |)""".stripMargin
  }

  val sql: Map[String, String] = Map(
    "etl_pseudonymize" -> s"""
      WITH ${fpeChain("c", "customer", "c_custkey",
                      "c_nationkey AS nat", "nat")},
      ${fpeChain("o", "orders", "o_custkey", "", "")},
      ocnt AS (
        SELECT token, count(*) AS n_ord FROM o4 GROUP BY 1
      ), bytok AS (
        SELECT nat, CAST(count(*) AS BIGINT) AS n_customers,
               CAST(count(DISTINCT token) AS BIGINT) AS n_tokens,
               CAST(sum(COALESCE(n_ord, 0)) AS BIGINT) AS n_orders_by_token
        FROM c4 LEFT JOIN ocnt USING (token) GROUP BY nat
      ), bykey AS (
        SELECT c_nationkey AS nat, CAST(count(*) AS BIGINT) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1
      )
      SELECT nat, n_customers, n_tokens, n_orders_by_token,
             COALESCE(bykey.n, 0) AS n_orders_by_key,
             n_orders_by_token = COALESCE(bykey.n, 0) AS consistent
      FROM bytok LEFT JOIN bykey USING (nat)""",


    "agg_pareto_abc" -> """
      WITH rev AS (
        SELECT l_partkey AS partkey,
               SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                   * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS rev_u
        FROM lineitem GROUP BY 1),
      ranked AS (
        SELECT partkey, rev_u,
               SUM(rev_u) OVER (ORDER BY rev_u DESC, partkey
                                ROWS UNBOUNDED PRECEDING) AS cum_u,
               SUM(rev_u) OVER () AS tot_u
        FROM rev)
      SELECT partkey,
             rev_u/10000.0 AS revenue,
             CAST(cum_u AS DOUBLE)/tot_u AS cum_share,
             CASE WHEN CAST(cum_u AS DOUBLE)/tot_u <= 0.7 THEN 'A'
                  WHEN CAST(cum_u AS DOUBLE)/tot_u <= 0.9 THEN 'B'
                  ELSE 'C' END AS abc
      FROM ranked""",

    "agg_gini" -> """
      WITH crev AS (
        SELECT c_nationkey AS nationkey, c_custkey,
               SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS rev_c
        FROM customer JOIN orders ON o_custkey = c_custkey
        GROUP BY 1, 2),
      idx AS (
        SELECT nationkey, rev_c,
               ROW_NUMBER() OVER (PARTITION BY nationkey
                                  ORDER BY rev_c, c_custkey) AS i
        FROM crev)
      SELECT nationkey,
             COUNT(*) AS n_cust,
             ROUND(2.0*SUM(i*rev_c)/(COUNT(*)*SUM(rev_c))
                   - (COUNT(*)+1.0)/COUNT(*), 6) AS gini
      FROM idx GROUP BY 1""",

    "agg_theil" -> """
      WITH crev AS (
        SELECT c_nationkey AS nationkey, c_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
                 AS rev_c
        FROM customer JOIN orders ON o_custkey = c_custkey
        GROUP BY 1, 2),
      terms AS (
        SELECT nationkey, rev_c,
               CAST(count(*) OVER (PARTITION BY nationkey) AS BIGINT) AS n,
               CAST(sum(rev_c) OVER (PARTITION BY nationkey) AS BIGINT)
                 AS stot
        FROM crev)
      SELECT nationkey, CAST(count(*) AS BIGINT) AS n_cust,
             CAST(floor(CAST(sum(CAST(floor(1e6
               * (CAST(rev_c AS DOUBLE) * n / stot)
               * ln(CAST(rev_c AS DOUBLE) * n / stot) + 0.5) AS BIGINT))
               AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS theil_ppm
      FROM terms GROUP BY nationkey""",

    "agg_hhi" -> """
      WITH rev AS (
        SELECT s.s_nationkey AS nationkey, s.s_suppkey AS suppkey,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
                        (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                    AS BIGINT) AS rev
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2),
      agg AS (
        SELECT nationkey, CAST(count(*) AS BIGINT) AS n_supp,
               CAST(sum(CAST(rev AS HUGEINT) * CAST(rev AS HUGEINT))
                    AS HUGEINT) AS sq,
               CAST(sum(CAST(rev AS HUGEINT)) AS HUGEINT) AS tot
        FROM rev GROUP BY 1)
      SELECT nationkey, n_supp,
             CAST(floor(1e6 * CAST(sq AS DOUBLE)
               / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) + 0.5)
               AS BIGINT) AS hhi_ppm
      FROM agg""",

    "agg_lorenz" -> """
      WITH crev AS (
        SELECT c_nationkey AS nationkey, c_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
                 AS rev_c
        FROM customer JOIN orders ON o_custkey = c_custkey
        GROUP BY 1, 2),
      rk AS (
        SELECT nationkey, rev_c,
               row_number() OVER (PARTITION BY nationkey
                                  ORDER BY rev_c, c_custkey) AS rn,
               count(*) OVER (PARTITION BY nationkey) AS n
        FROM crev),
      dec AS (
        SELECT nationkey, CAST(((rn - 1) * 10) // n AS BIGINT) AS decile,
               CAST(count(*) AS BIGINT) AS n_cust,
               CAST(sum(rev_c) AS BIGINT) AS dec_cents
        FROM rk GROUP BY 1, 2),
      cum AS (
        SELECT nationkey, decile, n_cust, dec_cents,
               CAST(sum(dec_cents) OVER (PARTITION BY nationkey
                 ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS BIGINT) AS cum_cents,
               CAST(sum(dec_cents) OVER (PARTITION BY nationkey)
                 AS BIGINT) AS tot_cents
        FROM dec)
      SELECT nationkey, decile, n_cust, dec_cents, cum_cents,
             CAST(floor(1e6 * cum_cents / tot_cents + 0.5) AS BIGINT)
               AS cum_share_ppm
      FROM cum""",

    "agg_corr_matrix" -> """
      SELECT ROUND(corr(l_quantity, l_extendedprice), 5) AS c_qty_price,
             ROUND(corr(l_quantity, l_discount), 5)      AS c_qty_disc,
             ROUND(corr(l_quantity, l_tax), 5)           AS c_qty_tax,
             ROUND(corr(l_extendedprice, l_discount), 5) AS c_price_disc,
             ROUND(corr(l_extendedprice, l_tax), 5)      AS c_price_tax,
             ROUND(corr(l_discount, l_tax), 5)           AS c_disc_tax
      FROM lineitem""",

    "win_mom_growth" -> """
      WITH m AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               ROUND(SUM(o_totalprice), 2) AS rev
        FROM orders GROUP BY 1)
      SELECT month, rev,
             ROUND((rev - LAG(rev) OVER (ORDER BY month))
                   / LAG(rev) OVER (ORDER BY month) * 100, 4) AS mom_pct
      FROM m""",

    "etl_table_fingerprint" -> """
      SELECT 'customer' AS table_name,
             COUNT(*) AS n_rows,
             bit_xor(CAST('0x' || substring(md5(concat_ws('|',
               CAST(c_custkey AS VARCHAR), c_name,
               CAST(c_nationkey AS VARCHAR), c_mktsegment)), 1, 15) AS BIGINT)) AS fp
      FROM customer
      UNION ALL
      SELECT 'orders' AS table_name,
             COUNT(*) AS n_rows,
             bit_xor(CAST('0x' || substring(md5(concat_ws('|',
               CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
               o_orderstatus, o_orderpriority,
               CAST(CAST(o_orderdate AS DATE) AS VARCHAR))), 1, 15) AS BIGINT)) AS fp
      FROM orders""",

    "llm_url_dedup" -> """
      WITH u AS (
        SELECT doc_id,
               'https://'
               || CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END
               || '.example.org/d/' || CAST(doc_id % 500 AS VARCHAR)
               || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
               || '?id=' || CAST(doc_id % 500 AS VARCHAR)
               || CASE WHEN doc_id % 3 = 0
                       THEN '&utm_source=feed&utm_campaign=x' ELSE '' END
               || CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url
        FROM documents),
      parts AS (
        SELECT doc_id,
               lower(regexp_extract(url, '^https://([^/?#]+)', 1)) AS host,
               regexp_replace(
                 regexp_extract(url, '^https://[^/?#]+([^?#]*)', 1),
                 '/$', '') AS path,
               regexp_replace(regexp_replace(
                 regexp_extract(url, '\?([^#]*)', 1),
                 '(&|^)utm_[^&]*', '', 'g'), '^&', '') AS query
        FROM u)
      SELECT 'https://' || host || path
             || CASE WHEN length(query) > 0 THEN '?' || query ELSE '' END
               AS canon_url,
             COUNT(*) AS n_dups,
             MIN(doc_id) AS keep_doc_id
      FROM parts GROUP BY 1""",

    "llm_repetition_score" -> """
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents),
      wc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
      ws AS (SELECT doc_id, SUM(c) AS n_words, MAX(c) AS top_w
             FROM wc GROUP BY 1),
      bg AS (SELECT doc_id,
                    tok || ' ' || lead(tok) OVER (PARTITION BY doc_id
                                                  ORDER BY pos) AS b
             FROM toks QUALIFY b IS NOT NULL),
      bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
      bs AS (SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_b
             FROM bc GROUP BY 1)
      SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
             CAST(top_w AS DOUBLE)/n_words AS top_word_frac,
             CAST(top_b AS DOUBLE)/n_bigrams AS top_bigram_frac,
             (CAST(top_w AS DOUBLE)/n_words > 0.12
              OR CAST(top_b AS DOUBLE)/n_bigrams > 0.18) AS flagged
      FROM ws JOIN bs USING (doc_id)""",

    "win_ignore_nulls" -> """
      SELECT event_id, user_id,
             CASE WHEN event_type = 'view' THEN NULL ELSE value END AS v,
             lead(CASE WHEN event_type = 'view' THEN NULL ELSE value END
                  IGNORE NULLS) OVER w AS next_v,
             lag(CASE WHEN event_type = 'view' THEN NULL ELSE value END
                 IGNORE NULLS) OVER w AS prev_v,
             first_value(CASE WHEN event_type = 'view' THEN NULL ELSE value END
                         IGNORE NULLS) OVER wf AS first_v,
             nth_value(CASE WHEN event_type = 'view' THEN NULL ELSE value END, 2
                       IGNORE NULLS) OVER wf AS second_v
      FROM events
      WINDOW w  AS (PARTITION BY user_id ORDER BY ts, event_id),
             wf AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",

    "etl_skew_profile" -> """
      WITH kc AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1)
      SELECT count(*) AS n_keys,
             CAST(SUM(c) AS BIGINT) AS n_rows,
             MAX(c) AS max_key_rows,
             quantile_cont(c, 0.5) AS p50_key_rows,
             quantile_cont(c, 0.99) AS p99_key_rows,
             ROUND(MAX(c) * count(*) / CAST(SUM(c) AS DOUBLE), 6) AS skew_factor
      FROM kc""",

    "fn_sql_params" -> """
      SELECT o_orderkey, o_totalprice
      FROM orders
      WHERE o_totalprice > 450000.0 AND o_orderstatus = 'F'""",

    "win_ndcg" -> """
      WITH rev AS (
        SELECT s_nationkey AS nationkey, s_suppkey AS suppkey,
               SUM(CASE WHEN l_shipdate < TIMESTAMP '1997-01-01'
                   THEN CAST(ROUND(l_extendedprice*100) AS BIGINT)
                        * (100 - CAST(ROUND(l_discount*100) AS BIGINT))
                   ELSE 0 END) AS rev1_u,
               SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                   THEN CAST(ROUND(l_extendedprice*100) AS BIGINT)
                        * (100 - CAST(ROUND(l_discount*100) AS BIGINT))
                   ELSE 0 END) AS rev2_u
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2),
      ranked AS (
        SELECT nationkey, rev2_u,
               ROW_NUMBER() OVER (PARTITION BY nationkey
                                  ORDER BY rev1_u DESC, suppkey) AS r1,
               ROW_NUMBER() OVER (PARTITION BY nationkey
                                  ORDER BY rev2_u DESC, suppkey) AS rg
        FROM rev)
      SELECT nationkey,
             ROUND(SUM(CASE WHEN r1 <= 10
                   THEN rev2_u/10000.0/log2(r1+1) ELSE 0.0 END), 4) AS dcg10,
             ROUND(SUM(CASE WHEN rg <= 10
                   THEN rev2_u/10000.0/log2(rg+1) ELSE 0.0 END), 4) AS idcg10,
             ROUND(SUM(CASE WHEN r1 <= 10
                   THEN rev2_u/10000.0/log2(r1+1) ELSE 0.0 END)
                   / SUM(CASE WHEN rg <= 10
                     THEN rev2_u/10000.0/log2(rg+1) ELSE 0.0 END), 4) AS ndcg10
      FROM ranked GROUP BY 1""",

    "agg_benford" -> """
      WITH counted AS (
        SELECT CAST(substring(CAST(CAST(ROUND(o_totalprice*100) AS BIGINT)
                                   AS VARCHAR), 1, 1) AS INT) AS digit,
               count(*) AS n
        FROM orders WHERE o_totalprice > 0
        GROUP BY 1),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tot FROM counted)
      SELECT digit, n,
             ROUND(CAST(n AS DOUBLE)/n_tot, 6) AS obs_frac,
             ROUND(log10(1.0 + 1.0/digit), 6) AS benford_frac,
             ROUND(pow(CAST(n AS DOUBLE)/n_tot - log10(1.0 + 1.0/digit), 2)
                   / log10(1.0 + 1.0/digit) * n_tot, 6) AS chi2_term
      FROM counted, tot""",

    "join_scd2_pit" -> """
      WITH hist AS (
        SELECT o_custkey AS h_custkey, o_orderkey AS version_id,
               o_orderdate AS effective_from,
               lead(o_orderdate) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS effective_to
        FROM orders),
      fact AS (
        SELECT o_orderkey AS fact_order, o_custkey,
               o_orderdate + INTERVAL 30 DAY AS pit_ts
        FROM orders)
      SELECT fact_order, o_custkey AS custkey, version_id
      FROM fact JOIN hist ON o_custkey = h_custkey
        AND pit_ts >= effective_from
        AND (effective_to IS NULL OR pit_ts < effective_to)""",

    "evt_twap" -> """
      WITH seq AS (
        SELECT user_id, value, ts,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS nts
        FROM events),
      iv AS (
        SELECT user_id,
               CAST(ROUND(value*1000) AS BIGINT) AS v_m,
               (epoch_us(nts) - epoch_us(ts)) // 1000 AS dur_ms
        FROM seq WHERE nts IS NOT NULL)
      SELECT user_id,
             COUNT(*) AS n_intervals,
             CAST(SUM(dur_ms) AS BIGINT) AS total_ms,
             CAST(SUM(v_m*dur_ms) AS DOUBLE)/SUM(dur_ms)/1000.0 AS twap
      FROM iv GROUP BY 1""",

    "etl_fk_audit" -> """
      WITH
      fk1 AS (
        SELECT 'customer.nationkey->nation' AS fk, COUNT(*) AS n_child,
               COUNT(CASE WHEN p.pk IS NULL THEN 1 END) AS n_orphans
        FROM customer c LEFT JOIN
          (SELECT DISTINCT n_nationkey AS pk FROM nation) p
          ON c.c_nationkey = p.pk),
      fk2 AS (
        SELECT 'events.user_id->supplier' AS fk, COUNT(*) AS n_child,
               COUNT(CASE WHEN p.pk IS NULL THEN 1 END) AS n_orphans
        FROM events e LEFT JOIN
          (SELECT DISTINCT s_suppkey AS pk FROM supplier) p
          ON e.user_id = p.pk),
      fk3 AS (
        SELECT 'lineitem.orderkey->orders' AS fk, COUNT(*) AS n_child,
               COUNT(CASE WHEN p.pk IS NULL THEN 1 END) AS n_orphans
        FROM lineitem l LEFT JOIN
          (SELECT DISTINCT o_orderkey AS pk FROM orders) p
          ON l.l_orderkey = p.pk),
      fk4 AS (
        SELECT 'lineitem.partkey->part' AS fk, COUNT(*) AS n_child,
               COUNT(CASE WHEN p.pk IS NULL THEN 1 END) AS n_orphans
        FROM lineitem l LEFT JOIN
          (SELECT DISTINCT p_partkey AS pk FROM part) p
          ON l.l_partkey = p.pk),
      fk5 AS (
        SELECT 'lineitem.suppkey->supplier' AS fk, COUNT(*) AS n_child,
               COUNT(CASE WHEN p.pk IS NULL THEN 1 END) AS n_orphans
        FROM lineitem l LEFT JOIN
          (SELECT DISTINCT s_suppkey AS pk FROM supplier) p
          ON l.l_suppkey = p.pk),
      fk6 AS (
        SELECT 'orders.custkey->customer' AS fk, COUNT(*) AS n_child,
               COUNT(CASE WHEN p.pk IS NULL THEN 1 END) AS n_orphans
        FROM orders o LEFT JOIN
          (SELECT DISTINCT c_custkey AS pk FROM customer) p
          ON o.o_custkey = p.pk),
      u AS (
        SELECT * FROM fk1 UNION ALL SELECT * FROM fk2
        UNION ALL SELECT * FROM fk3 UNION ALL SELECT * FROM fk4
        UNION ALL SELECT * FROM fk5 UNION ALL SELECT * FROM fk6)
      SELECT fk, n_child, n_orphans, n_orphans = 0 AS intact
      FROM u ORDER BY fk""",

    "etl_fd_check" -> """
      WITH
      fd1 AS (
        SELECT 'documents: source->lang' AS fd, COUNT(*) AS n_groups,
               COUNT(CASE WHEN cd > 1 THEN 1 END) AS n_violating
        FROM (SELECT source, COUNT(DISTINCT lang) AS cd
              FROM documents GROUP BY 1)),
      fd2 AS (
        SELECT 'events: user_id->event_type' AS fd, COUNT(*) AS n_groups,
               COUNT(CASE WHEN cd > 1 THEN 1 END) AS n_violating
        FROM (SELECT user_id, COUNT(DISTINCT event_type) AS cd
              FROM events GROUP BY 1)),
      fd3 AS (
        SELECT 'lineitem: orderkey,linenumber->partkey' AS fd,
               COUNT(*) AS n_groups,
               COUNT(CASE WHEN cd > 1 THEN 1 END) AS n_violating
        FROM (SELECT l_orderkey, l_linenumber, COUNT(DISTINCT l_partkey) AS cd
              FROM lineitem GROUP BY 1, 2)),
      fd4 AS (
        SELECT 'orders: custkey->orderpriority' AS fd, COUNT(*) AS n_groups,
               COUNT(CASE WHEN cd > 1 THEN 1 END) AS n_violating
        FROM (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS cd
              FROM orders GROUP BY 1)),
      fd5 AS (
        SELECT 'orders: orderkey->custkey' AS fd, COUNT(*) AS n_groups,
               COUNT(CASE WHEN cd > 1 THEN 1 END) AS n_violating
        FROM (SELECT o_orderkey, COUNT(DISTINCT o_custkey) AS cd
              FROM orders GROUP BY 1)),
      fd6 AS (
        SELECT 'part: brand->size' AS fd, COUNT(*) AS n_groups,
               COUNT(CASE WHEN cd > 1 THEN 1 END) AS n_violating
        FROM (SELECT p_brand, COUNT(DISTINCT p_size) AS cd
              FROM part GROUP BY 1)),
      u AS (
        SELECT * FROM fd1 UNION ALL SELECT * FROM fd2
        UNION ALL SELECT * FROM fd3 UNION ALL SELECT * FROM fd4
        UNION ALL SELECT * FROM fd5 UNION ALL SELECT * FROM fd6)
      SELECT fd, n_groups, n_violating, n_violating = 0 AS holds
      FROM u ORDER BY fd""",

    "agg_weighted_median" -> """
      WITH g AS (
        SELECT l_returnflag,
               CAST(ROUND(l_extendedprice*100) AS BIGINT) AS pc,
               SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS w
        FROM lineitem GROUP BY 1, 2),
      cum AS (
        SELECT l_returnflag, pc,
               SUM(w) OVER (PARTITION BY l_returnflag ORDER BY pc
                            ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(w) OVER (PARTITION BY l_returnflag) AS tot
        FROM g)
      SELECT l_returnflag,
             CAST(MIN(pc) AS DOUBLE)/100.0 AS w_median_price,
             CAST(MAX(tot) AS BIGINT) AS total_weight
      FROM cum WHERE cw*2 >= tot
      GROUP BY 1 ORDER BY 1""",

    "agg_ks_test" -> """
      WITH g AS (
        SELECT CAST(ROUND(l_extendedprice*100) AS BIGINT) AS pc,
               SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS c1,
               SUM(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END) AS c2
        FROM lineitem GROUP BY 1),
      cum AS (
        SELECT pc,
               SUM(c1) OVER (ORDER BY pc ROWS UNBOUNDED PRECEDING) AS f1,
               SUM(c2) OVER (ORDER BY pc ROWS UNBOUNDED PRECEDING) AS f2
        FROM g),
      tot AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM g),
      d AS (
        SELECT pc, n1, n2, abs(f1*n2 - f2*n1) AS num
        FROM cum, tot),
      mx AS (SELECT MAX(num) AS mxn FROM d)
      SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
             CAST(MIN(pc) AS DOUBLE)/100.0 AS ks_at_price,
             CAST(MAX(num) AS DOUBLE)
               /(CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE)) AS ks_d
      FROM d, mx WHERE num = mxn GROUP BY n1, n2""",

    "agg_psi_drift" -> """
      WITH g AS (
        SELECT CAST(ROUND(o_totalprice*100) AS BIGINT) // 5000000 AS bucket,
               SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-04-01 00:00:00'
                        THEN 1 ELSE 0 END) AS c_base,
               SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-04-01 00:00:00'
                        THEN 0 ELSE 1 END) AS c_cur
        FROM orders GROUP BY 1),
      tot AS (SELECT SUM(c_base) AS n_base, SUM(c_cur) AS n_cur FROM g)
      SELECT bucket, CAST(bucket * 50000.0 AS DOUBLE) AS price_lo,
             CAST(c_base AS BIGINT) AS c_base, CAST(c_cur AS BIGINT) AS c_cur,
             ROUND(CASE WHEN c_base > 0 AND c_cur > 0 THEN
               (CAST(c_base AS DOUBLE)/n_base - CAST(c_cur AS DOUBLE)/n_cur)
               * ln(CAST(c_base AS DOUBLE)*n_cur
                    / (CAST(c_cur AS DOUBLE)*n_base)) END, 6) AS psi_term
      FROM g, tot ORDER BY bucket""",

    "agg_chi2" -> """
      WITH cells AS (
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1, 2),
      rm AS (SELECT status, SUM(c) AS r FROM cells GROUP BY 1),
      cm AS (SELECT priority, SUM(c) AS k FROM cells GROUP BY 1),
      tot AS (SELECT SUM(c) AS n FROM cells)
      SELECT cells.status, cells.priority, c AS observed,
             ROUND(r * k / CAST(n AS DOUBLE), 4) AS expected,
             ROUND(POW(CAST(c*n - r*k AS DOUBLE), 2)
                   / (CAST(r AS DOUBLE) * k * n), 6) AS chi2_term
      FROM cells
      JOIN rm ON rm.status = cells.status
      JOIN cm ON cm.priority = cells.priority
      CROSS JOIN tot
      ORDER BY cells.status, cells.priority""",

    "agg_mutual_info" -> """
      WITH cells AS (
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1, 2),
      rm AS (SELECT status, SUM(c) AS r FROM cells GROUP BY 1),
      cm AS (SELECT priority, SUM(c) AS k FROM cells GROUP BY 1),
      tot AS (SELECT SUM(c) AS n,
                     CAST(COUNT(DISTINCT status) AS BIGINT) AS nr,
                     CAST(COUNT(DISTINCT priority) AS BIGINT) AS nc
              FROM cells),
      grid AS (
        SELECT rm.status, cm.priority, rm.r, cm.k,
               COALESCE(cells.c, 0) AS c
        FROM rm CROSS JOIN cm
        LEFT JOIN cells
          ON cells.status = rm.status AND cells.priority = cm.priority),
      terms AS (
        SELECT n, nr, nc,
               CAST(ROUND(CASE WHEN c > 0 THEN (CAST(c AS DOUBLE)/n)
                 * ln(CAST(c AS DOUBLE)*n / (CAST(r AS DOUBLE)*k))
                 ELSE 0.0 END * 1e9)
                 AS BIGINT) AS mi_u,
               CAST(ROUND(POW(CAST(c*n - r*k AS DOUBLE), 2)
                 / (CAST(r AS DOUBLE)*k*n) * 1e6) AS BIGINT) AS chi_u
        FROM grid
        CROSS JOIN tot)
      SELECT CAST(n AS BIGINT) AS n, nr, nc,
             ROUND(SUM(mi_u)/1e9, 6) AS mi_nats,
             ROUND(SUM(chi_u)/1e6, 4) AS chi2,
             ROUND(SQRT(SUM(chi_u)/1e6
               / (n * LEAST(nr - 1, nc - 1))), 6) AS cramers_v
      FROM terms GROUP BY n, nr, nc""",

    "agg_woe_iv" -> """
      WITH cells AS (
        SELECT CAST(ROUND(l_extendedprice*100) AS BIGINT) // 5000000
                 AS bucket,
               SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                 AS n_event,
               SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)
                 AS n_non
        FROM lineitem GROUP BY 1),
      tot AS (SELECT SUM(n_event) AS te, SUM(n_non) AS tn FROM cells)
      SELECT bucket, CAST(bucket * 50000.0 AS DOUBLE) AS price_lo,
             CAST(n_event AS BIGINT) AS n_event,
             CAST(n_non AS BIGINT) AS n_non,
             ROUND(CASE WHEN n_event > 0 AND n_non > 0 THEN
               ln(CAST(n_event AS DOUBLE)*tn / (CAST(n_non AS DOUBLE)*te))
               END, 6) AS woe,
             ROUND(CASE WHEN n_event > 0 AND n_non > 0 THEN
               (CAST(n_event AS DOUBLE)/te - CAST(n_non AS DOUBLE)/tn)
               * ln(CAST(n_event AS DOUBLE)*tn
                    / (CAST(n_non AS DOUBLE)*te)) END, 6) AS iv_term
      FROM cells, tot ORDER BY bucket""",

    "win_skyline" -> """
      WITH p AS (
        SELECT p_partkey AS k,
               CAST(ROUND(p_retailprice*100) AS BIGINT) AS x,
               CAST(p_size AS BIGINT) AS y
        FROM part)
      SELECT k, x / 100.0 AS price, y AS size
      FROM p a
      WHERE NOT EXISTS (
        SELECT 1 FROM p b
        WHERE b.x <= a.x AND b.y <= a.y AND (b.x < a.x OR b.y < a.y))
      ORDER BY k""",

    "win_drawdown" -> """
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
                 AS rev_u
        FROM orders GROUP BY 1),
      scored AS (
        SELECT day,
               SUM(rev_u) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                 AS cum_u
        FROM daily),
      dd AS (
        SELECT day,
               MAX(cum_u) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                 - cum_u AS dd_u
        FROM scored),
      mx AS (SELECT MAX(dd_u) AS mx FROM dd)
      SELECT MIN(day) AS worst_day, CAST(COUNT(*) AS BIGINT) AS n_ties,
             ROUND(CAST(mx AS DOUBLE) / 100.0, 2) AS max_drawdown
      FROM dd, mx WHERE dd_u = mx GROUP BY mx""",

    "etl_outlier_iqr" -> """
      WITH o AS (
        SELECT o_orderpriority AS priority,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pc
        FROM orders
      ), q AS (
        SELECT priority,
               quantile_cont(pc, 0.25) AS q1,
               quantile_cont(pc, 0.75) AS q3
        FROM o GROUP BY priority
      ), f AS (
        SELECT priority, q1 - (q3 - q1) * 1.5 AS lo, q3 + (q3 - q1) * 1.5 AS hi
        FROM q
      )
      SELECT o.priority, count(*) AS n,
             CAST(sum(CASE WHEN o.pc < f.lo THEN 1 ELSE 0 END) AS BIGINT)
               AS n_low,
             CAST(sum(CASE WHEN o.pc > f.hi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_high,
             round(max(f.lo) / 100.0, 2) AS fence_lo,
             round(max(f.hi) / 100.0, 2) AS fence_hi
      FROM o JOIN f ON f.priority = o.priority
      GROUP BY o.priority
      ORDER BY o.priority""",

    "etl_l_diversity" -> """
      WITH g AS (
        SELECT c_nationkey AS nat, c_mktsegment AS seg,
               count(*) AS n,
               count(DISTINCT CAST(FLOOR(CAST(ROUND(c_acctbal * 100) AS BIGINT)
                 / 100000.0) AS BIGINT)) AS l
        FROM customer
        GROUP BY 1, 2
      )
      SELECT CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(min(l) AS BIGINT) AS min_l,
             CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_groups_lt_3,
             CAST(sum(CASE WHEN l < 3 THEN n ELSE 0 END) AS BIGINT)
               AS n_rows_at_risk,
             round(CAST(sum(CASE WHEN l < 3 THEN n ELSE 0 END) AS DOUBLE)
                   / CAST(sum(n) AS DOUBLE), 6) AS at_risk_frac
      FROM g""",

    "etl_k_anonymity" -> """
      WITH g AS (
        SELECT c_nationkey AS nat, c_mktsegment AS seg,
               CAST(FLOOR(CAST(ROUND(c_acctbal * 100) AS BIGINT) / 100000.0)
                 AS BIGINT) AS bal_band,
               CAST(count(*) AS BIGINT) AS n
        FROM customer GROUP BY 1, 2, 3)
      SELECT CAST(count(*) AS BIGINT) AS n_groups,
             CAST(SUM(n) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_groups_lt_k,
             CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
               AS n_rows_at_risk,
             CAST(MIN(n) AS BIGINT) AS min_group,
             CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_singletons,
             CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE)
               / SUM(n) AS at_risk_frac
      FROM g""",

    "agg_jackknife" -> """
      WITH o AS (
        SELECT c_nationkey AS g,
               CAST(ROUND(o_totalprice*100) AS BIGINT) AS tp_u
        FROM orders JOIN customer ON o_custkey = c_custkey),
      groups AS (
        SELECT g, CAST(SUM(tp_u) AS BIGINT) AS t_g,
               CAST(count(*) AS BIGINT) AS n_g
        FROM o GROUP BY 1),
      tot AS (
        SELECT CAST(SUM(t_g) AS BIGINT) AS tt,
               CAST(SUM(n_g) AS BIGINT) AS nn,
               CAST(count(*) AS BIGINT) AS gcnt
        FROM groups),
      loo AS (
        SELECT gcnt, tt, nn,
               CAST(ROUND(CAST(tt - t_g AS DOUBLE)
                 / ((nn - n_g) * 100.0) * 1000) AS BIGINT) AS su
        FROM groups, tot),
      ag AS (
        SELECT gcnt, tt, nn, CAST(SUM(su) AS BIGINT) AS s1,
               CAST(SUM(su * su) AS BIGINT) AS s2
        FROM loo GROUP BY 1, 2, 3)
      SELECT gcnt AS n_groups,
             CAST(tt AS DOUBLE) / (nn * 100.0) AS theta,
             SQRT(CAST(gcnt - 1 AS DOUBLE) / gcnt
                  * (s2 - CAST(s1 AS DOUBLE) * s1 / gcnt)) / 1000.0 AS jk_se
      FROM ag""",

    "etl_incremental_join" -> """
      WITH a_old AS (SELECT o_orderkey, o_custkey FROM orders
                     WHERE o_orderdate < TIMESTAMP '1997-06-01 00:00:00'),
      d_a AS (SELECT o_orderkey, o_custkey FROM orders
              WHERE o_orderdate >= TIMESTAMP '1997-06-01 00:00:00'),
      b_old AS (SELECT c_custkey, c_mktsegment FROM customer
                WHERE c_custkey % 10 <> 0),
      d_b AS (SELECT c_custkey, c_mktsegment FROM customer
              WHERE c_custkey % 10 = 0),
      legs AS (
        SELECT CAST(o_orderkey AS VARCHAR) AS k1,
               CAST(c_custkey AS VARCHAR) AS k2, c_mktsegment AS k3
        FROM d_a JOIN b_old ON o_custkey = c_custkey
        UNION ALL
        SELECT CAST(o_orderkey AS VARCHAR), CAST(c_custkey AS VARCHAR),
               c_mktsegment
        FROM a_old JOIN d_b ON o_custkey = c_custkey
        UNION ALL
        SELECT CAST(o_orderkey AS VARCHAR), CAST(c_custkey AS VARCHAR),
               c_mktsegment
        FROM d_a JOIN d_b ON o_custkey = c_custkey),
      v_inc AS (
        SELECT CAST(o_orderkey AS VARCHAR) AS k1,
               CAST(c_custkey AS VARCHAR) AS k2, c_mktsegment AS k3
        FROM a_old JOIN b_old ON o_custkey = c_custkey
        UNION ALL SELECT k1, k2, k3 FROM legs),
      v_full AS (
        SELECT CAST(o_orderkey AS VARCHAR) AS k1,
               CAST(c_custkey AS VARCHAR) AS k2, c_mktsegment AS k3
        FROM orders JOIN customer ON o_custkey = c_custkey),
      fi AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_incremental,
                    bit_xor(CAST('0x' || substring(md5(concat_ws('|',
                      k1, k2, k3)), 1, 15) AS BIGINT)) AS f_inc
             FROM v_inc),
      ff AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_full,
                    bit_xor(CAST('0x' || substring(md5(concat_ws('|',
                      k1, k2, k3)), 1, 15) AS BIGINT)) AS f_full
             FROM v_full),
      dn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_delta FROM legs)
      SELECT n_incremental, n_delta, n_full,
             f_inc = f_full AS incremental_consistent
      FROM fi, ff, dn""",

    "etl_time_split_audit" -> """
      WITH counts AS (
        SELECT SUM(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
                        THEN 1 ELSE 0 END) AS n_train,
               SUM(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                        THEN 1 ELSE 0 END) AS n_test,
               CAST(MAX(CASE WHEN o_orderdate <
                          TIMESTAMP '1997-01-01 00:00:00'
                        THEN o_orderdate END) AS DATE) AS train_end,
               CAST(MIN(CASE WHEN o_orderdate >=
                          TIMESTAMP '1997-01-01 00:00:00'
                        THEN o_orderdate END) AS DATE) AS test_start
        FROM orders),
      tr AS (SELECT DISTINCT o_custkey FROM orders
             WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
      te AS (SELECT DISTINCT o_custkey FROM orders
             WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'),
      sizes AS (
        SELECT (SELECT COUNT(*) FROM tr) AS n_cust_train,
               (SELECT COUNT(*) FROM te) AS n_cust_test,
               (SELECT COUNT(*) FROM te
                WHERE o_custkey IN (SELECT o_custkey FROM tr))
                 AS n_cust_overlap)
      SELECT CAST(n_train AS BIGINT) AS n_train,
             CAST(n_test AS BIGINT) AS n_test,
             train_end, test_start,
             CAST(n_cust_train AS BIGINT) AS n_cust_train,
             CAST(n_cust_test AS BIGINT) AS n_cust_test,
             CAST(n_cust_overlap AS BIGINT) AS n_cust_overlap,
             ROUND(CAST(n_cust_overlap AS DOUBLE) / n_cust_test, 6)
               AS test_leak_frac
      FROM counts, sizes""")
}
