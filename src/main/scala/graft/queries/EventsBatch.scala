package graft.queries
import graft.core.Ckpt._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables.t

/** Time-window operators over the `events` table, run in BATCH mode so the
  * DuckDB oracle can check them. The same `window`/`session_window`
  * expressions are reused by [[graft.streaming.EventStreams]] under
  * `readStream` + watermark — Spark's batch/streaming unification means the
  * semantics checked here are the streaming semantics.
  */
object EventsBatch extends graft.Family {
  // per-corpus event-type domain for evt_type_overlap's bitmask fast
  // path (plain values, not session-bound — the bpeCache pattern)
  private val typeDomainCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[String]]

  /** Each event with the type of the same user's previous event in
    * (ts, event_id) order, as `prev_type`; a user's first event has none
    * and is dropped. */
  private def transitionPairs(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    t(s, d, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
  }

  /** Event-type transition counts `(prev_type, next_type, n)` over each
    * user's (ts, event_id)-ordered events — the Markov-chain input. */
  private def transitionCounts(s: SparkSession, d: String): DataFrame =
    transitionPairs(s, d)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))

  /** DuckDB replay of [[transitionCounts]]: `c(prev_type, next_type, n)`. */
  private val transitionCtes: String = """pairs AS (
        SELECT lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS prev_type,
               event_type AS next_type
        FROM events
      ), c AS (
        SELECT prev_type, next_type, count(*) AS n FROM pairs
        WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type
      )"""

  /** Per event type, each event's exact-µs `gap` to the previous one in
    * (us, event_id) order; the first event of a type has none. */
  private def interArrivalGaps(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("us"), col("event_id"))
    t(s, d, "events")
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap").isNotNull)
  }

  /** DuckDB replay of [[interArrivalGaps]], before its null filter:
    * `g(event_type, gap)`. */
  private val interArrivalCte: String = """g AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                 PARTITION BY event_type
                 ORDER BY epoch_us(ts), event_id) AS gap
        FROM events)"""

  val defs: Map[String, Q] = Map(
    // frequent ordered 2-sequences (the sequence-mining support count):
    // for every ordered event-type pair (a, b), how many users performed
    // an a-event STRICTLY BEFORE some b-event. "Exists a before b" ⇔
    // min ts(a) < max ts(b), so the whole mining pass is ONE per-(user,
    // type) min/max aggregate (bounded at |users|·|types| rows) and a
    // within-user self-join whose fan-out is |types|² = 25 per user —
    // never an event×event join; the shuffle key is user_id.
    "evt_frequent_seq2" -> ((s, d) => {
      val spans = t(s, d, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
        .ckpt(eager = false) // both self-join legs
      val a = spans.select(col("user_id"), col("event_type").as("etype_a"),
        col("first_ts"))
      val b = spans.select(col("user_id"), col("event_type").as("etype_b"),
        col("last_ts"))
      a.join(b, Seq("user_id"))
        .filter(col("etype_a") =!= col("etype_b") &&
          col("first_ts") < col("last_ts"))
        .groupBy(col("etype_a"), col("etype_b"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // growth accounting (new / retained / resurrected / churned per
    // active day) — the standard DAU lifecycle decomposition. Everything
    // runs on the DISTINCT (user, day) activity set: per-user lag/lead
    // windows are bounded by the CALENDAR (≤ |days| rows per user), the
    // churn horizon is a 1-row max broadcast, and day ids are integer
    // epoch-day arithmetic (unix seconds div 86400 — identical floor on
    // both engines).
    "evt_growth_accounting" -> ((s, d) => {
      val mu = t(s, d, "events")
        .select(col("user_id"),
          (unix_timestamp(col("ts")) / lit(86400L)).cast("bigint").as("di"))
        .distinct()
        .ckpt(eager = false) // status, churn, and horizon legs
      val wU = Window.partitionBy(col("user_id")).orderBy(col("di"))
      val status = mu
        .withColumn("prev_di", lag(col("di"), 1).over(wU))
        .withColumn("status",
          when(col("prev_di").isNull, "new")
            .when(col("prev_di") === col("di") - 1, "retained")
            .otherwise("resurrected"))
        .groupBy(col("di"), col("status"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("di"))
        .agg(sum(when(col("status") === "new", col("n")).otherwise(0L))
            .as("n_new"),
          sum(when(col("status") === "retained", col("n")).otherwise(0L))
            .as("n_retained"),
          sum(when(col("status") === "resurrected", col("n")).otherwise(0L))
            .as("n_resurrected"))
      val horizon = mu.agg(max(col("di")).as("max_di"))
      val churn = mu
        .withColumn("next_di", lead(col("di"), 1).over(wU))
        .filter(col("next_di").isNull || col("next_di") > col("di") + 1)
        .select((col("di") + 1).as("di"))
        .crossJoin(broadcast(horizon))
        .filter(col("di") <= col("max_di"))
        .groupBy(col("di")).agg(count(lit(1)).as("n_churned"))
      status.join(churn, Seq("di"), "left")
        .select(col("di"), col("n_new"), col("n_retained"),
          col("n_resurrected"),
          coalesce(col("n_churned"), lit(0L)).as("n_churned"))
    }),

    // tumbling 1h window per event_type
    "evt_tumbling_window" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
        .select(col("window.start").as("win_start"), col("event_type"),
                col("n"), col("sum_value"))
    }),

    // sliding 2h window, 1h slide: each event lands in 2 windows
    "evt_sliding_window" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour"))
        .agg(count(lit(1)).as("n"), avg(col("value")).as("avg_value"))
        .select(col("window.start").as("win_start"), col("n"), col("avg_value"))
    }),

    // session windows, 30-minute inactivity gap, per user.
    // Oracle: classic gaps-and-islands (lag + cumulative flag sum).
    "evt_session_window" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
             min(col("ts")).as("session_start"),
             max(col("ts")).as("session_last"),
             sum(col("value")).as("session_value"))
        .select(col("user_id"), col("session_start"), col("session_last"),
                col("n_events"), col("session_value"))
    }),

    // DYNAMIC-gap session windows: each event extends its session by its
    // own gap (errors cool off in 10 min, everything else in 30), so the
    // session end is the running max of ts+gap — the twin's island flag
    // therefore compares against max(ts+gap) over ALL prior rows, not
    // lag(ts): an earlier long-gap event can out-reach the previous row.
    "evt_session_dynamic" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(session_window(col("ts"),
          when(col("event_type") === "error", "10 minutes")
            .otherwise("30 minutes")), col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("session_value"))
    }),

    // chained window aggregation, batch twin: 15-min (bucket, type)
    // counts rolled into hourly activity summaries — runs
    // EventStreams.chainedWindowCounts VERBATIM (watermark is a no-op in
    // batch), so this oracle hash certifies the two-stage stateful
    // streaming semantics; StreamingSpec proves streamed ≡ this.
    "evt_chained_windows" -> ((s, d) =>
      graft.streaming.EventStreams.chainedWindowCounts(t(s, d, "events"))),

    // ordered conversion funnel (view → click → purchase): stage k's
    // earliest qualifying event must follow stage k-1's. Three user-keyed
    // aggregates joined forward — every shuffle is on user_id, so AQE
    // co-partitions the chain and there is no window pass over the raw
    // event stream. Left joins keep users who stall mid-funnel; `stage`
    // records how deep each user converted.
    "evt_funnel" -> ((s, d) => {
      val ev = t(s, d, "events")
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ts").as("cts"))
        .join(v, col("cu") === col("user_id") && col("cts") > col("t_view"))
        .groupBy(col("cu")).agg(min(col("cts")).as("t_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("pts"))
        .join(c, col("pu") === col("cu") && col("pts") > col("t_click"))
        .groupBy(col("pu")).agg(min(col("pts")).as("t_purchase"))
      v.join(c, col("user_id") === col("cu"), "left_outer")
        .join(p, col("user_id") === col("pu"), "left_outer")
        .select(col("user_id"), col("t_view"), col("t_click"),
          col("t_purchase"),
          (lit(1) + when(col("t_click").isNotNull, 1).otherwise(0) +
            when(col("t_purchase").isNotNull, 1).otherwise(0)).as("stage"))
    }),

    // conversion-latency distribution: among fully-converted users, the
    // view→purchase delay percentiles — the product metric the funnel
    // feeds. One pass over the (already user-collapsed) funnel frame.
    "evt_conversion_latency" -> ((s, d) => {
      defs("evt_funnel")(s, d)
        .filter(col("t_purchase").isNotNull)
        .withColumn("latency_s",
          (unix_timestamp(col("t_purchase")) - unix_timestamp(col("t_view")))
            .cast("double"))
        .agg(count(lit(1)).as("n_converted"),
          expr("percentile(latency_s, 0.5)").as("p50_s"),
          expr("percentile(latency_s, 0.9)").as("p90_s"),
          min(col("latency_s")).as("min_s"),
          max(col("latency_s")).as("max_s"))
    }),

    // click→purchase attribution, batch twin (SURVEY §2 streaming table):
    // on batch inputs EventStreams.attributeClicks runs the plain join,
    // which is the reference its streamed keyed-state path must equal;
    // StreamingSpec and perfbench's ssjoin op check streamed ≡ this.
    "evt_stream_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      graft.streaming.EventStreams.attributeClicks(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"))
    }),

    // left-outer variant: purchases with no attributable click survive
    // null-extended (the streaming form emits them once the click watermark
    // rules out late arrivals).
    "evt_stream_join_left" -> ((s, d) => {
      val ev = t(s, d, "events")
      graft.streaming.EventStreams.attributeClicks(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        joinType = "left_outer")
    }),

    // interval join (bucketed, no nested loop — see ops.IntervalJoin):
    // clicks landing in the 90-minute window opened by each signup
    "join_interval" -> ((s, d) => {
      val ev = t(s, d, "events")
      val intervals = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("iv_id"), col("ts").as("iv_start"),
          (col("ts") + expr("interval 90 minutes")).as("iv_end"))
      val points = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("pt_id"), col("ts"))
      graft.ops.IntervalJoin.joinPointInInterval(
          points, intervals, "ts", "iv_start", "iv_end")
        .groupBy(col("iv_id"))
        .agg(count(lit(1)).as("n_clicks"), min(col("ts")).as("first_click"))
    }),

    // the SAME containment semantics through the NATIVE broadcast range
    // join (plans/RangeJoinPlan.scala: sorted starts + prefix-max ends,
    // O(log n + matches) probes instead of the BNLJ's O(n) scan per
    // row). Shares join_interval's oracle SQL, so driver hash parity
    // proves native ≡ bucket-composed ≡ DuckDB. Sides are re-read from
    // source so they carry distinct attribute ids.
    "join_interval_native" -> ((s, d) => {
      val intervals = t(s, d, "events")
        .filter(col("event_type") === "signup")
        .select(col("event_id").as("iv_id"), col("ts").as("iv_start"),
          (col("ts") + expr("interval 90 minutes")).as("iv_end"))
      val points = t(s, d, "events")
        .filter(col("event_type") === "click")
        .select(col("event_id").as("pt_id"), col("ts"))
      graft.plans.RangeNative.joinRangeNative(
          points, intervals, "ts", "iv_start", "iv_end")
        .groupBy(col("iv_id"))
        .agg(count(lit(1)).as("n_clicks"), min(col("ts")).as("first_click"))
    }),

    // as-of join, composed scale-friendly (SURVEY §2 "as-of / interval
    // join", §7.4 risk 7): for each purchase, the latest STRICTLY-PRIOR
    // click of the same user. Implemented as one pass over a
    // (user_id, ts)-sorted window — O(n) per partition, no range join,
    // no shuffle beyond the user_id hash partition. DuckDB oracle: ASOF JOIN.
    // forward as-of twin: for each purchase, the EARLIEST strictly-later
    // click of the same user. RANGE frame on the microsecond epoch, not a
    // ROWS frame: rowsBetween(1, …) would admit a click sharing the
    // purchase's exact timestamp (it sorts after by event_id), violating
    // the strict c.ts > p.ts contract the DuckDB ASOF oracle enforces.
    "join_asof_forward" -> ((s, d) => {
      val ev = t(s, d, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("us", unix_micros(col("ts")))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"))
        .rangeBetween(1, Window.unboundedFollowing)
      ev.withColumn("next_click_ts",
          first(when(col("event_type") === "click", col("ts")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("next_click_ts"))
    }),

    // NEAREST as-of (either direction): for each purchase, the click of
    // the same user minimizing |Δt|, ties → the earlier (backward)
    // click. Completes the as-of family (backward / forward / nearest —
    // the pandas merge_asof direction='nearest' contract). One sorted
    // window pass computes BOTH candidates (last-before via a trailing
    // RANGE frame, first-after via a leading one) and the pick is a
    // CASE on exact microsecond deltas — still O(n) per user partition,
    // no range join. Twin: two chained DuckDB ASOF joins + the same
    // epoch-microsecond CASE.
    "join_asof_nearest" -> ((s, d) => {
      val ev = t(s, d, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("us", unix_micros(col("ts")))
      val wPrev = Window.partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(Window.unboundedPreceding, -1)
      val wNext = Window.partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(1, Window.unboundedFollowing)
      val clickTs = when(col("event_type") === "click", col("ts"))
      ev.withColumn("prev_ts", last(clickTs, ignoreNulls = true).over(wPrev))
        .withColumn("next_ts", first(clickTs, ignoreNulls = true).over(wNext))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("prev_ts").isNull, col("next_ts"))
            .when(col("next_ts").isNull, col("prev_ts"))
            .when(col("us") - unix_micros(col("prev_ts")) <=
                  unix_micros(col("next_ts")) - col("us"), col("prev_ts"))
            .otherwise(col("next_ts")).as("nearest_click_ts"))
    }),

    // peak concurrency via the classic sweep line: sessions are
    // signup + 90 minutes (the interval-join fixture's windows); each
    // interval contributes a +1 at start and a −1 at end, the running
    // sum over the time-ordered deltas IS the live-session count, and
    // its max is the capacity answer. Ties break (time, delta asc) so
    // an end at time T releases BEFORE a start at T claims — the
    // half-open [start, end) convention, pinned identically in both
    // engines. Exact integers throughout; the running sum uses the
    // time-ordered window over the DELTA stream (2 rows per session,
    // not per event).
    "evt_peak_concurrency" -> ((s, d) => {
      val iv = t(s, d, "events")
        .filter(col("event_type") === "signup")
        .select(col("event_id"),
          unix_micros(col("ts")).as("st"),
          (unix_micros(col("ts")) + 5400000000L).as("en"))
      val deltas = iv.select(col("st").as("pt"), lit(1L).as("dl"))
        .union(iv.select(col("en").as("pt"), lit(-1L).as("dl")))
      // the running sum goes through the two-level prefix-sum scan —
      // a global Window.orderBy here would funnel 2·|sessions| rows
      // through one task (the classic sweep-line scale cliff)
      graft.ops.Partitioning
        .rankedCumSum(deltas, col("dl"), Seq(col("pt"), col("dl")), 32,
          "live")
        .agg(max(col("live")).as("peak_concurrent"),
          count(lit(1)).as("n_points"))
    }),

    // downtime report per event type: an outage is an inter-arrival gap
    // > 1 hour; exact-µs counts, totals, and the longest gap — the
    // islands complement of evt_interarrival's distribution view.
    "evt_gap_report" -> ((s, d) => {
      interArrivalGaps(s, d)
        .groupBy(col("event_type"))
        .agg(
          sum(when(col("gap") > 3600000000L, 1L).otherwise(0L))
            .as("n_outages"),
          sum(when(col("gap") > 3600000000L, col("gap")).otherwise(0L))
            .as("downtime_us"),
          max(col("gap")).as("longest_gap_us"))
    }),

    // inter-arrival profile per event type — the ops-side load model
    // (rate provisioning, anomaly thresholds, exponential-fit λ = 1/mean
    // all read off this table): exact-µs gaps from one lag window, then
    // mean via integral division and median/p95 as exact gap MEMBERS
    // (percentile_disc cast BIGINT — the dtype discipline). No FP in
    // the output at all.
    "evt_interarrival" -> ((s, d) => {
      interArrivalGaps(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          expr("sum(gap) div count(1)").as("mean_gap_us"),
          expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap)" +
            " AS BIGINT)").as("p50_gap_us"),
          expr("CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY gap)" +
            " AS BIGINT)").as("p95_gap_us"))
    }),

    // point-in-time feature assembly — the FEATURE-STORE join: for each
    // purchase (the label event), the strictly-prior state of several
    // feature streams (last click, last view, prior-event count) with
    // no leakage from the future. ONE sorted window pass computes every
    // feature column (vs the naive k as-of joins = k shuffles); the
    // strictly-preceding RANGE frame on exact microseconds is the
    // leakage guard. This is join_asof generalized to the multi-feature
    // case — the shape a training-set builder runs at 100 TB.
    "join_pit_features" -> ((s, d) => {
      val ev = t(s, d, "events")
        .filter(col("event_type").isin("click", "view", "purchase"))
        .withColumn("us", unix_micros(col("ts")))
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(Window.unboundedPreceding, -1)
      ev
        .withColumn("last_click_ts",
          max(when(col("event_type") === "click", col("ts"))).over(w))
        .withColumn("last_view_ts",
          max(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("n_prior",
          count(when(col("event_type") =!= "purchase", 1)).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("last_click_ts"), col("last_view_ts"), col("n_prior"))
    }),

    // as-of with a TOLERANCE bound (the pandas merge_asof `tolerance=`
    // contract): the latest strictly-prior click counts only if it is
    // within 30 minutes of the purchase — otherwise NULL, not the stale
    // match. Same single sorted-window pass as join_asof; the gate is
    // one exact microsecond comparison, so no second join and no FP.
    "join_asof_tolerance" -> ((s, d) => {
      val ev = t(s, d, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("us", unix_micros(col("ts")))
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(Window.unboundedPreceding, -1)
      val clickTs = when(col("event_type") === "click", col("ts"))
      ev.withColumn("prev_ts", last(clickTs, ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("us") - unix_micros(col("prev_ts")) <= 1800000000L,
            col("prev_ts")).as("click_within_30m"))
    }),

    // the NATIVE as-of operator (graft.plans.AsOfJoin — logical node +
    // strategy + sort-merge exec via SparkSessionExtensions), same
    // semantics and same DuckDB ASOF oracle as the composed join_asof
    // below: latest click strictly before each purchase, per user. The
    // right side is re-read from source so the two sides carry distinct
    // attribute ids.
    "join_asof_native" -> ((s, d) => {
      val purchases = t(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = t(s, d, "events")
        .filter(col("event_type") === "click")
        .select(col("user_id").as("c_user_id"), col("ts").as("last_click_ts"))
      graft.plans.AsOfNative.joinAsOfNative(purchases, clicks,
          Seq("user_id"), Seq("c_user_id"), "ts", "last_click_ts")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("last_click_ts"))
    }),

    "join_asof_native_forward" -> ((s, d) => {
      val purchases = t(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = t(s, d, "events")
        .filter(col("event_type") === "click")
        .select(col("user_id").as("c_user_id"), col("ts").as("next_click_ts"))
      graft.plans.AsOfNative.joinAsOfNative(purchases, clicks,
          Seq("user_id"), Seq("c_user_id"), "ts", "next_click_ts",
          forward = true)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("next_click_ts"))
    }),

    // time-series resample + gap-fill: per-user hourly grid spanning the
    // user's observed range (sequence generator — no driver loop), left
    // join of the hourly averages, forward-fill via last(ignoreNulls) over
    // an unbounded-preceding frame. The canonical sensor/metrics
    // regularization operator; one shuffle for the hourly agg + one
    // key-partitioned window. The hourly average is rounded BEFORE the
    // fill so both engines propagate identical values through gaps.
    "evt_resample_ffill" -> ((s, d) => {
      val obs = t(s, d, "events")
        .select(col("user_id"), date_trunc("hour", col("ts")).as("hr"),
          col("value"))
        .groupBy(col("user_id"), col("hr"))
        .agg(round(avg(col("value")), 6).as("obs_avg"))
      val grid = obs.groupBy(col("user_id"))
        .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
        .select(col("user_id"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("hr"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(obs, Seq("user_id", "hr"), "left")
        .withColumn("filled",
          last(col("obs_avg"), ignoreNulls = true).over(w))
        .withColumn("is_gap", col("obs_avg").isNull)
        .select(col("user_id"), col("hr"), col("filled"), col("is_gap"))
    }),

    // linear interpolation between sparse observations — the smooth twin
    // of evt_resample_ffill's step fill. Every 3rd event keeps its value
    // ("known"); the rest interpolate between the previous and next known
    // point in event time (nearest-known at the edges). Two frames of the
    // SAME user-partitioned window sort (backward last + forward first,
    // ignoreNulls) — one shuffle, one sort, no joins; the lerp itself is
    // scan-side arithmetic. Division is identical IEEE math on both
    // engines; rounded to 6 for the hash.
    "evt_interp_linear" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("known", when(col("event_id") % 3 === 0, col("value")))
      val wb = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      ev
        .withColumn("pv", last(col("known"), ignoreNulls = true).over(wb))
        .withColumn("pt", last(when(col("known").isNotNull, col("us")),
          ignoreNulls = true).over(wb))
        .withColumn("nv", first(col("known"), ignoreNulls = true).over(wf))
        .withColumn("nt", first(when(col("known").isNotNull, col("us")),
          ignoreNulls = true).over(wf))
        .withColumn("interp", round(
          when(col("known").isNotNull, col("known"))
            .when(col("pv").isNull, col("nv"))
            .when(col("nv").isNull, col("pv"))
            .otherwise(col("pv") + (col("nv") - col("pv")) *
              (col("us") - col("pt")).cast("double") /
              (col("nt") - col("pt")).cast("double")), 6))
        .select(col("event_id"), col("user_id"), col("known"), col("interp"))
    }),

    // first-order Markov transition matrix over per-user event sequences:
    // lag pairs → pair counts → row-normalized probabilities. One
    // user-keyed window + one pair aggregate; the |types|² transition
    // table is bounded whatever the event volume.
    "evt_markov_transitions" -> ((s, d) =>
      transitionPairs(s, d)
        .select(col("prev_type"), col("event_type").as("next_type"))
        .groupBy(col("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", round(col("n") /
          sum(col("n")).over(Window.partitionBy(col("prev_type"))), 6))),

    // steady-state distribution of the event-type Markov chain: 10 power
    // steps from the uniform vector, ALL-INTEGER — transition cells on a
    // 1e-9 grid (floor(1e9·n/n_prev + 0.5)), state mass on a 1e-12 grid,
    // each step Σᵢ vᵢ·tᵢⱼ computed exactly in BigInt then floor-divided
    // by 1e9 — so the 10-step trajectory is bit-replayable in DuckDB
    // (HUGEINT, unrolled CTEs). The matrix is |types|² = 25 cells BY THE
    // TYPE DOMAIN: collected and iterated on the driver (bounded action,
    // the graph_components pattern) — the only data-sized job is the
    // transition-count aggregate.
    "evt_markov_steady" -> ((s, d) => {
      val tr = transitionCounts(s, d)
      val cellsDf = tr.withColumn("np",
          sum(col("n")).over(Window.partitionBy(col("prev_type"))))
        .selectExpr("prev_type", "next_type",
          "CAST(floor(1e9 * n / np + 0.5) AS BIGINT) AS t")
      val cellRows = graft.core.Bounded.collect(cellsDf, 1024,
        "evt_markov_steady transition cells (|event types|^2 domain)")
      val cells = cellRows
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val states = cells.map(_._1).distinct.sorted ++
        cells.map(_._2).distinct.diff(cells.map(_._1).distinct).sorted
      var v: Map[String, BigInt] =
        states.map(_ -> BigInt(1000000000000L) / states.length).toMap
      for (_ <- 1 to 10) {
        val nv = states.map { j =>
          j -> cells.filter(_._2 == j)
            .map { case (i, _, tt) => v(i) * tt }
            .foldLeft(BigInt(0))(_ + _) / BigInt(1000000000L)
        }.toMap
        v = nv
      }
      import s.implicits._
      s.createDataset(states.map(st => (st, v(st).toLong)).toSeq)
        .toDF("state", "v_scaled")
        .select(col("state"), col("v_scaled"),
          (col("v_scaled").cast("double") / 1e12).as("p"))
        .orderBy(col("state"))
    }),

    // Markov-chain multi-touch attribution (removal effects — the
    // industry-standard counterpart of evt_shapley_attribution, which
    // scores coalitions; this scores the JOURNEY GRAPH): user paths run
    // start → channel events (everything before the first purchase) →
    // conv/null absorbing states; each channel's credit is its removal
    // effect 1 − P(conv | chain with transitions into the channel
    // redirected to null) / P(conv), normalized over channels. P(conv)
    // is the absorbing mass after 16 power steps — a TRUNCATED, exactly
    // replayable definition (both engines run the identical 16 steps;
    // absorbing states carry 1e9 self-loops so mass accumulates).
    // NUMERICS: transition cells on the 1e-9 grid, mass on the 1e-12
    // grid, Σᵢ vᵢ·tᵢⱼ exact in BigInt then one floor-div per (scenario,
    // state, step) — bit-replayable in DuckDB HUGEINT (the markov_steady
    // discipline). The matrix is (|types|+3)² cells BY THE TYPE DOMAIN:
    // collected and iterated on the driver (bounded action); the only
    // data-sized jobs are the user-keyed journey windows and the
    // transition-count aggregate.
    "evt_markov_attribution" -> ((s, d) => {
      val G = 1000000000L
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val ev = t(s, d, "events").select(col("user_id"),
        col("event_type"), row_number().over(w).as("rn"))
      val pconv = ev.groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "purchase", col("rn")))
          .as("prn"))
      val jour = ev.join(pconv, Seq("user_id"))
        .filter(col("prn").isNull || col("rn") < col("prn"))
        .ckpt(eager = false)
      val jw = Window.partitionBy(col("user_id")).orderBy(col("rn"))
      val internal = jour
        .withColumn("prev", lag(col("event_type"), 1).over(jw))
        .select(coalesce(col("prev"), lit("_start")).as("i"),
          col("event_type").as("j"))
      val lastev = jour.groupBy(col("user_id"))
        .agg(expr("max_by(event_type, rn)").as("last_type"))
      val terminals = pconv.join(lastev, Seq("user_id"), "left")
        .select(coalesce(col("last_type"), lit("_start")).as("i"),
          when(col("prn").isNotNull, lit("_conv")).otherwise(lit("_null"))
            .as("j"))
      val cellsDf = internal.union(terminals)
        .groupBy(col("i"), col("j")).agg(count(lit(1)).as("n"))
        .withColumn("np", sum(col("n")).over(Window.partitionBy(col("i"))))
        .selectExpr("i", "j", "CAST(floor(1e9 * n / np + 0.5) AS BIGINT) AS t")
      val base = graft.core.Bounded.collect(cellsDf, 1024,
        "evt_markov_attribution transition cells (|event types|+3 domain)")
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))) ++
        Seq(("_conv", "_conv", G), ("_null", "_null", G))
      val channels = base.map(_._2)
        .filterNot(Set("_conv", "_null")).distinct.sorted
      def pConv(removed: Option[String]): BigInt = {
        val cells = base
          .map { case (i, j, tt) =>
            (i, if (removed.contains(j)) "_null" else j, tt) }
          .groupBy(c => (c._1, c._2))
          .map { case ((i, j), xs) => (i, j, xs.map(_._3).sum) }.toSeq
        var v: Map[String, BigInt] =
          Map("_start" -> BigInt(1000000000000L)).withDefaultValue(BigInt(0))
        for (_ <- 1 to 16) {
          v = cells.groupBy(_._2).map { case (j, xs) =>
            j -> xs.map { case (i, _, tt) => v(i) * BigInt(tt) }.sum /
              BigInt(G)
          }.withDefaultValue(BigInt(0))
        }
        v("_conv")
      }
      val pf = pConv(None)
      val raw = channels.map(c => (c, pConv(Some(c))))
      val sumRe = raw.map { case (_, pc) => pf - pc }.sum
      val out = raw.map { case (c, pc) =>
        val re = pf - pc
        val rePpm = if (pf > 0) (re * 1000000 / pf).toLong else 0L
        val attrPpm =
          if (sumRe > 0) (re * 1000000 / sumRe).toLong else 0L
        (c, pf.toLong, pc.toLong, rePpm, attrPpm)
      }
      import s.implicits._
      s.createDataset(out).toDF("channel", "p_conv_full_pico",
          "p_conv_removed_pico", "removal_ppm", "attribution_ppm")
        .orderBy(col("channel"))
    }),

    // inter-event dwell-time distribution per event type (lead on the
    // same user-keyed window the other sequence queries ride; the last
    // event per user has no successor and drops out)
    "evt_dwell_time" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("next_ts", lead(col("ts"), 1).over(w))
        .filter(col("next_ts").isNotNull)
        .withColumn("dwell_s",
          (unix_micros(col("next_ts")) - unix_micros(col("ts")))
            .cast("double") / 1e6)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("dwell_s")), 4).as("avg_dwell"),
          round(expr("percentile(dwell_s, 0.5)"), 4).as("p50"),
          round(expr("percentile(dwell_s, 0.9)"), 4).as("p90"),
          round(max(col("dwell_s")), 4).as("max_dwell"))
    }),

    "join_asof" -> ((s, d) => {
      val ev = t(s, d, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("us", unix_micros(col("ts")))
      // RANGE frame for the same strict-< reason as join_asof_forward: a
      // ROWS frame would admit an equal-timestamp click that happens to
      // sort before the purchase by event_id
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"))
        .rangeBetween(Window.unboundedPreceding, -1)
      ev.withColumn("last_click_ts",
          last(when(col("event_type") === "click", col("ts")), ignoreNulls = true)
            .over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("last_click_ts"))
    }),

    // stateless monitoring gate, batch twin: events above their type's
    // p99 baseline — runs EventStreams.thresholdAlerts verbatim with the
    // baseline computed from the same table (under readStream the
    // baseline is the static side; StreamingSpec proves streamed ≡ this).
    "evt_threshold_alerts" -> ((s, d) => {
      val ev = t(s, d, "events")
      graft.streaming.EventStreams.thresholdAlerts(ev,
        graft.streaming.EventStreams.typeBaseline(ev))
    }),

    // A/B-test readout: users split into two deterministic variants
    // (user_id parity stands in for the assignment column a real
    // experiment logs); conversion = a high-value purchase (> 150 — every
    // user makes SOME purchase in this fixture, and a degenerate pooled
    // rate of 1.0 zeroes the z denominator). Per-variant counts
    // come from ONE user-keyed aggregate, and the pooled two-proportion
    // z-statistic is computed relationally from the 2-row variant table
    // (conditional sums — no per-variant collect).
    // experiment POWER ANALYSIS (the design-side companion of evt_ab_test:
    // before running the test, how many users per arm does detecting a
    // 5%-of-mean lift need at α = 0.05 / power = 0.8?):
    // n = 2σ²(z_{α/2} + z_β)²/δ² with (1.959964 + 0.841621)² folded to
    // the exact literal 7.848887 (same constant text both engines — no
    // normal-quantile libm anywhere). σ² and the mean come from exact
    // integer cents sums (the ml_linreg discipline); δ = 0.05·mean; the
    // one ceil is bit-deterministic. ONE data-sized aggregate.
    "evt_power_analysis" -> ((s, d) => {
      val perUser = t(s, d, "events")
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100).cast("bigint")).as("cents"))
      def dsum(e: org.apache.spark.sql.Column) =
        sum(e.cast("decimal(38,0)")).cast("double")
      perUser.agg(
          count(lit(1)).cast("double").as("n"),
          dsum(col("cents")).as("sy"),
          dsum(col("cents") * col("cents")).as("syy"))
        .selectExpr("n", "sy / n AS mean_cents",
          "(syy - sy*sy/n) / (n - 1.0) AS var_cents2")
        .selectExpr("n", "mean_cents", "var_cents2",
          "0.05 * mean_cents AS mde_cents")
        .selectExpr(
          "CAST(n AS BIGINT) AS n_users",
          "round(mean_cents, 4) AS mean_cents",
          "round(var_cents2, 4) AS var_cents2",
          "round(mde_cents, 4) AS mde_cents",
          "CAST(ceil(2.0 * var_cents2 * 7.848887" +
            " / (mde_cents * mde_cents)) AS BIGINT) AS n_per_arm")
    }),

    "evt_ab_test" -> ((s, d) => {
      val byUser = t(s, d, "events")
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" && col("value") > 150.0,
          1).otherwise(0)).as("converted"))
        .withColumn("variant", pmod(col("user_id"), lit(2)).cast("int"))
      val variants = byUser.groupBy(col("variant"))
        .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_conv"))
        .withColumn("cvr",
          col("n_conv").cast("double") / col("n_users").cast("double"))
      val pooled = variants.agg(
        sum(col("n_conv")).cast("double").as("conv_all"),
        sum(col("n_users")).cast("double").as("n_all"),
        sum(when(col("variant") === 0, col("n_conv"))).cast("double").as("c0"),
        sum(when(col("variant") === 0, col("n_users"))).cast("double").as("u0"),
        sum(when(col("variant") === 1, col("n_conv"))).cast("double").as("c1"),
        sum(when(col("variant") === 1, col("n_users"))).cast("double").as("u1"))
        .select((col("conv_all") / col("n_all")).as("p_pool"),
          col("c0"), col("u0"), col("c1"), col("u1"))
        .select(when(col("p_pool") > 0.0 && col("p_pool") < 1.0,
          (col("c1") / col("u1") - col("c0") / col("u0")) /
            sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
              (lit(1.0) / col("u0") + lit(1.0) / col("u1"))))
          .as("z_stat"))
      variants.crossJoin(broadcast(pooled))
        .select(col("variant"), col("n_users"), col("n_conv"), col("cvr"),
          col("z_stat"))
    }),

    // per-type activity trend: OLS slope/intercept/r2 of hourly event
    // counts against hours-since-first — "is this event type growing?".
    // Hourly aggregate then one regr_* pass per type; trend math never
    // touches raw events.
    "evt_trend" -> ((s, d) => {
      val hourly = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
      val t0 = hourly.agg(min(col("hr")).as("t0"))
      hourly.crossJoin(broadcast(t0))
        .withColumn("h_idx",
          ((unix_timestamp(col("hr")) - unix_timestamp(col("t0"))) / 3600L)
            .cast("double"))
        .groupBy(col("event_type"))
        .agg(expr("regr_slope(n, h_idx)").as("slope"),
          expr("regr_intercept(n, h_idx)").as("intercept"),
          expr("regr_r2(n, h_idx)").as("r2"),
          count(lit(1)).as("n_hours"))
    }),

    // rolling 24-hour correlation between the click and purchase hourly
    // revenue series — the co-movement diagnostic. The two series are
    // EXACT cents sums joined on the hour; corr runs as a window
    // aggregate over the bounded hourly frame (ROWS 23 PRECEDING), only
    // full windows emitted.
    "evt_rolling_corr" -> ((s, d) => {
      val hourly = t(s, d, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(sum(round(col("value") * 100).cast("bigint")).as("cents"))
      val clicks = hourly.filter(col("event_type") === "click")
        .select(col("hr"), col("cents").as("c_click"))
      val purch = hourly.filter(col("event_type") === "purchase")
        .select(col("hr"), col("cents").as("c_purchase"))
      val w = Window.orderBy(col("hr")).rowsBetween(-23, 0)
      clicks.join(purch, Seq("hr"))
        .withColumn("wn", count(lit(1)).over(w))
        .withColumn("r", corr(col("c_click").cast("double"),
          col("c_purchase").cast("double")).over(w))
        .filter(col("wn") === 24)
        .select(col("hr"), col("c_click"), col("c_purchase"),
          round(col("r"), 6).as("rolling_corr"))
    }),

    // Holt's linear (double-exponential) smoothing over the per-type
    // hourly count series — the trend-aware forecasting companion of the
    // seasonal-naive backtest below. α = 0.2, β = 0.1, states carried in
    // micro-counts (count × 1e6) with an ALL-INTEGER recurrence: each
    // step is l' = ⌊(2·y·1e6 + 8·(l+b))/10⌋, b' = ⌊((l'−l) + 9·b)/10⌋ —
    // floor division of exactly-divisible-or-floored BIGINTs, so the
    // whole trajectory is engine-exact (the ml_confusion discipline: no
    // FP anywhere, not even a rounded one). Execution: ONE distributed
    // hourly aggregate (the data-sized job), then a per-type sequential
    // fold over the collected series via a HOF `aggregate` — bounded by
    // the TIME RANGE (720 hours here), never the event rate, the same
    // justification as evt_decompose's windows. The twin replays the
    // recurrence as a recursive CTE joining rn = rn+1.
    "evt_holt" -> ((s, d) => {
      val hourly = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("y"))
      val series = hourly.groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("hr"), col("y")))).as("pts"))
      val prev = "element_at(acc, -1)"
      def fd(x: String) = s"((($x) - pmod($x, 10L)) div 10L)"
      val lnew = fd(s"2L*x.y*1000000L + 8L*($prev.l + $prev.b)")
      val bnew = fd(s"$lnew - $prev.l + 9L*$prev.b")
      series
        .withColumn("st", expr(
          s"""aggregate(
             |  slice(pts, 2, greatest(size(pts) - 1, 0)),
             |  array(named_struct('l', element_at(pts, 1).y * 1000000L,
             |                     'b', 0L)),
             |  (acc, x) -> array_append(acc,
             |    named_struct('l', $lnew, 'b', $bnew)))""".stripMargin))
        .withColumn("r", explode(expr(
          """zip_with(pts, st, (p, q) -> named_struct(
            |  'hr', p.hr, 'y', p.y, 'level_mc', q.l, 'trend_mc', q.b,
            |  'forecast_mc', q.l + q.b))""".stripMargin)))
        .select(col("event_type"), col("r.hr").as("hr"), col("r.y").as("y"),
          col("r.level_mc").as("level_mc"), col("r.trend_mc").as("trend_mc"),
          col("r.forecast_mc").as("forecast_mc"))
    }),

    // Croston's method (1972) + the Syntetos–Boylan correction for
    // INTERMITTENT demand — the forecasting shape for series that are
    // mostly zeros (spare parts, per-segment purchases), where SES on
    // the raw series is biased: smooth demand SIZE z and inter-demand
    // INTERVAL p separately over demand points only, forecast = z/p
    // per period (SBA: ×(1−α/2)). Same exact-integer discipline as
    // evt_holt: α = 0.2 as the fixed-point (2·x + 8·s) div 10 over
    // ×1e6-scaled BIGINTs, so every state is engine-identical; the two
    // output rates quantize once on output. p seeds with the first
    // observed gap — the (2g + 8g) div 10 = g idempotence makes the
    // uniform fold exact for the seed element too. Demand sizes and gaps
    // are non-negative, so Spark's truncating `div` ≡ DuckDB's flooring
    // `//` here (a signed fold would need the evt_holt pmod form) — and
    // that precondition is ENFORCED, not assumed (ADVICE r12): a
    // `value >= 0` filter on both engine and twin excludes refund rows
    // from demand, so a negative value can never reach the div. Scale
    // shape: one (series, day) aggregate, then a per-series time-bounded
    // HOF fold; twin = recursive CTE over row-numbered demand points.
    "evt_croston" -> ((s, d) => {
      val daily = t(s, d, "events")
        .filter(col("event_type") === "purchase" && col("value") >= 0)
        .groupBy((col("user_id") % 50).as("series"),
          date_trunc("day", col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast("bigint")).as("x"))
      daily.groupBy(col("series"))
        .agg(sort_array(collect_list(struct(col("day"), col("x"))))
          .as("pts"))
        .filter(size(col("pts")) >= 2)
        .withColumn("st", expr(
          """aggregate(
            |  slice(pts, 2, size(pts) - 1),
            |  named_struct('pd', element_at(pts, 1).day,
            |               'z', element_at(pts, 1).x * 1000000L,
            |               'p', CAST(-1 AS BIGINT)),
            |  (acc, e) -> named_struct(
            |    'pd', e.day,
            |    'z', (2L * e.x * 1000000L + 8L * acc.z) div 10L,
            |    'p', CASE WHEN acc.p < 0L
            |              THEN CAST(datediff(e.day, acc.pd) AS BIGINT)
            |                   * 1000000L
            |              ELSE (2L * CAST(datediff(e.day, acc.pd)
            |                     AS BIGINT) * 1000000L + 8L * acc.p)
            |                   div 10L END))""".stripMargin))
        .selectExpr("series",
          "CAST(size(pts) AS BIGINT) AS n_demands",
          "st.z AS z_mc", "st.p AS p_mc",
          "CAST(floor((1e6 * st.z) / st.p + 0.5) AS BIGINT) AS f_ppm",
          "CAST(floor(0.9 * ((1e6 * st.z) / st.p) + 0.5) AS BIGINT)" +
            " AS sba_ppm")
    }),

    // two-state burst detection (Kleinberg 2002, two-level automaton,
    // FILTERED decode): state 0 emits at the per-type base rate λ₀
    // (corpus hourly mean, floor-ppm), state 1 at 3λ₀; per-hour Poisson
    // NLL costs λ − y·ln λ are quantized floor-ppm PER (hour, state)
    // BEFORE the DP sums, the state-switch penalty is a flat 2e6 ppm
    // (2 nats), and the forward recurrence v_s' = c_s + min(v_s,
    // v_{s'} + τ) runs in exact BIGINTs — so the burst flag (v1 < v0,
    // the online filtered decision; the smoothed Viterbi path would
    // need a backward pass) is engine-identical. Same execution shape
    // as evt_holt: one hourly aggregate + a time-bounded per-type HOF
    // fold; twin = recursive CTE. The only FP per cost is one ln on the
    // shared λ plus one multiply by the integer count.
    "evt_burst_filter" -> ((s, d) => {
      val hourly = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("y"))
      val rates = hourly.groupBy(col("event_type"))
        .agg(floor(lit(1e6) * sum(col("y")) / count(lit(1)) + lit(0.5))
          .cast("long").as("lam0_ppm"))
      val series = hourly.join(rates, Seq("event_type"))
        .groupBy(col("event_type"), col("lam0_ppm"))
        .agg(sort_array(collect_list(struct(col("hr"), col("y")))).as("pts"))
      val lam0 = "(lam0_ppm / 1e6)"
      val lam1 = s"(3.0 * $lam0)"
      def cost(lam: String, y: String) =
        s"CAST(floor(1e6 * ($lam - $y * ln($lam)) + 0.5) AS BIGINT)"
      val prev = "element_at(acc, -1)"
      series
        .withColumn("st", expr(
          s"""aggregate(
             |  slice(pts, 2, greatest(size(pts) - 1, 0)),
             |  array(named_struct(
             |    'v0', ${cost(lam0, "element_at(pts, 1).y")},
             |    'v1', ${cost(lam1, "element_at(pts, 1).y")} + 2000000L)),
             |  (acc, x) -> array_append(acc, named_struct(
             |    'v0', ${cost(lam0, "x.y")}
             |          + least($prev.v0, $prev.v1 + 2000000L),
             |    'v1', ${cost(lam1, "x.y")}
             |          + least($prev.v1, $prev.v0 + 2000000L))))""".stripMargin))
        .withColumn("r", explode(expr(
          """zip_with(pts, st, (p, q) -> named_struct(
            |  'hr', p.hr, 'y', p.y, 'v0', q.v0, 'v1', q.v1,
            |  'burst', q.v1 < q.v0))""".stripMargin)))
        .select(col("event_type"), col("r.hr").as("hr"), col("r.y").as("y"),
          col("r.v0").as("v0"), col("r.v1").as("v1"),
          col("r.burst").as("burst"))
    }),

    // seasonal-naive forecast backtest: predict each of the final 24
    // hours as the count 24 hours earlier, then score MAE and sMAPE per
    // type. Counts are exact ints, so MAE is an exact ratio; the only
    // FP accumulation is the 24-term sMAPE sum (round-6 safe).
    "evt_forecast_backtest" -> ((s, d) => {
      val hourly = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
        .ckpt(eager = false) // test leg + lag leg + horizon
      val horizon = hourly.agg(max(col("hr")).as("hmax"))
      val test = hourly.crossJoin(broadcast(horizon))
        .filter(col("hr") > col("hmax") - expr("INTERVAL 24 HOURS"))
        .withColumn("prev_hr", col("hr") - expr("INTERVAL 24 HOURS"))
      test.join(hourly.select(col("event_type"),
          col("hr").as("prev_hr"), col("n").as("f")),
          Seq("event_type", "prev_hr"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          round(sum(abs(col("n") - col("f"))).cast("double")
            / count(lit(1)).cast("double"), 6).as("mae"),
          round(avg(lit(2.0) * abs(col("n") - col("f")).cast("double")
            / (col("n") + col("f")).cast("double")), 6).as("smape"))
    }),

    // classical seasonal decomposition (moving-average flavor): per-type
    // hourly counts split into trend (centered 25-hour MA — exact: a sum
    // of 25 bigints divided by 25.0), hour-of-day seasonal component
    // (mean detrended value, centered to sum ~0 per type), and residual.
    // All windows run over the HOURLY aggregate — bounded by the time
    // range, never the raw event rate.
    "evt_decompose" -> ((s, d) => {
      val hourly = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
      val wMa = Window.partitionBy(col("event_type")).orderBy(col("hr"))
        .rowsBetween(-12, 12)
      val trended = hourly
        .withColumn("wn", count(lit(1)).over(wMa))
        .withColumn("trend", sum(col("n")).over(wMa).cast("double") / 25.0)
        .filter(col("wn") === 25) // only fully-windowed interior hours
        .withColumn("detr", col("n").cast("double") - col("trend"))
        .withColumn("hod", hour(col("hr")))
      val wHod = Window.partitionBy(col("event_type"), col("hod"))
      val wType = Window.partitionBy(col("event_type"))
      trended
        .withColumn("seas_raw", avg(col("detr")).over(wHod))
        .withColumn("seasonal",
          col("seas_raw") - avg(col("seas_raw")).over(wType))
        .select(col("event_type"), col("hr"), col("n"),
          round(col("trend"), 6).as("trend"),
          round(col("seasonal"), 6).as("seasonal"),
          round(col("detr") - col("seasonal"), 6).as("resid"))
    }),

    // trailing-window anomaly detection: each (type, hour) bucket scores
    // against the mean/stddev of its own trailing 24 buckets (ROWS frame
    // excludes the current row, so a spike can't mask itself). One
    // aggregate + one per-type window — the hourly frame is tiny whatever
    // the raw event rate, so the window sort never sees raw events.
    "evt_anomaly" -> ((s, d) => {
      val hourly = t(s, d, "events")
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg(avg(col("value")).as("hourly_avg"),
          count(lit(1)).as("n_events"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
        .rowsBetween(-24, -1)
      hourly
        .withColumn("base_mean", avg(col("hourly_avg")).over(w))
        .withColumn("base_sd", stddev_samp(col("hourly_avg")).over(w))
        .withColumn("z", (col("hourly_avg") - col("base_mean")) / col("base_sd"))
        .filter(col("base_sd").isNotNull && col("base_sd") > 0)
        .select(col("event_type"), col("hr"), col("hourly_avg"),
          col("n_events"), col("z"), (abs(col("z")) > 3.0).as("is_anomaly"))
    }),

    // LTTB downsampling (largest-triangle-three-buckets, the standard
    // time-series viz reducer) in its PARALLEL form: the canonical
    // algorithm anchors each bucket's triangle on the PREVIOUS PICK
    // (inherently sequential); anchoring on the previous/next bucket
    // AVERAGES instead makes every bucket independent — the variant the
    // original paper evaluates as near-identical — so the whole pass is
    // two aggregates and one bounded argmax window. NUMERICS: the
    // triangle area argmax is the determinant of the HOMOGENEOUS matrix
    // [[Sx_prev,Sy_prev,n_prev],[x,y,1],[Sx_next,Sy_next,n_next]] — the
    // area scaled by the constant n_prev·n_next, so the argmax is
    // unchanged and EVERY quantity is an exact integer (epoch seconds ×
    // cents, decimal(38,0) ≡ HUGEINT): no division, no FP, no ulp.
    // First/last points are kept verbatim (the LTTB contract).
    "evt_lttb" -> ((s, d) => {
      val wser = Window.partitionBy(col("event_type"))
        .orderBy(col("x"), col("event_id"))
      val pts = t(s, d, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("event_id"),
          unix_timestamp(col("ts")).as("x"),
          round(col("value") * 100).cast("bigint").as("y"))
        .withColumn("rn", row_number().over(wser))
        .withColumn("bucket", expr("CAST((rn - 1) div 16 AS BIGINT)"))
        .ckpt(eager = false)
      val sums = pts.groupBy(col("event_type").as("et"),
          col("bucket").as("bk"))
        .agg(count(lit(1)).cast("decimal(38,0)").as("nb"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum(col("y").cast("decimal(38,0)")).as("sy"))
      val prev = sums.select(col("et").as("pet"), (col("bk") + 1).as("pbk"),
        col("nb").as("np"), col("sx").as("sxp"), col("sy").as("syp"))
      val nxt = sums.select(col("et").as("net"), (col("bk") - 1).as("nbk"),
        col("nb").as("nn"), col("sx").as("sxn"), col("sy").as("syn"))
      val interior = pts
        .join(prev,
          col("event_type") === col("pet") && col("bucket") === col("pbk"))
        .join(nxt,
          col("event_type") === col("net") && col("bucket") === col("nbk"))
        .withColumn("adet", abs(
          expr("sxp * (CAST(y AS DECIMAL(38,0)) * nn - syn)" +
            " - syp * (CAST(x AS DECIMAL(38,0)) * nn - sxn)" +
            " + np * (CAST(x AS DECIMAL(38,0)) * syn" +
            " - CAST(y AS DECIMAL(38,0)) * sxn)")))
      val wpick = Window.partitionBy(col("event_type"), col("bucket"))
        .orderBy(col("adet").desc, col("event_id"))
      val picks = interior.withColumn("pk", row_number().over(wpick))
        .filter(col("pk") === 1)
        .select(col("event_type"), col("bucket"), col("event_id"),
          col("x"), col("y"))
      val wlast = Window.partitionBy(col("event_type")).orderBy(col("rn").desc)
      val ends = pts.withColumn("lr", row_number().over(wlast))
        .filter(col("rn") === 1 || col("lr") === 1)
        .select(col("event_type"), col("bucket"), col("event_id"),
          col("x"), col("y"))
      picks.union(ends).distinct()
        .select(col("event_type"), col("bucket"), col("event_id"),
          col("x").as("x_sec"), col("y").as("v_cents"))
    }),

    // per-state entropy of the event-type Markov chain (how predictable
    // is the next step from each state?): H(next | prev = s) =
    // Σ (n_j/n_s)·ln(n_s/n_j) over the |types|²-bounded transition
    // counts. Each term is quantized floor-ppm BEFORE the sum (the
    // ml_confusion discipline — the BIGINT sum is order-independent and
    // each ln runs on identical integer-valued operands in both engines).
    "evt_markov_entropy" -> ((s, d) => {
      val ws = Window.partitionBy(col("prev_type"))
      transitionCounts(s, d)
        .withColumn("ns", sum(col("n")).over(ws))
        .withColumn("term_ppm",
          expr("CAST(floor(1e6 * (CAST(n AS DOUBLE) / CAST(ns AS DOUBLE))" +
            " * ln(CAST(ns AS DOUBLE) / CAST(n AS DOUBLE)) + 0.5)" +
            " AS BIGINT)"))
        .groupBy(col("prev_type"))
        .agg(max(col("ns")).as("n_total"), count(lit(1)).as("n_next"),
          sum(col("term_ppm")).as("entropy_ppm"))
    }),

    // Hampel filter — the robust cousin of evt_anomaly: each event is
    // scored against the MEDIAN and MAD of its ±3-row neighborhood per
    // type (time order, event_id tiebreak), so a burst of outliers
    // cannot drag the baseline the way a trailing mean/stddev can.
    // NUMERICS: values quantized to exact cents; the window collapses
    // to a sorted array and both median and MAD are exact ELEMENT
    // SELECTIONS (lower median at rank (n+1) div 2 — never the
    // FP-averaging even-count median), so the outlier flag
    // |x − med| > 3·MAD is a pure BIGINT comparison on both engines.
    // Scale: the window is a constant ±3 frame over (type, time) —
    // one sort-merge window pass, arrays of ≤7 elements.
    "evt_hampel" -> ((s, d) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-3, 3)
      t(s, d, "events")
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("ts"), col("event_type"),
          round(col("value") * 100).cast("bigint").as("vc"))
        .withColumn("arr", sort_array(collect_list(col("vc")).over(w)))
        .withColumn("n", size(col("arr")).cast("bigint"))
        .withColumn("med", expr("element_at(arr, CAST((n + 1) div 2 AS INT))"))
        .withColumn("mad", expr(
          "element_at(array_sort(transform(arr, x -> abs(x - med)))," +
            " CAST((n + 1) div 2 AS INT))"))
        .select(col("event_id"), col("event_type"),
          col("vc").as("v_cents"), col("med").as("med_cents"),
          col("mad").as("mad_cents"),
          (abs(col("vc") - col("med")) > lit(3L) * col("mad"))
            .as("is_outlier"))
    }),

    // sample-ratio-mismatch check — the #1 A/B-test validity screen
    // (run BEFORE reading evt_ab_test's z-stat: a biased assignment
    // invalidates any lift readout). Same user-level hash assignment as
    // evt_ab_test; χ² against the designed 50/50 split with expected
    // counts as exact rationals — (2·observed − total)² / (4·total) per
    // arm collapses to one integer-exact numerator, so the flag can't
    // ulp-flip. Bounded output: |arms| rows + the 1-row verdict folded in.
    // Uplift-by-decile + Qini curve (Radcliffe 2007) — the experiment
    // readout for TARGETING: rank users by an engagement score, split
    // into deciles, and per decile compare treated (user_id % 2 = 1, the
    // evt_ab_srm arm convention) vs control conversion; the cumulative
    // Qini value cum_conv_t − cum_conv_c·cum_n_t/cum_n_c says how many
    // extra conversions targeting the top-k deciles would buy. NUMERICS:
    // all counts exact BIGINT off one user aggregate; the global rank
    // rides ops.Partitioning.rankedRowNumber (two-level prefix, never a
    // data-sized single-partition window); deciles are the agg_lorenz
    // integral ((rn−1)·10) div n; rates are floor-ppm; Qini is the exact
    // integer rational (1000·(cc_t·cn_c − cc_c·cn_t)) div cn_c — both
    // engines truncate negatives toward zero identically. HEADROOM:
    // the Qini cross-products hold in BIGINT to ~3e6 users per arm;
    // past that they want decimal(38,0). The cumulative window runs
    // over the 10-row decile table (domain-bounded), not users.
    "evt_uplift_qini" -> ((s, d) => {
      val users = t(s, d, "events").groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("score"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("conv"))
        .withColumn("treat", (col("user_id") % 2).cast("int"))
      val ranked = graft.ops.Partitioning.rankedRowNumber(users,
        Seq(col("score").desc, col("user_id")), 32, "rn")
      val tot = users.agg(count(lit(1)).as("nu"))
      val dec = ranked.crossJoin(broadcast(tot))
        .withColumn("decile", expr("((rn - 1) * 10) div nu"))
        .groupBy(col("decile"))
        .agg(sum(when(col("treat") === 1, 1L).otherwise(0L)).as("n_t"),
          sum(when(col("treat") === 1, col("conv")).otherwise(0L))
            .as("conv_t"),
          sum(when(col("treat") === 0, 1L).otherwise(0L)).as("n_c"),
          sum(when(col("treat") === 0, col("conv")).otherwise(0L))
            .as("conv_c"))
      val wc = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, 0)
      dec
        .withColumn("cn_t", sum(col("n_t")).over(wc))
        .withColumn("cc_t", sum(col("conv_t")).over(wc))
        .withColumn("cn_c", sum(col("n_c")).over(wc))
        .withColumn("cc_c", sum(col("conv_c")).over(wc))
        .selectExpr("decile", "n_t", "conv_t", "n_c", "conv_c",
          "CASE WHEN n_t > 0 THEN CAST(floor(1e6 * conv_t / n_t + 0.5)" +
            " AS BIGINT) ELSE 0 END" +
            " - CASE WHEN n_c > 0 THEN CAST(floor(1e6 * conv_c / n_c" +
            " + 0.5) AS BIGINT) ELSE 0 END AS uplift_ppm",
          "CASE WHEN cn_c > 0 THEN (1000 * (cc_t * cn_c - cc_c * cn_t))" +
            " div cn_c ELSE CAST(0 AS BIGINT) END AS qini_milli")
        .orderBy(col("decile"))
    }),

    "evt_ab_srm" -> ((s, d) => {
      val arms = t(s, d, "events")
        .select(col("user_id")).distinct()
        .select((col("user_id") % 2).cast("int").as("variant"))
        .groupBy(col("variant")).agg(count(lit(1)).as("n_obs"))
      val tot = arms.agg(sum(col("n_obs")).as("n_total"))
      arms.crossJoin(broadcast(tot))
        .select(col("variant"), col("n_obs"), col("n_total"),
          (col("n_total").cast("double") / 2).as("n_expected"),
          (pow((lit(2) * col("n_obs") - col("n_total")).cast("double"), 2)
            / (lit(2.0) * col("n_total"))).as("chi2_term"),
          // χ² with 1 dof: both arms contribute the same term, so the
          // total statistic is 2× either term; flag at the 0.001 level
          // (10.83) — SRM screens demand high confidence
          (pow((lit(2) * col("n_obs") - col("n_total")).cast("double"), 2)
            / col("n_total") > 10.83).as("srm_flag"))
        .orderBy(col("variant"))
    }),

    // day-of-week × hour seasonality profile — the load-shape analytic
    // behind capacity planning and anomaly baselining (evt_anomaly's
    // trailing window assumes stationarity; this measures the weekly
    // cycle it rides on). One fact-scan aggregate to a bounded 7×24 grid
    // per type; the share-of-type denominator re-aggregates that grid.
    // Counts are exact integers; the one division is rounded on output.
    // dow parity trap: Spark dayofweek is 1=Sunday, DuckDB dayofweek is
    // 0=Sunday — the twin adds 1 (same pin as fn_datetime).
    "evt_seasonality" -> ((s, d) => {
      val ev = t(s, d, "events")
      val grid = ev.groupBy(col("event_type"),
          dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
      val tot = grid.groupBy(col("event_type"))
        .agg(sum(col("n")).as("n_type"))
      grid.join(tot, Seq("event_type"))
        .select(col("event_type"), col("dow"), col("hr"), col("n"),
          round(col("n").cast("double") / col("n_type"), 6).as("share"))
        .orderBy(col("event_type"), col("dow"), col("hr"))
    }),

    // CUSUM change detection over daily per-type volumes — the
    // sequential-drift complement to evt_anomaly's pointwise z-score (a
    // slow 10% shift never trips a z-test but accumulates here). Uses the
    // closed form CUSUM⁺_t = cum_t − min(0, min_{j≤t} cum_j) so the
    // recursive max(0, ·) definition becomes two plain running windows —
    // no UDF, no iteration. All decisions are EXACT integer arithmetic:
    // deviations are pre-scaled by n_days (dev = x·n − total, so the
    // per-type mean never becomes a float), and the alarm threshold
    // (cumulative excess > 25 events) compares scaled integers; the one
    // division happens on output. Scale shape: one fact-scan aggregate
    // compacts to |types|×|days| rows; both windows are type-partitioned.
    "evt_cusum" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
      val tot = daily.groupBy(col("event_type"))
        .agg(sum(col("x")).as("total"), count(lit(1)).as("n_days"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      daily.join(tot, Seq("event_type"))
        .withColumn("cum_u",
          sum(col("x") * col("n_days") - col("total")).over(w))
        .withColumn("cusum_u",
          col("cum_u") - least(min(col("cum_u")).over(w), lit(0L)))
        .select(col("event_type"), col("day"), col("x"),
          round(col("cusum_u").cast("double") / col("n_days"), 4)
            .as("cusum"),
          (col("cusum_u") > lit(25L) * col("n_days")).as("alarm"))
        .orderBy(col("event_type"), col("day"))
    }),

    // lag-1..7 autocorrelation of daily per-type volumes — the
    // periodicity screen (a weekly cycle shows as an ACF spike at lag 7).
    // The lagged pairing is an equi-join on (type, day_index − k) with the
    // seven lags exploded on one side, so calendar gaps pair correctly
    // (a missing day contributes no pair, rather than silently shifting
    // the series the way a ROWS-offset lag window would). corr is a
    // single-pass moment aggregate; rounded to 5dp like agg_corr_matrix.
    // Scale shape: one fact-scan aggregate to |types|×|days| rows, then a
    // ×7 explode of that compact series and one keyed shuffle join.
    "evt_autocorr" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
        .withColumn("di", datediff(col("day"), lit("1970-01-01").cast("date")))
      val lagged = daily.select(col("event_type"), col("di"), col("x"),
          explode(array((1 to 7).map(lit): _*)).as("lag"))
        .withColumn("di_tgt", col("di") + col("lag"))
        .select(col("event_type"), col("di_tgt"), col("lag"),
          col("x").as("x_prev"))
      val cur = daily.select(col("event_type"), col("di").as("di_tgt"),
        col("x").as("x_t"))
      cur.join(lagged, Seq("event_type", "di_tgt"))
        .groupBy(col("event_type"), col("lag"))
        .agg(count(lit(1)).as("n_pairs"),
          round(corr(col("x_t"), col("x_prev")), 5).as("acf"))
        .orderBy(col("event_type"), col("lag"))
    }),

    // cohort retention: users grouped by first-seen week; retention at
    // offset k = fraction of the cohort active k weeks later. Two
    // user-keyed aggregates and one (cohort, week) count — the join chain
    // is keyed on user_id throughout, so AQE co-partitions it.
    "evt_retention_cohorts" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("wk"))
      val cohorts = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      val active = ev.distinct()
      val byOffset = active.join(cohorts, Seq("user_id"))
        .withColumn("week_offset",
          (datediff(col("wk"), col("cohort_wk")) / 7).cast("int"))
        .groupBy(col("cohort_wk"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
      val sizes = cohorts.groupBy(col("cohort_wk"))
        .agg(countDistinct(col("user_id")).as("cohort_size"))
      byOffset.join(sizes, Seq("cohort_wk"))
        .select(col("cohort_wk"), col("week_offset"), col("n_active"),
          col("cohort_size"),
          (col("n_active").cast("double") /
            col("cohort_size").cast("double")).as("retention"))
    }),

    // cohort LTV curves — cumulative purchase revenue per cohort-age week
    // divided by cohort size, the monetized counterpart of
    // evt_retention_cohorts (same cohort derivation, so the two reports
    // line up row for row). Revenue sums are exact cents; the running
    // cumulation is a cohort-PARTITIONED window over the bounded
    // (cohort × offset) grid; per-user LTV is emitted as the raw
    // engine-identical double (integer/double division — rounding a
    // /cohort_size quotient invites exact-tie flips, cf. llm_bm25).
    "evt_cohort_ltv" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("wk"),
          col("event_type"),
          round(col("value") * 100).cast("bigint").as("v_u"))
      val cohorts = ev.groupBy(col("user_id"))
        .agg(min(col("wk")).as("cohort_wk"))
      val rev = ev.filter(col("event_type") === "purchase")
        .join(cohorts, Seq("user_id"))
        .withColumn("week_offset",
          (datediff(col("wk"), col("cohort_wk")) / 7).cast("int"))
        .groupBy(col("cohort_wk"), col("week_offset"))
        .agg(sum(col("v_u")).as("rev_u"))
      val sizes = cohorts.groupBy(col("cohort_wk"))
        .agg(count(lit(1)).as("cohort_size"))
      val w = Window.partitionBy(col("cohort_wk")).orderBy(col("week_offset"))
      rev.withColumn("cum_u", sum(col("rev_u")).over(w))
        .join(sizes, Seq("cohort_wk"))
        .select(col("cohort_wk"), col("week_offset"),
          round(col("rev_u") / 100.0, 2).as("week_rev"),
          round(col("cum_u") / 100.0, 2).as("cum_rev"),
          (col("cum_u").cast("double") / (col("cohort_size") * 100.0))
            .as("ltv_per_user"))
        .orderBy(col("cohort_wk"), col("week_offset"))
    }),

    // co-engagement overlap matrix — exact pairwise user overlap between
    // event types (|A∩B|, Jaccard), the exact small-cardinality
    // counterpart of agg_hll_intersect's sketch estimate. r14 shape for
    // domains that fit a long BITMASK (≤62 types): ONE user-keyed bit_or
    // aggregate collapses each user to a type mask (absorbing duplicate
    // (user, type) rows — no distinct pre-shuffle), then the mask
    // HISTOGRAM stays distributed and a per-pair aggregate over it
    // yields every intersection: a mask row with k set bits emits
    // C(k,2) ≤ C(62,2) = 1891 pair rows, so pair volume is
    // |distinct masks| · C(k,2) — bounded by user behavior diversity,
    // never users², and nothing data-sized reaches the driver (the r13
    // form Bounded.collect'ed the histogram, capping the fast path at
    // 12 types and ABORTING above 62 instead of falling back — ADVICE
    // r13). Wider domains take the self-join path: per-user candidate
    // volume is C(|types|, 2) = O(users). The Jaccard division is one
    // IEEE op on exact integers — identical across engines.
    "evt_type_overlap" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_type"))
      // domain probe that CANNOT abort: pull at most 63 sorted types;
      // 63 means "wider than a long mask" → fallback, not failure.
      // Cached per corpus (VERDICT r14 #2 — the bpeCache plain-value
      // amortization): the ≤63-value dictionary is a property of the
      // corpus, so one synchronous probe job per corpus per session,
      // not one per DataFrame construction / bench rep.
      val types = typeDomainCache.getOrElseUpdate(d,
        ev.select(col("event_type")).distinct()
          .orderBy(col("event_type")).limit(63).collect()
          .map(_.getString(0)))
      if (types.length <= 62) {
        val bit = types.zipWithIndex.foldLeft(lit(0L)) { case (acc, (ty, i)) =>
          when(col("event_type") === ty, lit(1L << i)).otherwise(acc)
        }
        // (mask, n) histogram — one row per observed behavior pattern,
        // shared by the per-bit totals and the pair explosion
        val hist = ev.select(col("user_id"), bit.as("b"))
          .groupBy(col("user_id")).agg(bit_or(col("b")).as("mask"))
          .groupBy(col("mask")).agg(count(lit(1)).as("n"))
          .withColumn("bits", expr(
            "filter(sequence(0, 61), b -> (shiftright(mask, b) & 1) = 1)"))
          .ckpt(eager = false)
        val perBit = hist.select(explode(col("bits")).as("i"), col("n"))
          .groupBy(col("i")).agg(sum(col("n")).as("n_i"))
        // i<j pair explosion straight off the sorted bit array (the
        // exactAnchorFrames generator-stack shape)
        val pairs = hist
          .filter(size(col("bits")) >= 2)
          .select(col("n"), col("bits"),
            posexplode(col("bits")).as(Seq("pi", "i")))
          .select(col("n"), col("i"), explode(expr(
            "slice(bits, pi + 2, size(bits) - pi - 1)")).as("j"))
          .groupBy(col("i"), col("j")).agg(sum(col("n")).as("n_both"))
        // bit index ↔ type name (types are sorted, so i<j ⇒ t1<t2)
        import s.implicits._
        val names = s.createDataset(
          types.zipWithIndex.map { case (ty, i) => (i, ty) }.toSeq)
          .toDF("idx", "ty")
        pairs
          .join(broadcast(names.select(col("idx").as("i"),
            col("ty").as("t1"))), Seq("i"))
          .join(broadcast(names.select(col("idx").as("j"),
            col("ty").as("t2"))), Seq("j"))
          .join(broadcast(perBit.select(col("i"), col("n_i").as("n1"))),
            Seq("i"))
          .join(broadcast(perBit.select(col("i").as("j"),
            col("n_i").as("n2"))), Seq("j"))
          .select(col("t1"), col("t2"), col("n_both"), col("n1"), col("n2"),
            (col("n_both").cast("double")
              / (col("n1") + col("n2") - col("n_both"))).as("jaccard"))
          .orderBy(col("t1"), col("t2"))
      } else {
        val ut = ev.distinct()
        val pairs = ut.select(col("user_id"), col("event_type").as("t1"))
          .join(ut.select(col("user_id"), col("event_type").as("t2")),
            Seq("user_id"))
          .filter(col("t1") < col("t2"))
          .groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("n_both"))
        val sizes = ut.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_users"))
        pairs
          .join(sizes.select(col("event_type").as("t1"),
            col("n_users").as("n1")), Seq("t1"))
          .join(sizes.select(col("event_type").as("t2"),
            col("n_users").as("n2")), Seq("t2"))
          .select(col("t1"), col("t2"), col("n_both"), col("n1"), col("n2"),
            (col("n_both").cast("double")
              / (col("n1") + col("n2") - col("n_both"))).as("jaccard"))
          .orderBy(col("t1"), col("t2"))
      }
    }),

    // CEP-lite sequence pattern match (the MATCH_RECOGNIZE shape): each
    // user's event history becomes an ordered journey string (one letter
    // per event — the five types have distinct initials; (user_id, ts) is
    // tie-free in the fixture, so the order is total) and conversions are
    // counted as non-overlapping regex matches of view→clicks*→purchase.
    // Scale shape: ONE user-keyed aggregate; the per-user sort happens
    // inside array_sort on the collected (bounded) history, not as a
    // global sort — same cost class as the event-time sessionizer. The
    // regex runs once per user on the journey, not per event.
    "evt_pattern_match" -> ((s, d) => {
      t(s, d, "events")
        .select(col("user_id"), col("ts"),
          upper(substring(col("event_type"), 1, 1)).as("code"))
        .groupBy(col("user_id"))
        .agg(concat_ws("",
          expr("transform(array_sort(collect_list(struct(ts, code)))," +
            " p -> p.code)")).as("journey"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("journey"), col("n_events"),
          regexp_count(col("journey"), lit("VC*P")).as("n_conversions"))
    }),

    // exponentially-weighted moving average per user (pandas ewm
    // adjust=True semantics, α=0.2), truncated to a 50-event trailing
    // frame so it is relationally expressible: the frame's values fold
    // through one `aggregate` HOF — s ← 0.8·s + x, w ← 0.8·w + 1, emit
    // s/w. Scale shape: ONE user-keyed window sort; the fold runs
    // scan-side per row over its (bounded) frame list, no extra shuffle.
    // The 50-term truncation drops weight 0.8⁵⁰ ≈ 1.4e-5 — below the 6dp
    // rounding of the emitted value. The DuckDB twin computes the same
    // truncated sum in closed form via a bounded rn-band self-join.
    "evt_ewma" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-49, 0)
      t(s, d, "events").select(col("event_id"), col("user_id"),
        round(aggregate(collect_list(col("value")).over(w),
          struct(lit(0.0).as("s"), lit(0.0).as("wt")),
          (a, x) => struct((a.getField("s") * 0.8 + x).as("s"),
            (a.getField("wt") * 0.8 + 1.0).as("wt")),
          a => a.getField("s") / a.getField("wt")), 6).as("ewma"))
    }),

    // linear multi-touch attribution: every purchase splits one unit of
    // credit equally across the user's clicks in the preceding hour, and
    // credit rolls up by click hour-of-day (the when-do-converting-touches
    // -happen readout). Scale shape: the touch join is user-keyed
    // (co-partitioned equi-join + time-band filter, never a time-only
    // range join), per-purchase touch counts ride ONE purchase-keyed
    // window, and the final rollup is 24 rows whatever the volume.
    // EXACT Shapley-value channel attribution (Shapley 1953 applied to
    // marketing coalitions): channels = the 4 non-purchase event types,
    // conversion = the user purchased, coalition value v(S) = conversion
    // rate among users whose touched-channel set ⊆ S. With |channels| = 4
    // the lattice is 16 coalitions — a VALUE DOMAIN, so the whole game
    // solves relationally: one data-sized user-mask aggregate, one
    // 16-row broadcast subset join, then 4×8 marginal terms
    // φ_c = Σ_{S∌c} w(|S|)·(v(S∪c) − v(S)) with the exact ×24 integer
    // weights [6,2,2,6]. Terms are floor-ppm quantized BEFORE the 8-term
    // sum (order-independent); outputs are BIGINT at ×24 scale plus the
    // /24 convenience. The last/linear-touch heuristics this replaces
    // are evt_attribution; Shapley is the axiomatic answer they
    // approximate.
    "evt_shapley_attribution" -> ((s, d) => {
      import s.implicits._
      val users = t(s, d, "events").groupBy(col("user_id")).agg(
        (max(when(col("event_type") === "click", 1).otherwise(0))
          + max(when(col("event_type") === "error", 2).otherwise(0))
          + max(when(col("event_type") === "signup", 4).otherwise(0))
          + max(when(col("event_type") === "view", 8).otherwise(0)))
          .as("mask"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
      val subsets = s.range(0, 16).select(col("id").cast("int").as("st"))
      val vs = users.crossJoin(broadcast(subsets))
        .filter(col("mask").bitwiseAND(col("st")) === col("mask"))
        .groupBy(col("st"))
        .agg(count(lit(1)).as("n_u"), sum(col("conv")).as("n_c"))
      val v = subsets.join(vs, Seq("st"), "left")
        .select(col("st"),
          when(coalesce(col("n_u"), lit(0L)) > 0,
            coalesce(col("n_c"), lit(0L)).cast("double")
              / col("n_u").cast("double"))
          .otherwise(lit(0.0)).as("v"))
        .ckpt(eager = false) // 16 rows, read by both term legs
      val channels = Seq(("click", 1), ("error", 2), ("signup", 4),
        ("view", 8)).toDF("channel", "cb")
      val w24 = typedlit(Seq(6, 2, 2, 6)) // |S|!·(4−|S|−1)!/4! × 24
      channels.crossJoin(v.select(col("st"), col("v").as("v_s")))
        .filter(col("st").bitwiseAND(col("cb")) === 0)
        .join(v.select(col("st").as("stb"), col("v").as("v_sb")),
          col("stb") === col("st") + col("cb")) // S ∪ {c} = S + c (disjoint)
        .withColumn("term_ppm", floor(lit(1e6)
          * element_at(w24, expr("bit_count(st)") + 1)
          * (col("v_sb") - col("v_s")) + lit(0.5)).cast("long"))
        .groupBy(col("channel"))
        .agg(sum(col("term_ppm")).as("shapley_x24_ppm"))
        .withColumn("shapley_ppm",
          floor(col("shapley_x24_ppm") / lit(24.0) + lit(0.5)).cast("long"))
    }),

    "evt_attribution" -> ((s, d) => {
      val e = t(s, d, "events")
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("event_id").as("pid"))
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id").as("cuser"), col("ts").as("cts"),
          col("event_id").as("cid"))
      val touches = p.join(c, col("user_id") === col("cuser") &&
        col("cts") >= col("pts") - expr("INTERVAL 1 HOUR") &&
        col("cts") < col("pts"))
      val nTouch = count(lit(1)).over(Window.partitionBy(col("pid")))
      touches.withColumn("credit", lit(1.0) / nTouch)
        .groupBy(hour(col("cts")).as("click_hour"))
        .agg(round(sum(col("credit")), 6).as("credit"),
          count(lit(1)).as("n_touches"))
        .orderBy(col("click_hour"))
    }),

    // trailing-24h distinct active users per hour — the sliding DISTINCT
    // that plain window frames can't express (COUNT(DISTINCT) isn't a
    // frame aggregate in either engine). Relational form: dedup to
    // (hour, user) pairs FIRST (the volume reducer — everything after is
    // bounded by hours × active users), then each pair fans out to the 24
    // trailing windows it serves via a `sequence` explode — an EQUI
    // semi-join against the observed-hour spine, never a range join (a
    // time-band theta join would plan a broadcast nested loop — the
    // scale-killer the plan audit forbids). 100 TB shape: the dedup is
    // the only event-volume shuffle; the fan-out is a bounded ×24 on the
    // already-tiny pair table.
    "evt_rolling_distinct" -> ((s, d) => {
      val hu = t(s, d, "events")
        .select(date_trunc("hour", col("ts")).as("h"), col("user_id"))
        .distinct()
      val spine = hu.select(col("h").as("t")).distinct()
      val contrib = hu.select(col("user_id"),
        explode(expr(
          "sequence(h, h + INTERVAL 23 HOURS, INTERVAL 1 HOUR)")).as("t"))
      contrib.join(spine, Seq("t"), "left_semi")
        .groupBy(col("t"))
        .agg(countDistinct(col("user_id")).as("n_users_24h"))
        .orderBy(col("t"))
    })
  )

  /** `hourly(event_type, hr, y, rn)`: events per type and hour, with
    * each type's hours numbered in order — the series the Holt and
    * burst recurrences walk. */
  private val hourlyCte: String =
    """hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hr,
      |         CAST(count(*) AS BIGINT) AS y,
      |         CAST(row_number() OVER (PARTITION BY event_type
      |              ORDER BY date_trunc('hour', ts)) AS BIGINT) AS rn
      |  FROM events GROUP BY 1, 2)""".stripMargin

  /** Holt twin: the identical integer recurrence replayed as a recursive
    * CTE (rn = rn+1 join per type). FD = floor division by 10 written as
    * subtract-positive-remainder — engine-exact on negatives too (trend
    * can dip below zero). */
  private val holtTwin: String = {
    def fd(x: String) =
      s"CAST((($x) - ((($x) % 10) + 10) % 10) / 10 AS BIGINT)"
    val lnew = fd("2*h.y*1000000 + 8*(s.l + s.b)")
    val bnew = fd(s"$lnew - s.l + 9*s.b")
    s"""WITH RECURSIVE $hourlyCte,
      |st AS (
      |  SELECT event_type, rn, hr, y,
      |         y * 1000000 AS l, CAST(0 AS BIGINT) AS b
      |  FROM hourly WHERE rn = 1
      |  UNION ALL
      |  SELECT h.event_type, h.rn, h.hr, h.y, $lnew AS l, $bnew AS b
      |  FROM st s JOIN hourly h
      |    ON h.event_type = s.event_type AND h.rn = s.rn + 1)
      |SELECT event_type, hr, y, l AS level_mc, b AS trend_mc,
      |       l + b AS forecast_mc
      |FROM st""".stripMargin
  }

  /** Burst-filter twin: identical recurrence as a recursive CTE; the
    * per-(hour,state) costs share the same floor-ppm text. */
  private val burstTwin: String = {
    val lam0 = "(r.lam0_ppm / 1e6)"
    val lam1 = s"(3.0 * $lam0)"
    def cost(lam: String, y: String) =
      s"CAST(floor(1e6 * ($lam - $y * ln($lam)) + 0.5) AS BIGINT)"
    s"""WITH RECURSIVE $hourlyCte,
      |rates AS (
      |  SELECT event_type,
      |         CAST(floor(1e6 * sum(y) / count(*) + 0.5) AS BIGINT)
      |           AS lam0_ppm
      |  FROM hourly GROUP BY 1),
      |st AS (
      |  SELECT h.event_type, h.rn, h.hr, h.y, r.lam0_ppm,
      |         ${cost(lam0, "h.y")} AS v0,
      |         ${cost(lam1, "h.y")} + 2000000 AS v1
      |  FROM hourly h JOIN rates r ON r.event_type = h.event_type
      |  WHERE h.rn = 1
      |  UNION ALL
      |  SELECT h.event_type, h.rn, h.hr, h.y, r.lam0_ppm,
      |         ${cost(lam0, "h.y")} + least(s.v0, s.v1 + 2000000) AS v0,
      |         ${cost(lam1, "h.y")} + least(s.v1, s.v0 + 2000000) AS v1
      |  FROM st s
      |  JOIN hourly h ON h.event_type = s.event_type AND h.rn = s.rn + 1
      |  JOIN rates r ON r.event_type = h.event_type)
      |SELECT event_type, hr, y, v0, v1, v1 < v0 AS burst
      |FROM st""".stripMargin
  }

  /** DuckDB replay of the evt_funnel stages: each user's first view
    * `v(user_id, t_view)`, first click after it `c(user_id, t_click)` and
    * first purchase after that `p(user_id, t_purchase)`. */
  private val funnelCtes: String = """v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY 1
      ), c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY 1
      ), p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY 1
      )"""

  /** The brute-force interval join that join_interval and
    * join_interval_native both answer. */
  private val intervalJoinTwin: String = """
      SELECT s.event_id AS iv_id, count(*) AS n_clicks,
             min(c.ts) AS first_click
      FROM (SELECT * FROM events WHERE event_type = 'signup') s
      JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON c.ts >= s.ts AND c.ts < s.ts + INTERVAL 90 MINUTE
      GROUP BY s.event_id"""

  val sql: Map[String, String] = Map(
    "evt_holt" -> holtTwin,

    // recursive-CTE replay of the engine's per-series Croston fold
    "evt_croston" -> """
      WITH RECURSIVE daily AS (
        SELECT user_id % 50 AS series, date_trunc('day', ts) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events WHERE event_type = 'purchase' AND value >= 0
        GROUP BY 1, 2
      ), ord AS (
        SELECT series, day, x,
               row_number() OVER (PARTITION BY series ORDER BY day) AS rn,
               count(*) OVER (PARTITION BY series) AS n
        FROM daily
      ), rec(series, rn, n, pd, z, p) AS (
        SELECT series, rn, n, day, x * 1000000, CAST(-1 AS BIGINT)
        FROM ord WHERE rn = 1 AND n >= 2
        UNION ALL
        SELECT r.series, o.rn, r.n, o.day,
               (2 * o.x * 1000000 + 8 * r.z) // 10,
               CASE WHEN r.p < 0
                    THEN date_diff('day', r.pd, o.day) * 1000000
                    ELSE (2 * date_diff('day', r.pd, o.day) * 1000000
                          + 8 * r.p) // 10 END
        FROM rec r JOIN ord o
          ON o.series = r.series AND o.rn = r.rn + 1
      )
      SELECT series, CAST(n AS BIGINT) AS n_demands,
             CAST(z AS BIGINT) AS z_mc, CAST(p AS BIGINT) AS p_mc,
             CAST(floor((1e6 * z) / p + 0.5) AS BIGINT) AS f_ppm,
             CAST(floor(0.9 * ((1e6 * z) / p) + 0.5) AS BIGINT) AS sba_ppm
      FROM rec WHERE rn = n""",
    "evt_burst_filter" -> burstTwin,
    "evt_growth_accounting" -> """
      WITH mu AS (
        SELECT DISTINCT user_id,
               CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS di
        FROM events
      ), st AS (
        SELECT di,
          CAST(sum(CASE WHEN prev_di IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_new,
          CAST(sum(CASE WHEN prev_di = di - 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_retained,
          CAST(sum(CASE WHEN prev_di IS NOT NULL AND prev_di < di - 1
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        FROM (SELECT user_id, di,
                     lag(di) OVER (PARTITION BY user_id ORDER BY di)
                       AS prev_di
              FROM mu)
        GROUP BY di
      ), ch AS (
        SELECT di + 1 AS di, count(*) AS n_churned
        FROM (SELECT user_id, di,
                     lead(di) OVER (PARTITION BY user_id ORDER BY di)
                       AS next_di
              FROM mu)
        WHERE (next_di IS NULL OR next_di > di + 1)
          AND di + 1 <= (SELECT max(di) FROM mu)
        GROUP BY 1
      )
      SELECT st.di, n_new, n_retained, n_resurrected,
             CAST(coalesce(ch.n_churned, 0) AS BIGINT) AS n_churned
      FROM st LEFT JOIN ch ON ch.di = st.di""",

    "evt_frequent_seq2" -> """
      WITH spans AS (
        SELECT user_id, event_type,
               min(ts) AS first_ts, max(ts) AS last_ts
        FROM events GROUP BY user_id, event_type)
      SELECT a.event_type AS etype_a, b.event_type AS etype_b,
             count(*) AS n_users
      FROM spans a JOIN spans b
        ON a.user_id = b.user_id
       AND a.event_type <> b.event_type
       AND a.first_ts < b.last_ts
      GROUP BY 1, 2""",

    // closed-form truncated EWMA: Σ vᵢ·0.8^(rn−rnᵢ) / Σ 0.8^(rn−rnᵢ)
    // over the 50-row band — same ordering, same α, same truncation
    "evt_ewma" -> """
      WITH e AS (
        SELECT event_id, user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events)
      SELECT e1.event_id, e1.user_id,
             round(sum(e2.value * power(0.8, e1.rn - e2.rn)) /
                   sum(power(0.8, e1.rn - e2.rn)), 6) AS ewma
      FROM e e1 JOIN e e2
        ON e1.user_id = e2.user_id AND e2.rn BETWEEN e1.rn - 49 AND e1.rn
      GROUP BY e1.event_id, e1.user_id""",

    "evt_power_analysis" -> """
      WITH pu AS (
        SELECT user_id, sum(CAST(ROUND(value*100) AS BIGINT)) AS cents
        FROM events GROUP BY user_id
      ), m AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(cents) AS DOUBLE) AS sy,
               CAST(sum(cents*cents) AS DOUBLE) AS syy
        FROM pu
      ), l1 AS (
        SELECT n, sy / n AS mean_cents,
               (syy - sy*sy/n) / (n - 1.0) AS var_cents2
        FROM m
      ), l2 AS (
        SELECT n, mean_cents, var_cents2, 0.05 * mean_cents AS mde_cents
        FROM l1
      )
      SELECT CAST(n AS BIGINT) AS n_users,
             round(mean_cents, 4) AS mean_cents,
             round(var_cents2, 4) AS var_cents2,
             round(mde_cents, 4) AS mde_cents,
             CAST(ceil(2.0 * var_cents2 * 7.848887
               / (mde_cents * mde_cents)) AS BIGINT) AS n_per_arm
      FROM l2""",

    "evt_shapley_attribution" -> """
      WITH u AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             + max(CASE WHEN event_type = 'error' THEN 2 ELSE 0 END)
             + max(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END)
             + max(CASE WHEN event_type = 'view' THEN 8 ELSE 0 END) AS mask,
               CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS conv
        FROM events GROUP BY user_id
      ), st AS (SELECT CAST(unnest(range(0, 16)) AS INT) AS st
      ), vs AS (
        SELECT s.st,
               CASE WHEN count(u.user_id) > 0
                    THEN CAST(sum(u.conv) AS DOUBLE) / count(u.user_id)
                    ELSE 0.0 END AS v
        FROM st s LEFT JOIN u ON (u.mask & s.st) = u.mask
        GROUP BY s.st
      ), ch(channel, cb) AS (
        SELECT * FROM (VALUES ('click', 1), ('error', 2), ('signup', 4),
                              ('view', 8)) t(channel, cb)
      ), terms AS (
        SELECT c.channel,
               CAST(floor(1e6 * (CASE bit_count(a.st)
                       WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2
                       ELSE 6 END)
                 * (b.v - a.v) + 0.5) AS BIGINT) AS term_ppm
        FROM ch c
        JOIN vs a ON (a.st & c.cb) = 0
        JOIN vs b ON b.st = a.st + c.cb
      )
      SELECT channel, CAST(sum(term_ppm) AS BIGINT) AS shapley_x24_ppm,
             CAST(floor(sum(term_ppm) / 24.0 + 0.5) AS BIGINT)
               AS shapley_ppm
      FROM terms GROUP BY channel""",

    "evt_attribution" -> """
      WITH p AS (SELECT user_id, ts AS pts, event_id AS pid FROM events
                 WHERE event_type = 'purchase'),
      c AS (SELECT user_id, ts AS cts, event_id AS cid FROM events
            WHERE event_type = 'click'),
      touches AS (
        SELECT p.pid, c.cts
        FROM p JOIN c ON p.user_id = c.user_id
         AND c.cts >= p.pts - INTERVAL 1 HOUR AND c.cts < p.pts),
      credited AS (
        SELECT cts,
               CAST(1.0 AS DOUBLE) / count(*) OVER (PARTITION BY pid)
                 AS credit
        FROM touches)
      SELECT CAST(hour(cts) AS INT) AS click_hour,
             round(sum(credit), 6) AS credit,
             count(*) AS n_touches
      FROM credited
      GROUP BY 1 ORDER BY 1""",

    "evt_rolling_distinct" -> """
      WITH hu AS (
        SELECT DISTINCT date_trunc('hour', ts) AS h, user_id FROM events),
      spine AS (SELECT DISTINCT h AS t FROM hu)
      SELECT s.t, count(DISTINCT hu.user_id) AS n_users_24h
      FROM spine s JOIN hu
        ON hu.h >= s.t - INTERVAL 23 HOUR AND hu.h <= s.t
      GROUP BY s.t ORDER BY s.t""",

    "evt_resample_ffill" -> """
      WITH obs AS (
        SELECT user_id, date_trunc('hour', ts) AS hr,
               round(avg(value), 6) AS obs_avg
        FROM events GROUP BY 1, 2
      ), span AS (
        SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM obs GROUP BY 1
      ), grid AS (
        SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
        FROM span
      )
      SELECT g.user_id, g.hr,
             last_value(o.obs_avg IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
             (o.obs_avg IS NULL) AS is_gap
      FROM grid g
      LEFT JOIN obs o ON g.user_id = o.user_id AND g.hr = o.hr""",

    "evt_interp_linear" -> """
      WITH ev AS (
        SELECT event_id, user_id, ts, value,
               CAST(epoch_us(ts) AS BIGINT) AS us,
               CASE WHEN event_id % 3 = 0 THEN value END AS known
        FROM events)
      SELECT event_id, user_id, known,
             round(CASE
               WHEN known IS NOT NULL THEN known
               WHEN pv IS NULL THEN nv
               WHEN nv IS NULL THEN pv
               ELSE pv + (nv - pv) * CAST(us - pt AS DOUBLE)
                                     / CAST(nt - pt AS DOUBLE)
             END, 6) AS interp
      FROM (
        SELECT *,
          last_value(known IGNORE NULLS) OVER wb AS pv,
          last_value(CASE WHEN known IS NOT NULL THEN us END IGNORE NULLS)
            OVER wb AS pt,
          first_value(known IGNORE NULLS) OVER wf AS nv,
          first_value(CASE WHEN known IS NOT NULL THEN us END IGNORE NULLS)
            OVER wf AS nt
        FROM ev
        WINDOW wb AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      )""",

    // 10 unrolled integer power steps (the kmeans-iterate twin pattern):
    // HUGEINT products/sums ≡ the driver's BigInt arithmetic exactly
    "evt_markov_steady" -> {
      val steps = (1 to 10).map { r =>
        s""", v$r AS MATERIALIZED (
        SELECT tm.j AS st, sum(v.v * tm.t) // 1000000000 AS v
        FROM v${r - 1} v JOIN tm ON tm.i = v.st
        GROUP BY tm.j
      )"""
      }.mkString
      s"""
      WITH $transitionCtes, tm AS MATERIALIZED (
        SELECT prev_type AS i, next_type AS j,
               CAST(floor(1e9 * n / sum(n) OVER (PARTITION BY prev_type)
                 + 0.5) AS BIGINT) AS t
        FROM c
      ), states AS (
        SELECT DISTINCT prev_type AS st FROM c
        UNION
        SELECT DISTINCT next_type FROM c
      ), v0 AS (
        SELECT st, CAST(1000000000000 AS HUGEINT)
                 // (SELECT count(*) FROM states) AS v
        FROM states
      )$steps
      SELECT s.st AS state, CAST(coalesce(v.v, 0) AS BIGINT) AS v_scaled,
             CAST(coalesce(v.v, 0) AS DOUBLE) / 1e12 AS p
      FROM states s LEFT JOIN v10 v ON v.st = s.st
      ORDER BY s.st"""
    },

    // 16 unrolled power steps per removal scenario (HUGEINT products ≡
    // the driver's BigInt exactly); absorbing self-loops carry the mass
    "evt_markov_attribution" -> {
      val steps = (1 to 16).map { r =>
        s""", v$r AS MATERIALIZED (
        SELECT v.removed, tm.j AS st,
               sum(v.v * tm.t) // 1000000000 AS v
        FROM v${r - 1} v
        JOIN tm ON tm.removed = v.removed AND tm.i = v.st
        GROUP BY 1, 2
      )"""
      }.mkString
      s"""
      WITH ev AS MATERIALIZED (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS rn
        FROM events
      ), pconv AS MATERIALIZED (
        SELECT user_id,
               min(CASE WHEN event_type = 'purchase' THEN rn END) AS prn
        FROM ev GROUP BY 1
      ), jour AS MATERIALIZED (
        SELECT e.user_id, e.rn, e.event_type
        FROM ev e JOIN pconv p USING (user_id)
        WHERE p.prn IS NULL OR e.rn < p.prn
      ), internal AS (
        SELECT coalesce(lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY rn), '_start') AS i,
               event_type AS j
        FROM jour
      ), lastev AS (
        SELECT user_id, max_by(event_type, rn) AS last_type
        FROM jour GROUP BY 1
      ), terminals AS (
        SELECT coalesce(l.last_type, '_start') AS i,
               CASE WHEN p.prn IS NOT NULL THEN '_conv'
                    ELSE '_null' END AS j
        FROM pconv p LEFT JOIN lastev l USING (user_id)
      ), counts AS (
        SELECT i, j, count(*) AS n FROM (
          SELECT i, j FROM internal UNION ALL SELECT i, j FROM terminals)
        GROUP BY 1, 2
      ), cells AS MATERIALIZED (
        SELECT i, j,
               CAST(floor(1e9 * n / sum(n) OVER (PARTITION BY i) + 0.5)
                 AS BIGINT) AS t
        FROM counts
        UNION ALL SELECT '_conv', '_conv', 1000000000
        UNION ALL SELECT '_null', '_null', 1000000000
      ), chan AS MATERIALIZED (
        SELECT DISTINCT j AS c FROM cells
        WHERE j NOT IN ('_conv', '_null')
      ), scen AS MATERIALIZED (
        SELECT '_full' AS removed UNION ALL SELECT c FROM chan
      ), tm AS MATERIALIZED (
        SELECT s.removed, c.i,
               CASE WHEN c.j = s.removed THEN '_null' ELSE c.j END AS j,
               CAST(sum(c.t) AS BIGINT) AS t
        FROM scen s CROSS JOIN cells c
        GROUP BY 1, 2, 3
      ), v0 AS (
        SELECT removed, '_start' AS st,
               CAST(1000000000000 AS HUGEINT) AS v
        FROM scen
      )$steps, pc AS MATERIALIZED (
        SELECT s.removed,
               coalesce((SELECT v.v FROM v16 v
                         WHERE v.removed = s.removed
                           AND v.st = '_conv'), 0) AS p
        FROM scen s
      ), pf AS (SELECT p AS pfull FROM pc WHERE removed = '_full'),
      raw AS MATERIALIZED (
        SELECT c.c AS channel, f.pfull, pc.p,
               f.pfull - pc.p AS re
        FROM chan c
        JOIN pc ON pc.removed = c.c
        CROSS JOIN pf f
      ), tre AS (SELECT sum(re) AS sre FROM raw)
      SELECT r.channel,
             CAST(r.pfull AS BIGINT) AS p_conv_full_pico,
             CAST(r.p AS BIGINT) AS p_conv_removed_pico,
             CAST(CASE WHEN r.pfull > 0
               THEN (r.re * 1000000) // r.pfull ELSE 0 END AS BIGINT)
               AS removal_ppm,
             CAST(CASE WHEN t.sre > 0
               THEN (r.re * 1000000) // t.sre ELSE 0 END AS BIGINT)
               AS attribution_ppm
      FROM raw r CROSS JOIN tre t
      ORDER BY r.channel"""
    },

    "evt_markov_transitions" -> s"""
      WITH $transitionCtes
      SELECT prev_type, next_type, n,
             round(n / sum(n) OVER (PARTITION BY prev_type), 6) AS p
      FROM c""",

    "evt_dwell_time" -> """
      WITH d AS (
        SELECT event_type,
               CAST(epoch_us(lead(ts) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id)) - epoch_us(ts) AS DOUBLE)
                 / 1e6 AS dwell_s
        FROM events
      )
      SELECT event_type, count(*) AS n,
             round(avg(dwell_s), 4) AS avg_dwell,
             round(quantile_cont(dwell_s, 0.5), 4) AS p50,
             round(quantile_cont(dwell_s, 0.9), 4) AS p90,
             round(max(dwell_s), 4) AS max_dwell
      FROM d WHERE dwell_s IS NOT NULL
      GROUP BY event_type""",

    "evt_tumbling_window" -> """
      SELECT date_trunc('hour', ts) AS win_start, event_type,
             count(*) AS n, sum(value) AS sum_value
      FROM events GROUP BY 1, 2""",

    "evt_chained_windows" -> """
      WITH b AS (
        SELECT time_bucket(INTERVAL '15 minutes', ts) AS b15,
               event_type, count(*) AS n
        FROM events GROUP BY 1, 2
      )
      SELECT time_bucket(INTERVAL '1 hour', b15) AS win_start,
             count(*) AS n_type_buckets,
             CAST(sum(n) AS BIGINT) AS n_events
      FROM b GROUP BY 1""",

    "evt_funnel" -> s"""
      WITH $funnelCtes
      SELECT v.user_id, t_view, t_click, t_purchase,
             1 + CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END
               + CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END AS stage
      FROM v
      LEFT JOIN c ON v.user_id = c.user_id
      LEFT JOIN p ON v.user_id = p.user_id""",

    "evt_conversion_latency" -> s"""
      WITH $funnelCtes, lat AS (
        SELECT CAST(date_diff('second', v.t_view, p.t_purchase) AS DOUBLE)
                 AS latency_s
        FROM v JOIN p ON v.user_id = p.user_id
      )
      SELECT count(*) AS n_converted,
             quantile_cont(latency_s, 0.5) AS p50_s,
             quantile_cont(latency_s, 0.9) AS p90_s,
             min(latency_s) AS min_s,
             max(latency_s) AS max_s
      FROM lat""",

    "evt_sliding_window" -> """
      SELECT win_start, count(*) AS n, avg(value) AS avg_value
      FROM (
        SELECT value,
               unnest([date_trunc('hour', ts),
                       date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start
        FROM events
      ) GROUP BY 1""",

    "evt_session_window" -> """
      WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      ), numbered AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
      )
      SELECT user_id, min(ts) AS session_start, max(ts) AS session_last,
             count(*) AS n_events, sum(value) AS session_value
      FROM numbered GROUP BY user_id, sid""",

    "evt_session_dynamic" -> """
      WITH ends AS (
        SELECT user_id, ts, value,
               ts + CASE WHEN event_type = 'error' THEN INTERVAL 10 MINUTE
                         ELSE INTERVAL 30 MINUTE END AS reach
        FROM events
      ), flagged AS (
        SELECT user_id, ts, value, reach,
               CASE WHEN max(reach) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      IS NULL
                     OR ts >= max(reach) OVER (PARTITION BY user_id
                      ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS new_session
        FROM ends
      ), numbered AS (
        SELECT user_id, ts, value, reach,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
      )
      SELECT user_id, min(ts) AS session_start, max(reach) AS session_end,
             count(*) AS n_events, sum(value) AS session_value
      FROM numbered GROUP BY user_id, sid""",

    "evt_stream_join" -> """
      SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
             p.value AS purchase_value, c.event_id AS click_id,
             c.ts AS click_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND c.ts <= p.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""",

    "evt_stream_join_left" -> """
      SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
             p.value AS purchase_value, c.event_id AS click_id,
             c.ts AS click_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND c.ts <= p.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""",

    "join_interval" -> intervalJoinTwin,

    // identical semantics through the native broadcast range join —
    // hash parity proves native ≡ bucket-composed ≡ this brute force
    "join_interval_native" -> intervalJoinTwin,

    "join_asof_forward" -> """
      SELECT p.event_id, p.user_id, p.ts, c.ts AS next_click_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND c.ts > p.ts""",

    "join_asof_nearest" -> """
      SELECT p.event_id, p.user_id, p.ts,
             CASE
               WHEN b.ts IS NULL THEN f.ts
               WHEN f.ts IS NULL THEN b.ts
               WHEN epoch_us(p.ts) - epoch_us(b.ts)
                    <= epoch_us(f.ts) - epoch_us(p.ts) THEN b.ts
               ELSE f.ts
             END AS nearest_click_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT user_id AS bu, ts
                      FROM events WHERE event_type = 'click') b
        ON p.user_id = b.bu AND b.ts < p.ts
      ASOF LEFT JOIN (SELECT user_id AS fu, ts
                      FROM events WHERE event_type = 'click') f
        ON p.user_id = f.fu AND f.ts > p.ts""",

    "join_asof" -> """
      SELECT p.event_id, p.user_id, p.ts, c.ts AS last_click_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND c.ts < p.ts""",

    "evt_peak_concurrency" -> """
      WITH iv AS (
        SELECT epoch_us(ts) AS st, epoch_us(ts) + 5400000000 AS en
        FROM events WHERE event_type = 'signup'),
      deltas AS (
        SELECT st AS pt, CAST(1 AS BIGINT) AS dl FROM iv
        UNION ALL
        SELECT en AS pt, CAST(-1 AS BIGINT) AS dl FROM iv),
      run AS (
        SELECT CAST(sum(dl) OVER (ORDER BY pt, dl
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS live
        FROM deltas)
      SELECT CAST(max(live) AS BIGINT) AS peak_concurrent,
             CAST(count(*) AS BIGINT) AS n_points
      FROM run""",

    "evt_gap_report" -> s"""
      WITH $interArrivalCte
      SELECT event_type,
             CAST(sum(CASE WHEN gap > 3600000000 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_outages,
             CAST(sum(CASE WHEN gap > 3600000000 THEN gap ELSE 0 END)
               AS BIGINT) AS downtime_us,
             CAST(max(gap) AS BIGINT) AS longest_gap_us
      FROM g WHERE gap IS NOT NULL
      GROUP BY event_type""",

    "evt_interarrival" -> s"""
      WITH $interArrivalCte
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(sum(gap) // count(*) AS BIGINT) AS mean_gap_us,
             CAST(quantile_disc(gap, 0.5) AS BIGINT) AS p50_gap_us,
             CAST(quantile_disc(gap, 0.95) AS BIGINT) AS p95_gap_us
      FROM g WHERE gap IS NOT NULL
      GROUP BY event_type""",

    "join_pit_features" -> """
      WITH ev AS (
        SELECT * FROM events
        WHERE event_type IN ('click', 'view', 'purchase'))
      SELECT event_id, user_id, ts, last_click_ts, last_view_ts, n_prior
      FROM (
        SELECT event_id, user_id, ts, event_type,
               max(CASE WHEN event_type = 'click' THEN ts END) OVER wnd
                 AS last_click_ts,
               max(CASE WHEN event_type = 'view' THEN ts END) OVER wnd
                 AS last_view_ts,
               CAST(count(CASE WHEN event_type <> 'purchase' THEN 1 END)
                 OVER wnd AS BIGINT) AS n_prior
        FROM ev
        WINDOW wnd AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                       RANGE BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING))
      WHERE event_type = 'purchase'""",

    "join_asof_tolerance" -> """
      SELECT p.event_id, p.user_id, p.ts,
             CASE WHEN c.ts IS NOT NULL
                   AND epoch_us(p.ts) - epoch_us(c.ts) <= 1800000000
                  THEN c.ts END AS click_within_30m
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND c.ts < p.ts""",

    // native operator, same oracle semantics as join_asof[_forward]
    "join_asof_native" -> """
      SELECT p.event_id, p.user_id, p.ts, c.ts AS last_click_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND c.ts < p.ts""",

    "join_asof_native_forward" -> """
      SELECT p.event_id, p.user_id, p.ts, c.ts AS next_click_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND c.ts > p.ts""",

    "evt_threshold_alerts" -> """
      WITH baseline AS (
        SELECT event_type, quantile_disc(value, 0.99) AS p99
        FROM events GROUP BY event_type
      )
      SELECT e.event_id, e.event_type, e.ts, e.value, b.p99
      FROM events e JOIN baseline b ON e.event_type = b.event_type
      WHERE e.value > b.p99""",

    "evt_ab_test" -> """
      WITH by_user AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase' AND value > 150
                        THEN 1 ELSE 0 END) AS converted,
               CAST(user_id % 2 AS INT) AS variant
        FROM events GROUP BY user_id
      ), variants AS (
        SELECT variant, count(*) AS n_users,
               CAST(sum(converted) AS BIGINT) AS n_conv,
               CAST(sum(converted) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 AS cvr
        FROM by_user GROUP BY variant
      ), pooled AS (
        SELECT (CAST(sum(n_conv) AS DOUBLE) / CAST(sum(n_users) AS DOUBLE))
                 AS p_pool,
               CAST(sum(CASE WHEN variant = 0 THEN n_conv END) AS DOUBLE) AS c0,
               CAST(sum(CASE WHEN variant = 0 THEN n_users END) AS DOUBLE) AS u0,
               CAST(sum(CASE WHEN variant = 1 THEN n_conv END) AS DOUBLE) AS c1,
               CAST(sum(CASE WHEN variant = 1 THEN n_users END) AS DOUBLE) AS u1
        FROM variants
      )
      SELECT v.variant, v.n_users, v.n_conv, v.cvr,
             CASE WHEN p.p_pool > 0.0 AND p.p_pool < 1.0 THEN
               ((p.c1 / p.u1 - p.c0 / p.u0) /
                sqrt(p.p_pool * (1.0 - p.p_pool) *
                     (1.0 / p.u0 + 1.0 / p.u1))) END AS z_stat
      FROM variants v CROSS JOIN pooled p""",

    "evt_rolling_corr" -> """
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr,
               sum(CAST(ROUND(value * 100) AS BIGINT)) AS cents
        FROM events
        WHERE event_type IN ('click', 'purchase')
        GROUP BY 1, 2
      ), joined AS (
        SELECT c.hr, c.cents AS c_click, p.cents AS c_purchase
        FROM (SELECT hr, cents FROM hourly WHERE event_type = 'click') c
        JOIN (SELECT hr, cents FROM hourly WHERE event_type = 'purchase') p
          ON p.hr = c.hr
      ), rolled AS (
        SELECT hr, c_click, c_purchase,
               count(*) OVER w AS wn,
               corr(CAST(c_click AS DOUBLE), CAST(c_purchase AS DOUBLE))
                 OVER w AS r
        FROM joined
        WINDOW w AS (ORDER BY hr ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
      )
      SELECT hr, CAST(c_click AS BIGINT) AS c_click,
             CAST(c_purchase AS BIGINT) AS c_purchase,
             round(r, 6) AS rolling_corr
      FROM rolled WHERE wn = 24""",

    "evt_forecast_backtest" -> """
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
        FROM events GROUP BY 1, 2
      ), horizon AS (
        SELECT max(hr) AS hmax FROM hourly
      ), test AS (
        SELECT h.event_type, h.hr, h.n,
               h.hr - INTERVAL 24 HOURS AS prev_hr
        FROM hourly h, horizon
        WHERE h.hr > hmax - INTERVAL 24 HOURS
      )
      SELECT t.event_type, count(*) AS n_hours,
             round(CAST(sum(abs(t.n - p.n)) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE), 6) AS mae,
             round(avg(2.0 * CAST(abs(t.n - p.n) AS DOUBLE)
                   / CAST(t.n + p.n AS DOUBLE)), 6) AS smape
      FROM test t
      JOIN hourly p ON p.event_type = t.event_type AND p.hr = t.prev_hr
      GROUP BY t.event_type""",

    "evt_decompose" -> """
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
        FROM events GROUP BY 1, 2
      ), trended AS (
        SELECT event_type, hr, n,
               CAST(sum(n) OVER w AS DOUBLE) / 25.0 AS trend,
               count(*) OVER w AS wn
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY hr
                     ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
      ), detr AS (
        SELECT event_type, hr, n, trend,
               CAST(n AS DOUBLE) - trend AS detr,
               CAST(hour(hr) AS BIGINT) AS hod
        FROM trended WHERE wn = 25
      ), seas AS (
        SELECT *, avg(detr) OVER (PARTITION BY event_type, hod) AS seas_raw
        FROM detr
      )
      SELECT event_type, hr, n,
             round(trend, 6) AS trend,
             round(seas_raw - avg(seas_raw) OVER (PARTITION BY event_type), 6)
               AS seasonal,
             round(detr - (seas_raw
               - avg(seas_raw) OVER (PARTITION BY event_type)), 6) AS resid
      FROM seas""",

    "evt_trend" -> """
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
        FROM events GROUP BY 1, 2
      ), t0 AS (
        SELECT min(hr) AS t0 FROM hourly
      )
      SELECT event_type,
             regr_slope(n, CAST(date_diff('hour', t0.t0, hr) AS DOUBLE))
               AS slope,
             regr_intercept(n, CAST(date_diff('hour', t0.t0, hr) AS DOUBLE))
               AS intercept,
             regr_r2(n, CAST(date_diff('hour', t0.t0, hr) AS DOUBLE)) AS r2,
             count(*) AS n_hours
      FROM hourly CROSS JOIN t0
      GROUP BY event_type""",

    "evt_anomaly" -> """
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr,
               avg(value) AS hourly_avg, count(*) AS n_events
        FROM events GROUP BY 1, 2
      ), scored AS (
        SELECT event_type, hr, hourly_avg, n_events,
               avg(hourly_avg) OVER w AS base_mean,
               stddev_samp(hourly_avg) OVER w AS base_sd
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY hr
                     ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
      )
      SELECT event_type, hr, hourly_avg, n_events,
             (hourly_avg - base_mean) / base_sd AS z,
             abs((hourly_avg - base_mean) / base_sd) > 3.0 AS is_anomaly
      FROM scored
      WHERE base_sd IS NOT NULL AND base_sd > 0""",

    "evt_lttb" -> """
      WITH pts AS (
        SELECT event_type, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS x,
               CAST(round(value * 100) AS BIGINT) AS y
        FROM events WHERE value IS NOT NULL
      ), pb AS (
        SELECT *, CAST((rn - 1) // 16 AS BIGINT) AS bucket
        FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                ORDER BY x, event_id) AS rn FROM pts)
      ), sums AS (
        SELECT event_type AS et, bucket AS bk,
               CAST(count(*) AS HUGEINT) AS nb,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(y) AS HUGEINT) AS sy
        FROM pb GROUP BY 1, 2
      ), interior AS (
        SELECT p.event_type, p.bucket, p.event_id, p.x, p.y,
               abs(pr.sx * (CAST(p.y AS HUGEINT) * nx.nb - nx.sy)
                 - pr.sy * (CAST(p.x AS HUGEINT) * nx.nb - nx.sx)
                 + pr.nb * (CAST(p.x AS HUGEINT) * nx.sy
                 - CAST(p.y AS HUGEINT) * nx.sx)) AS adet
        FROM pb p
        JOIN sums pr ON pr.et = p.event_type AND pr.bk = p.bucket - 1
        JOIN sums nx ON nx.et = p.event_type AND nx.bk = p.bucket + 1
      ), picks AS (
        SELECT event_type, bucket, event_id, x, y
        FROM (SELECT *, row_number() OVER (PARTITION BY event_type, bucket
                ORDER BY adet DESC, event_id) AS pk FROM interior)
        WHERE pk = 1
      ), ends AS (
        SELECT event_type, bucket, event_id, x, y
        FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                ORDER BY rn DESC) AS lr FROM pb)
        WHERE rn = 1 OR lr = 1
      )
      SELECT DISTINCT event_type, bucket, event_id,
             x AS x_sec, y AS v_cents
      FROM (SELECT * FROM picks UNION ALL SELECT * FROM ends)""",

    "evt_markov_entropy" -> """
      WITH tr AS (
        SELECT prev_type, event_type AS next_type,
               CAST(count(*) AS BIGINT) AS n
        FROM (SELECT event_type,
                     lag(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev_type
              FROM events)
        WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
      ), terms AS (
        SELECT prev_type, n,
               CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS ns
        FROM tr
      )
      SELECT prev_type, CAST(max(ns) AS BIGINT) AS n_total,
             CAST(count(*) AS BIGINT) AS n_next,
             CAST(sum(CAST(floor(1e6 * (CAST(n AS DOUBLE)
               / CAST(ns AS DOUBLE)) * ln(CAST(ns AS DOUBLE)
               / CAST(n AS DOUBLE)) + 0.5) AS BIGINT)) AS BIGINT)
               AS entropy_ppm
      FROM terms GROUP BY prev_type""",

    "evt_hampel" -> """
      WITH e AS (
        SELECT event_id, ts, event_type,
               CAST(round(value * 100) AS BIGINT) AS vc
        FROM events WHERE value IS NOT NULL
      ), arrs AS (
        SELECT event_id, event_type, vc,
               list_sort(list(vc) OVER (PARTITION BY event_type
                 ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS arr
        FROM e
      ), med AS (
        SELECT event_id, event_type, vc, arr,
               arr[CAST((len(arr) + 1) // 2 AS BIGINT)] AS med
        FROM arrs
      ), mad AS (
        SELECT event_id, event_type, vc, med,
               list_sort(list_transform(arr, x -> abs(x - med)))
                 [CAST((len(arr) + 1) // 2 AS BIGINT)] AS mad
        FROM med
      )
      SELECT event_id, event_type, vc AS v_cents,
             CAST(med AS BIGINT) AS med_cents,
             CAST(mad AS BIGINT) AS mad_cents,
             abs(vc - med) > 3 * mad AS is_outlier
      FROM mad""",

    "evt_uplift_qini" -> """
      WITH users AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                 AS BIGINT) AS score,
               CAST(max(CASE WHEN event_type = 'purchase' THEN 1
                 ELSE 0 END) AS BIGINT) AS conv,
               CAST(user_id % 2 AS INTEGER) AS treat
        FROM events GROUP BY user_id
      ), r AS (
        SELECT treat, conv,
               row_number() OVER (ORDER BY score DESC, user_id) AS rn,
               count(*) OVER () AS nu
        FROM users
      ), dec AS (
        SELECT ((rn - 1) * 10) // nu AS decile,
               CAST(sum(CASE WHEN treat = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_t,
               CAST(sum(CASE WHEN treat = 1 THEN conv ELSE 0 END)
                 AS BIGINT) AS conv_t,
               CAST(sum(CASE WHEN treat = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_c,
               CAST(sum(CASE WHEN treat = 0 THEN conv ELSE 0 END)
                 AS BIGINT) AS conv_c
        FROM r GROUP BY 1
      ), c AS (
        SELECT dec.*,
               CAST(sum(n_t) OVER w AS BIGINT) AS cn_t,
               CAST(sum(conv_t) OVER w AS BIGINT) AS cc_t,
               CAST(sum(n_c) OVER w AS BIGINT) AS cn_c,
               CAST(sum(conv_c) OVER w AS BIGINT) AS cc_c
        FROM dec
        WINDOW w AS (ORDER BY decile
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      )
      SELECT CAST(decile AS BIGINT) AS decile, n_t, conv_t, n_c, conv_c,
             (CASE WHEN n_t > 0
               THEN CAST(floor(1e6 * conv_t / n_t + 0.5) AS BIGINT)
               ELSE 0 END)
             - (CASE WHEN n_c > 0
               THEN CAST(floor(1e6 * conv_c / n_c + 0.5) AS BIGINT)
               ELSE 0 END) AS uplift_ppm,
             CAST(CASE WHEN cn_c > 0
               THEN (1000 * (cc_t * cn_c - cc_c * cn_t)) // cn_c
               ELSE 0 END AS BIGINT) AS qini_milli
      FROM c ORDER BY decile""",

    "evt_ab_srm" -> """
      WITH arms AS (
        SELECT CAST(user_id % 2 AS INT) AS variant,
               CAST(count(*) AS BIGINT) AS n_obs
        FROM (SELECT DISTINCT user_id FROM events) GROUP BY 1
      ), tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM arms)
      SELECT variant, n_obs, n_total,
             CAST(n_total AS DOUBLE) / 2 AS n_expected,
             POW(CAST(2*n_obs - n_total AS DOUBLE), 2) / (2.0 * n_total)
               AS chi2_term,
             POW(CAST(2*n_obs - n_total AS DOUBLE), 2) / n_total > 10.83
               AS srm_flag
      FROM arms, tot ORDER BY variant""",

    "evt_seasonality" -> """
      WITH grid AS (
        SELECT event_type, dayofweek(ts) + 1 AS dow, hour(ts) AS hr,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2, 3
      ), tot AS (
        SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_type
        FROM grid GROUP BY 1
      )
      SELECT grid.event_type, dow, hr, n,
             ROUND(CAST(n AS DOUBLE) / n_type, 6) AS share
      FROM grid JOIN tot ON tot.event_type = grid.event_type
      ORDER BY grid.event_type, dow, hr""",

    "evt_cusum" -> """
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
      ), tot AS (
        SELECT event_type, CAST(SUM(x) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS n_days
        FROM daily GROUP BY 1
      ), c AS (
        SELECT daily.event_type, day, x, n_days,
               SUM(x*n_days - total) OVER
                 (PARTITION BY daily.event_type ORDER BY day
                  ROWS UNBOUNDED PRECEDING) AS cum_u
        FROM daily JOIN tot ON tot.event_type = daily.event_type
      ), m AS (
        SELECT event_type, day, x, n_days,
               cum_u - LEAST(MIN(cum_u) OVER
                 (PARTITION BY event_type ORDER BY day
                  ROWS UNBOUNDED PRECEDING), 0) AS cusum_u
        FROM c
      )
      SELECT event_type, day, x,
             ROUND(CAST(cusum_u AS DOUBLE) / n_days, 4) AS cusum,
             cusum_u > 25 * n_days AS alarm
      FROM m ORDER BY event_type, day""",

    "evt_autocorr" -> """
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
      ), d2 AS (
        SELECT event_type, datediff('day', DATE '1970-01-01', day) AS di, x
        FROM daily
      ), ks AS (SELECT unnest(generate_series(1, 7)) AS lag)
      SELECT c.event_type, CAST(k.lag AS INT) AS lag,
             count(*) AS n_pairs,
             ROUND(corr(c.x, p.x), 5) AS acf
      FROM d2 c
      CROSS JOIN ks k
      JOIN d2 p ON p.event_type = c.event_type AND p.di = c.di - k.lag
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "evt_cohort_ltv" -> """
      WITH ev AS (
        SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk,
               event_type, CAST(ROUND(value * 100) AS BIGINT) AS v_u
        FROM events
      ), cohorts AS (
        SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id
      ), rev AS (
        SELECT c.cohort_wk,
               CAST(date_diff('day', c.cohort_wk, e.wk) / 7 AS INT)
                 AS week_offset,
               CAST(SUM(e.v_u) AS BIGINT) AS rev_u
        FROM ev e JOIN cohorts c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2
      ), sizes AS (
        SELECT cohort_wk, CAST(count(*) AS BIGINT) AS cohort_size
        FROM cohorts GROUP BY 1
      ), cum AS (
        SELECT cohort_wk, week_offset, rev_u,
               SUM(rev_u) OVER (PARTITION BY cohort_wk ORDER BY week_offset
                                ROWS UNBOUNDED PRECEDING) AS cum_u
        FROM rev
      )
      SELECT cum.cohort_wk, week_offset,
             ROUND(rev_u / 100.0, 2) AS week_rev,
             ROUND(cum_u / 100.0, 2) AS cum_rev,
             CAST(cum_u AS DOUBLE) / (cohort_size * 100.0) AS ltv_per_user
      FROM cum JOIN sizes ON sizes.cohort_wk = cum.cohort_wk
      ORDER BY cum.cohort_wk, week_offset""",

    "evt_type_overlap" -> """
      WITH ut AS (
        SELECT DISTINCT user_id, event_type FROM events
      ), pairs AS (
        SELECT a.event_type AS t1, b.event_type AS t2,
               CAST(count(*) AS BIGINT) AS n_both
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
      ), sizes AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
        FROM ut GROUP BY 1
      )
      SELECT t1, t2, n_both, s1.n_users AS n1, s2.n_users AS n2,
             CAST(n_both AS DOUBLE) / (s1.n_users + s2.n_users - n_both)
               AS jaccard
      FROM pairs
      JOIN sizes s1 ON s1.event_type = t1
      JOIN sizes s2 ON s2.event_type = t2
      ORDER BY t1, t2""",

    "evt_retention_cohorts" -> """
      WITH ev AS (
        SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        FROM events
      ), cohorts AS (
        SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id
      ), active AS (
        SELECT DISTINCT user_id, wk FROM ev
      ), by_offset AS (
        SELECT c.cohort_wk,
               CAST(date_diff('day', c.cohort_wk, a.wk) / 7 AS INT)
                 AS week_offset,
               count(DISTINCT a.user_id) AS n_active
        FROM active a JOIN cohorts c ON a.user_id = c.user_id
        GROUP BY 1, 2
      ), sizes AS (
        SELECT cohort_wk, count(DISTINCT user_id) AS cohort_size
        FROM cohorts GROUP BY 1
      )
      SELECT b.cohort_wk, b.week_offset, b.n_active, s.cohort_size,
             CAST(b.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
               AS retention
      FROM by_offset b JOIN sizes s ON b.cohort_wk = s.cohort_wk""",

    "evt_pattern_match" -> """
      SELECT user_id,
             string_agg(upper(substr(event_type, 1, 1)), '' ORDER BY ts)
               AS journey,
             count(*) AS n_events,
             CAST(len(regexp_extract_all(
               string_agg(upper(substr(event_type, 1, 1)), '' ORDER BY ts),
               'VC*P')) AS INT) AS n_conversions
      FROM events GROUP BY user_id"""
  )
}
