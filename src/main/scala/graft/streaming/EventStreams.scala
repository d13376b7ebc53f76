package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQueryProgress}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table (SURVEY.md §2
  * "Streaming"). Transformations are defined once against a generic
  * DataFrame, so the SAME code runs in batch (oracle-checked in
  * [[graft.queries.EventsBatch]]) and under `readStream` (exercised in
  * `StreamingSpec` with file-source replay + `Trigger.AvailableNow`).
  * [[attributeClicks]] is the one operator with a separate streamed path,
  * checked against its batch form.
  *
  * Scale: state stores are keyed by (window, event_type) / user_id —
  * bounded by watermark eviction; no unbounded state.
  */
object EventStreams {

  /** events schema after ns→us narrowing (file streaming sources need an
    * explicit schema). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-based streaming source replaying parquet dropped into `dir`. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Tumbling 1h counts with a 10 min watermark (late data beyond the
    * watermark is dropped — reference has no streaming analogue; semantics
    * from the Spark guide). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding window aggregate (2h window, 1h slide). */
  def slidingAvg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("avg_value"))
      .select(col("window.start").as("win_start"), col("n"), col("avg_value"))

  /** Session windows (30 min gap) per user. */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("session_value"))

  /** Chained stateful aggregations (Spark ≥ 3.4: multiple stateful
    * operators in one streaming query): 15-min per-type counts rolled up
    * into 1-hour activity summaries. The second groupBy keys on
    * window_time(window) — the first aggregate's event-time column — so
    * both stages share one watermark lineage and evict state
    * independently. At scale the second stage's input is already tiny
    * (≤ |event types| rows per 15-min bucket whatever the event rate), so
    * the chain costs one extra bounded shuffle. */
  def chainedWindowCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(window(window_time(col("window")), "1 hour"))
      .agg(count(lit(1)).as("n_type_buckets"), sum(col("n")).as("n_events"))
      .select(col("window.start").as("win_start"),
        col("n_type_buckets"), col("n_events"))

  /** Stateful exact-once dedup on event_id within the watermark horizon. */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Click→purchase attribution (SURVEY.md §2 streaming table): every
    * purchase paired with each click by the same user in the hour up to
    * and including it (`click_ts ≤ purchase_ts ≤ click_ts + 1 hour`).
    * `joinType` is `inner` or `left_outer`; `left_outer` also keeps each
    * purchase with no qualifying click, null-extended. Output columns:
    * purchase_id, user_id, purchase_ts, purchase_value, click_id,
    * click_ts.
    *
    * Batch inputs run the plain join below. It is the reference: the
    * DuckDB-checked twins `evt_stream_join` / `evt_stream_join_left` in
    * [[graft.queries.EventsBatch]] run it, and `StreamingSpec` checks the
    * streamed form against Spark's own stream-stream join of the same
    * expression.
    *
    * Streaming inputs (both sides `isStreaming`) run one keyed stateful
    * operator instead of Spark's symmetric hash join, which keeps four
    * state stores per shuffle partition (key-to-count and
    * key-with-index-to-value, per side) and commits each one every
    * micro-batch. Here each input keeps its own 10-minute watermark,
    * applied before the union, so the global (min) watermark and the late
    * rows dropped are the join's; `flatMapGroupsWithState` keyed by
    * `user_id` with `EventTimeTimeout` then keeps ONE store per partition
    * holding, per user, the clicks still inside the 1-hour horizon and the
    * purchases a later click could still match. See [[attributeStep]] for
    * the pairs emitted: exactly the ones the symmetric join emits. */
  def attributeClicks(clicks: DataFrame, purchases: DataFrame,
                      joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left_outer",
      s"attributeClicks joinType must be inner or left_outer, got '$joinType'")
    if (clicks.isStreaming && purchases.isStreaming)
      attributeStream(clicks, purchases, outer = joinType == "left_outer")
    else {
      val c = clicks.select(
          col("event_id").as("click_id"),
          col("user_id").as("click_user"),
          col("ts").as("click_ts"))
      val p = purchases.select(
          col("event_id").as("purchase_id"),
          col("user_id"),
          col("ts").as("purchase_ts"),
          col("value").as("purchase_value"))
      p.join(c,
          col("user_id") === col("click_user") &&
          col("click_ts") <= col("purchase_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("interval 1 hour"),
          joinType)
        .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
          col("purchase_value"), col("click_id"), col("click_ts"))
    }
  }

  /** How long a click stays attributable, in microseconds. */
  private val HorizonUs = 3600L * 1000 * 1000

  // Typed rows of the streamed attribution. Ids, users and values are
  // boxed: a null passes through as in the join instead of failing the
  // decoder (a null user reaches the operator only as a `left_outer`
  // purchase). Times are epoch microseconds (`unix_micros`), the unit the
  // join compares in.
  private[streaming] case class AttrIn(is_click: Boolean,
      id: java.lang.Long, user_id: java.lang.Long, us: Long,
      value: java.lang.Double)
  private[streaming] case class StoredClick(id: java.lang.Long, us: Long)
  private[streaming] case class StoredPurchase(id: java.lang.Long, us: Long,
      value: java.lang.Double, matched: Boolean)
  private[streaming] case class AttrState(clicks: Seq[StoredClick],
      purchases: Seq[StoredPurchase])
  private[streaming] case class AttrOut(purchase_id: java.lang.Long,
      user_id: java.lang.Long, purchase_us: Long,
      purchase_value: java.lang.Double, click_id: java.lang.Long,
      click_us: java.lang.Long)

  private def attributeStream(clicks: DataFrame, purchases: DataFrame,
                              outer: Boolean): DataFrame = {
    import clicks.sparkSession.implicits._
    // the join's inferred null filters, applied where it applies them:
    // below the watermark, so null-user rows never move it either
    def side(df: DataFrame, isClick: Boolean) = df
      .filter(col("ts").isNotNull &&
        (if (isClick || !outer) col("user_id").isNotNull else lit(true)))
      .select(lit(isClick).as("is_click"), col("event_id").as("id"),
        col("user_id"), col("ts"), unix_micros(col("ts")).as("us"),
        (if (isClick) lit(null).cast(DoubleType) else col("value")).as("value"))
      .withWatermark("ts", "10 minutes")
    side(purchases, isClick = false).union(side(clicks, isClick = true))
      .as[AttrIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttrState, AttrOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: java.lang.Long, rows: Iterator[AttrIn],
         state: GroupState[AttrState]) => attributeStep(user, rows, state, outer)
      }
      .select(col("purchase_id"), col("user_id"),
        timestamp_micros(col("purchase_us")).as("purchase_ts"),
        col("purchase_value"), col("click_id"),
        timestamp_micros(col("click_us")).as("click_ts"))
  }

  /** One micro-batch of one user, emitting the pairs the symmetric join
    * emits. The operator has already dropped rows at or below the
    * previous batch's watermark.
    *
    *  1. Each new click pairs with the purchases stored by earlier
    *     batches, marking them matched, and is stored.
    *  2. Each new purchase pairs with the stored clicks, this batch's
    *     included, and is stored.
    *  3. Rows no later row can pair with are evicted: purchases with
    *     `purchase_ts ≤ bound` and clicks with `click_ts + 1 hour ≤ bound`,
    *     `bound` being this batch's watermark less 1 ms, as in the join's
    *     state cleanup predicates, so the state holds the rows the join's
    *     state holds. Under `left_outer` an evicted purchase that never
    *     matched is emitted null-extended.
    *
    * The timeout fires at the first watermark that evicts a row; a
    * timed-out call has no rows and runs only step 3. */
  private def attributeStep(user: java.lang.Long, rows: Iterator[AttrIn],
      state: GroupState[AttrState], outer: Boolean): Iterator[AttrOut] = {
    val prev = state.getOption.getOrElse(AttrState(Nil, Nil))
    val purchases = scala.collection.mutable.ArrayBuffer.from(prev.purchases)
    val out = scala.collection.mutable.ArrayBuffer.empty[AttrOut]
    def pair(p: StoredPurchase, c: StoredClick) =
      AttrOut(p.id, user, p.us, p.value, c.id, c.us)
    def attributable(c: StoredClick, p: StoredPurchase) =
      c.us <= p.us && p.us <= c.us + HorizonUs
    val (newClicks, newPurchases) = rows.toVector.partition(_.is_click)
    val fresh = newClicks.map(r => StoredClick(r.id, r.us))
    fresh.foreach { c =>
      purchases.mapInPlace { p =>
        if (attributable(c, p)) { out += pair(p, c); p.copy(matched = true) }
        else p
      }
    }
    val clicks = prev.clicks ++ fresh
    newPurchases.foreach { r =>
      val p = StoredPurchase(r.id, r.us, r.value, matched = false)
      val hits = clicks.filter(attributable(_, p))
      hits.foreach(c => out += pair(p, c))
      purchases += p.copy(matched = hits.nonEmpty)
    }
    val bound = (state.getCurrentWatermarkMs() - 1) * 1000
    val (evicted, kept) = purchases.partition(_.us <= bound)
    if (outer) evicted.filterNot(_.matched).foreach { p =>
      out += AttrOut(p.id, user, p.us, p.value, null, null)
    }
    val live = clicks.filter(_.us + HorizonUs > bound)
    if (live.isEmpty && kept.isEmpty) state.remove()
    else {
      state.update(AttrState(live, kept.toSeq))
      // a row of time u goes once the watermark passes ceil(u / 1 ms);
      // the timeout fires at the first watermark strictly past its value,
      // which is at or past the current watermark
      val evictUs = (kept.map(_.us) ++ live.map(_.us + HorizonUs)).min
      state.setTimeoutTimestamp(Math.floorDiv(evictUs + 999, 1000L))
    }
    out.iterator
  }

  // ---- arbitrary stateful processing -----------------------------------

  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                event_type: String, value: Double)
  case class SessionState(n: Long, total: Double, lastTs: Long)
  case class SessionOut(user_id: Long, n_events: Long, total_value: Double)

  /** Event-time sessionization via flatMapGroupsWithState with
    * EventTimeTimeout: sessions close when the WATERMARK passes the last
    * event + gap, not when wall-clock elapses — deterministic under replay
    * (a historical backfill closes the same sessions as the live run,
    * which a processing-time timeout cannot guarantee). Requires a
    * watermark on `ts` (set here).
    *
    * Per user, a timed-out session is emitted and dropped; otherwise the
    * batch's events extend the open session in (ts, event_id) order, a gap
    * of `gapMs` or more closes it, and the session left open times out at
    * its last event + `gapMs`. */
  def sessionizeEventTime(events: Dataset[Ev], gapMs: Long = 30 * 60 * 1000L)
      : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", "10 minutes").groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(uid, s.n, s.total))
          } else {
            var s = state.getOption.getOrElse(SessionState(0L, 0.0, 0L))
            var closed = List.empty[SessionOut]
            rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              if (s.n > 0 && e.ts.getTime - s.lastTs >= gapMs) {
                closed ::= SessionOut(uid, s.n, s.total)
                s = SessionState(0L, 0.0, 0L)
              }
              s = SessionState(s.n + 1, s.total + e.value, e.ts.getTime)
            }
            state.update(s)
            state.setTimeoutTimestamp(s.lastTs + gapMs)
            closed.reverseIterator
          }
      }
  }

  /** transformWithState (Spark 4 arbitrary-state API, the successor of
    * flatMapGroupsWithState): running per-user totals kept in a ValueState,
    * one updated row emitted per user per micro-batch. Requires the RocksDB
    * state store provider (set in the caller's session conf). */
  class UserTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, SessionOut] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[SessionState] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[SessionState]("totals",
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[SessionOut] = {
      val prev = if (st.exists()) st.get() else SessionState(0L, 0.0, 0L)
      var n = prev.n; var total = prev.total
      rows.foreach { e => n += 1; total += e.value }
      st.update(SessionState(n, total, 0L))
      Iterator.single(SessionOut(key, n, total))
    }
  }

  /** Wire the processor over a (possibly streaming) Dataset[Ev]. */
  def runningTotals(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new UserTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** Streaming threshold alerts: events whose value exceeds their type's
    * (static, precomputed) p99 baseline. The third stateless gate next to
    * [[DedupGate.gate]] and [[DedupGate.embedGate]]: baseline is a
    * bounded per-type table (broadcast), the stream side is one equi-join
    * + filter — append-safe, zero state. Batch twin `evt_threshold_alerts`
    * is oracle-checked; StreamingSpec proves streamed ≡ batch. */
  def thresholdAlerts(events: DataFrame, baseline: DataFrame): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(baseline),
        Seq("event_type"))
      .filter(col("value") > col("p99"))
      .select(col("event_id"), col("event_type"), col("ts"), col("value"),
        col("p99"))

  /** Per-type p99 baseline from a historical batch — the static side of
    * [[thresholdAlerts]]. */
  /** p99 is the DISCRETE percentile — an actual data value, not an
    * interpolation: the r12 sf1 parity sweep caught the continuous form's
    * interpolated threshold landing one ulp apart between engines exactly
    * when it interpolates AT a data value, flipping the strict `>` gate
    * on every tied row. A threshold that IS a data point compares
    * exactly, at any scale. */
  def typeBaseline(history: DataFrame): DataFrame =
    history.groupBy(col("event_type"))
      .agg(expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)")
        .as("p99"))

  /** Run any of the above to the memory sink table `name`, processing all
    * available input once (deterministic batch replay for tests); read the
    * result back with `spark.table(name)`. Returns the query's
    * `recentProgress`, one entry per micro-batch: `durationMs` splits a
    * batch into its Spark jobs (`addBatch`) and its checkpoint commits
    * (`walCommit`, `commitOffsets`), and `stateOperators` holds each state
    * store's rows and commit time. */
  def runToMemory(df: DataFrame, name: String,
                  mode: OutputMode = OutputMode.Append): Array[StreamingQueryProgress] = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    q.recentProgress
  }
}
