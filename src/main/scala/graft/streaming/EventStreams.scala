package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
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

  /** Stream-static join: enrich the stream with a static dimension. */
  def enrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("event_type"), "left")

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

  /** Custom sessionization via flatMapGroupsWithState (the
    * beyond-session_window path of SURVEY §2): emits a session row when a
    * user goes quiet past the processing-time timeout. */
  def sessionize(events: Dataset[Ev], gapMs: Long = 30 * 60 * 1000L)
      : Dataset[SessionOut] =
    sessions(events, GroupStateTimeout.ProcessingTimeTimeout, gapMs)(
      (state, _) => state.setTimeoutDuration(gapMs))

  /** Event-time sessionization via flatMapGroupsWithState with
    * EventTimeTimeout: sessions close when the WATERMARK passes the last
    * event + gap, not when wall-clock elapses — deterministic under replay
    * (a historical backfill closes the same sessions as the live run,
    * which ProcessingTimeTimeout cannot guarantee). Requires a watermark
    * on `ts` (set here). */
  def sessionizeEventTime(events: Dataset[Ev], gapMs: Long = 30 * 60 * 1000L)
      : Dataset[SessionOut] =
    sessions(events.withWatermark("ts", "10 minutes"),
      GroupStateTimeout.EventTimeTimeout, gapMs)(
      (state, s) => state.setTimeoutTimestamp(s.lastTs + gapMs))

  /** The per-user session state machine both sessionizers run: a timed-out
    * session is emitted and dropped; otherwise the batch's events extend
    * the open session in (ts, event_id) order, a gap of `gapMs` or more
    * closes it, and `rearm` sets the timeout of the session left open. */
  private def sessions(events: Dataset[Ev], timeout: GroupStateTimeout,
                       gapMs: Long)(
      rearm: (GroupState[SessionState], SessionState) => Unit)
      : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, timeout) {
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
            rearm(state, s)
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

  case class QuietAlert(user_id: Long, n_events: Long, quiet_since_ms: Long)

  /** transformWithState TIMERS (the API surface flatMapGroupsWithState's
    * setTimeoutDuration became): every batch of input re-arms a per-user
    * processing-time timer `quietMs` ahead; if no input arrives before it
    * fires, [[handleExpiredTimer]] emits one inactivity alert and clears
    * the user's state — the push-based complement of [[sessionize]]'s
    * timeout path. Timers are explicit here (register/delete, many per key
    * allowed), vs the single implicit timeout slot of the old API. */
  class InactivityAlertProcessor(quietMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, QuietAlert] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[SessionState] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[SessionState]("seen",
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[QuietAlert] = {
      val prev = if (st.exists()) st.get() else SessionState(0L, 0.0, 0L)
      var n = prev.n; var total = prev.total
      rows.foreach { e => n += 1; total += e.value }
      val now = timerValues.getCurrentProcessingTimeInMs()
      st.update(SessionState(n, total, now))
      // re-arm: drop any previously registered timer, set a fresh one
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(now + quietMs)
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[QuietAlert] = {
      val s = if (st.exists()) st.get() else SessionState(0L, 0.0, 0L)
      st.clear()
      Iterator.single(QuietAlert(key, s.n, expiredTimerInfo.getExpiryTimeInMs()))
    }
  }

  /** Inactivity alerts over a streaming Dataset[Ev] (processing time). */
  def inactivityAlerts(events: Dataset[Ev], quietMs: Long): Dataset[QuietAlert] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new InactivityAlertProcessor(quietMs),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** transformWithState MAP STATE: per-user map keyed by event_type — the
    * composite-state shape ValueState can't express without packing the
    * whole map into one blob (and rewriting it wholesale every batch).
    * MapState reads/writes only the touched keys — on the RocksDB store
    * each map entry is its own KV pair, so a user with thousands of
    * event types pays per-key, not per-map, I/O. Emits the updated
    * (user, type, count) rows per batch. */
  class TypeCountsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, TypeCount] {
    @transient private var st:
      org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getMapState[String, Long]("type_counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TypeCount] = {
      val touched = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      rows.foreach { e =>
        val cur = touched.getOrElse(e.event_type,
          if (st.containsKey(e.event_type)) st.getValue(e.event_type) else 0L)
        touched(e.event_type) = cur + 1L
      }
      touched.foreach { case (t, n) => st.updateValue(t, n) }
      touched.iterator.map { case (t, n) => TypeCount(key, t, n) }
    }
  }

  case class RecentOut(user_id: Long, ts: java.sql.Timestamp, recent: String)

  /** ListState processor (the third transformWithState state shape next to
    * ValueState and MapState): a bounded per-user rolling history — after
    * each event the list holds the last ≤3 event-type initials, emitted as
    * a comma-joined trail. appendValue + a trim-on-overflow rewrite keeps
    * the stored list at k elements whatever the stream length; rows within
    * a micro-batch are sorted by ts because arrival order per key inside a
    * batch is not guaranteed. */
  class RecentEventsProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, RecentOut] {
    @transient private var st:
      org.apache.spark.sql.streaming.ListState[String] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getListState[String]("recent",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[RecentOut] = {
      var cur = st.get().toVector
      val out = rows.toVector
        .sortBy(e => (e.ts.getTime, e.ts.getNanos)).map { e =>
        cur = (cur :+ e.event_type.substring(0, 1).toUpperCase).takeRight(k)
        RecentOut(key, e.ts, cur.mkString(","))
      }
      st.put(cur.toArray)
      out.iterator
    }
  }

  /** Per-user rolling last-3 trail via ListState.
    *
    * Ordering contract: rows are event-time-sorted WITHIN each micro-batch
    * (see [[RecentEventsProcessor]]), but state appends across batches in
    * arrival order — an event that arrives in a later micro-batch than a
    * newer-timestamped sibling lands after it in the trail. transformWithState
    * has no watermark-driven reorder buffer, so callers feeding
    * cross-batch-disordered streams must pre-sort upstream (or accept
    * arrival-order trails); the batch twin assumes in-order arrival. */
  def recentEvents(events: Dataset[Ev], k: Int = 3): Dataset[RecentOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RecentEventsProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  case class DailyCount(event_type: String, day: java.sql.Date, x: Long)
  case class CusumOut(event_type: String, day: java.sql.Date, x: Long,
                      cusum: Double, alarm: Boolean)
  case class CusumSt(cum: Long, minCum: Long)

  /** Streaming CUSUM drift gate — the online form of the batch
    * `evt_cusum` query: consumes the compacted per-type DAILY count
    * stream (an upstream windowed aggregate in production) and maintains
    * CUSUM⁺ against a FIXED per-type target rate in a ValueState. The
    * target arrives as an exact rational (num = historical total,
    * den = historical n_days), so the per-day deviation x·den − num and
    * both state fields stay exact integers — the same scaling discipline
    * as the batch query, whose closed form cum − min(0, min-prefix) this
    * recursion reproduces (Round6dSpec pins closed form ≡ recursion; the
    * streaming spec pins streamed ≡ batch on the same target). minCum
    * starts at 0, which is safe BECAUSE the emitted S folds min(minCum, 0)
    * — the extra 0 is absorbed. Ordering contract: rows are day-sorted
    * within each micro-batch; across batches days must arrive in order
    * (same in-order contract as [[recentEvents]]). */
  class CusumGateProcessor(target: Map[String, (Long, Long)])
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, DailyCount, CusumOut] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[CusumSt] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[CusumSt]("cusum",
        org.apache.spark.sql.Encoders.product[CusumSt],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[DailyCount],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[CusumOut] = {
      val (num, den) = target.getOrElse(key, (0L, 1L))
      val prev = if (st.exists()) st.get() else CusumSt(0L, 0L)
      var cum = prev.cum; var minCum = prev.minCum
      val out = rows.toVector.sortBy(_.day.getTime).map { r =>
        cum += r.x * den - num
        if (cum < minCum) minCum = cum
        val s = cum - math.min(minCum, 0L)
        CusumOut(key, r.day, r.x, s.toDouble / den, s > 25L * den)
      }
      st.update(CusumSt(cum, minCum))
      out.iterator
    }
  }

  /** Wire the CUSUM gate over a (possibly streaming) daily-count set. */
  def cusumGate(daily: Dataset[DailyCount],
                target: Map[String, (Long, Long)]): Dataset[CusumOut] = {
    import daily.sparkSession.implicits._
    daily.groupByKey(_.event_type)
      .transformWithState(new CusumGateProcessor(target),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** Per-type target rate from a HISTORY batch, as the exact rational
    * (total, n_days) [[cusumGate]] expects. The collect is bounded by
    * |event types|. */
  def cusumTarget(dailyHistory: DataFrame): Map[String, (Long, Long)] =
    dailyHistory.groupBy(col("event_type"))
      .agg(org.apache.spark.sql.functions.sum(col("x")).as("total"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_days"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

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

  /** Per-(user, event_type) streaming counts via MapState. */
  def typeCounts(events: Dataset[Ev]): Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TypeCountsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  case class SeqSpanState(spans: Map[String, (Long, Long)],
                          emitted: Seq[(String, String)])
  case class SeqPairOut(user_id: Long, etype_a: String, etype_b: String)

  /** Streaming ordered-2-sequence gate — the incremental twin of the
    * batch `evt_frequent_seq2` support count: per user, emit (a, b) the
    * FIRST time the observed history satisfies "some a-event strictly
    * before some b-event" (⇔ min ts(a) < max ts(b)). State per user is
    * |types| span pairs + the emitted-pair list (≤ |types|² entries) —
    * bounded by the type vocabulary, never the event count. The
    * satisfied-pair predicate is a monotone function of the span state
    * (spans only widen), so the emitted SET is arrival-order invariant
    * and converges to exactly the batch answer under any micro-batch
    * replay (asserted streamed ≡ batch in StreamingSpec). */
  def seqGate(events: Dataset[Ev]): Dataset[SeqPairOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SeqSpanState, SeqPairOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[SeqSpanState]) =>
          var s = state.getOption
            .getOrElse(SeqSpanState(Map.empty, Seq.empty))
          var emitted = s.emitted.toSet
          val out = scala.collection.mutable.ListBuffer.empty[SeqPairOut]
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val ts = e.ts.getTime
            val (lo, hi) = s.spans.getOrElse(e.event_type,
              (Long.MaxValue, Long.MinValue))
            s = s.copy(spans = s.spans.updated(e.event_type,
              (math.min(lo, ts), math.max(hi, ts))))
            val (nlo, nhi) = s.spans(e.event_type)
            s.spans.foreach { case (other, (olo, ohi)) =>
              if (other != e.event_type) {
                if (nlo < ohi && !emitted((e.event_type, other))) {
                  out += SeqPairOut(uid, e.event_type, other)
                  emitted += ((e.event_type, other))
                }
                if (olo < nhi && !emitted((other, e.event_type))) {
                  out += SeqPairOut(uid, other, e.event_type)
                  emitted += ((other, e.event_type))
                }
              }
            }
          }
          state.update(SeqSpanState(s.spans, emitted.toSeq))
          out.iterator
      }
  }

  /** Run any of the above to the memory sink table `name`, processing all
    * available input once (deterministic batch replay for tests); read the
    * result back with `spark.table(name)`. */
  def runToMemory(df: DataFrame, name: String,
                  mode: OutputMode = OutputMode.Append): Unit = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
  }
}
