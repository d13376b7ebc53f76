package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables.t
import graft.streaming.EventStreams

/** Streaming semantics via deterministic file-source replay (SURVEY.md
  * §5.5): batch/streaming unification means the streamed result of each
  * operator must equal its batch twin (which is oracle-checked). */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  /** events re-materialized with micros ts so the file streaming source
    * can read it with an explicit schema. */
  lazy val replayDir: String = {
    val dir = Files.createTempDirectory("graft-stream").toString + "/events"
    t(spark, sf, "events").write.parquet(dir)
    dir
  }

  test("streamed tumbling counts equal batch tumbling counts") {
    val stream = EventStreams.readEventStream(spark, replayDir)
    EventStreams.runToMemory(
      EventStreams.tumblingCounts(stream), "tumbling",
      org.apache.spark.sql.streaming.OutputMode.Append)
    val streamed = spark.table("tumbling")
    val batch = graft.queries.EventsBatch.defs("evt_tumbling_window")(spark, sf)
    // one AvailableNow replay: all windows are final except possibly those
    // past the watermark frontier; in a single batch ALL rows are emitted
    // only for windows older than (max ts - watermark). Compare on the
    // common set.
    val s = streamed.select("win_start", "event_type", "n").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val b = batch.select("win_start", "event_type", "n").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(s.subsetOf(b), "streamed windows must match batch results")
    assert(s.size >= b.size - 10, s"too few emitted windows: ${s.size} vs ${b.size}")
  }

  test("streamed chained window aggregation equals batch (two stateful ops)") {
    val stream = EventStreams.readEventStream(spark, replayDir)
    EventStreams.runToMemory(
      EventStreams.chainedWindowCounts(stream), "chained",
      org.apache.spark.sql.streaming.OutputMode.Append)
    val streamed = spark.table("chained")
    val batch = graft.queries.EventsBatch.defs("evt_chained_windows")(spark, sf)
    val s = streamed.collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    val b = batch.collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    // append mode emits only watermark-finalized hours: subset of batch,
    // short of it by at most the unfinalized frontier hour(s)
    assert(s.subsetOf(b), "streamed chained windows must match batch")
    assert(s.size >= b.size - 3, s"too few emitted hours: ${s.size} vs ${b.size}")
  }

  test("complete and update output modes; parquet sink with AvailableNow") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    // complete mode: every trigger re-emits the full aggregate
    val agg = EventStreams.readEventStream(spark, replayDir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val qc = agg.writeStream.format("memory").queryName("complete_out")
      .outputMode(OutputMode.Complete).start()
    qc.processAllAvailable(); qc.stop()
    val complete = spark.table("complete_out")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = t(spark, sf, "events").groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(complete == batch)

    // parquet file sink driven by Trigger.AvailableNow (checkpointed)
    val outDir = java.nio.file.Files.createTempDirectory("graft-psink")
    val qp = EventStreams.tumblingCounts(
        EventStreams.readEventStream(spark, replayDir))
      .writeStream.format("parquet")
      .option("path", s"$outDir/data")
      .option("checkpointLocation", s"$outDir/ckpt")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    qp.awaitTermination(60000)
    val written = spark.read.parquet(s"$outDir/data")
    assert(written.count() > 0)
    assert(written.columns.toSet ==
      Set("win_start", "event_type", "n", "sum_value"))
  }

  test("rate source produces a monotonically timestamped stream") {
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", "500").load()
    val q = rate.writeStream.format("memory").queryName("rate_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      Thread.sleep(1100)
      q.processAllAvailable()
      val rows = spark.table("rate_out")
        .orderBy("value").collect()
      assert(rows.nonEmpty)
      val values = rows.map(_.getLong(1))
      assert(values.toSeq == values.sorted.toSeq)
      assert(values.distinct.length == values.length)
    } finally q.stop()
  }

  test("stateful dedup drops re-delivered events") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dup").toString + "/in"
    val ev = t(spark, sf, "events").limit(100)
    ev.write.parquet(dir)
    ev.write.mode("append").parquet(dir) // duplicate delivery
    val stream = EventStreams.readEventStream(spark, dir)
    EventStreams.runToMemory(EventStreams.dedupStream(stream), "deduped")
    assert(spark.table("deduped").count() == 100)
  }

  test("stream-stream join with watermarks equals the oracle-checked batch twin") {
    // two independent streaming inputs from the same replay dir; the join
    // carries both-side watermarks + a 1h event-time bound (state eviction)
    val clicks = EventStreams.readEventStream(spark, replayDir)
      .filter(col("event_type") === "click")
    val purchases = EventStreams.readEventStream(spark, replayDir)
      .filter(col("event_type") === "purchase")
    EventStreams.runToMemory(
      EventStreams.attributeClicks(clicks, purchases), "attributed")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("purchase_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = key(spark.table("attributed"))
    val batch = key(graft.queries.EventsBatch.defs("evt_stream_join")(spark, sf))
    // inner stream-stream join emits every match in the single AvailableNow
    // batch (watermarks only bound STATE, not inner-join emission) → exact
    assert(streamed == batch,
      s"streamed ${streamed.size} pairs != batch ${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("update mode re-emits a group's revised aggregate each micro-batch") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-upd").toString + "/in"
    def write(ids: Seq[Long]) = ids
      .map(i => (i, java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 1L,
        "click", 1.0, """{"k": 1}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(dir)
    write(Seq(1L, 2L))
    val agg = EventStreams.readEventStream(spark, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("upd_out")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update).start()
    q.processAllAvailable()
    write(Seq(3L))
    q.processAllAvailable()
    q.stop()
    // update mode: the click group is re-emitted with its revised count —
    // both the n=2 and the n=3 versions land in the append-only sink
    val ns = spark.table("upd_out").filter(col("event_type") === "click")
      .select("n").collect().map(_.getLong(0)).sorted.toSeq
    assert(ns == Seq(2L, 3L), s"expected revisions [2, 3], got $ns")
  }

  test("two-batch replay: watermark finalizes windows once and drops late data") {
    import spark.implicits._
    def ev(id: Long, hhmm: String, v: Double) =
      (id, java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00"), 1L, "click", v,
        """{"k": 1}""")
    val dir = Files.createTempDirectory("graft-late").toString + "/in"
    def write(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(dir)
    // batch 1: one event per hour 00..05; max ts 05:30 → watermark 05:20
    write((0 to 5).map(h => ev(h, f"$h%02d:30", 1.0)))
    val q = EventStreams.tumblingCounts(
        EventStreams.readEventStream(spark, dir))
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("late_demo").start()
    q.processAllAvailable()
    // batch 2: a LATE event in hour 00 (far past the 10 min watermark —
    // must be dropped) plus a fresh hour-06 event advancing the watermark
    write(Seq(ev(100, "00:40", 1.0), ev(101, "06:30", 1.0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("late_demo")
      .select("win_start", "n").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1)))
    // append mode: every finalized window emitted exactly once
    assert(rows.map(_._1).distinct.length == rows.length,
      s"window re-emitted: ${rows.toSeq}")
    val h0 = rows.find(_._1.startsWith("2024-01-01 00:00"))
    assert(h0.exists(_._2 == 1L),
      s"late hour-00 event must be dropped, got $h0 in ${rows.toSeq}")
    // hour-05 window finalizes once the hour-06 event advances the watermark
    assert(rows.exists(_._1.startsWith("2024-01-01 05:00")),
      s"hour-05 window should be finalized by batch 2: ${rows.toSeq}")
  }

  test("foreachBatch sink: stream lands in JDBC exactly once per batch") {
    import org.apache.spark.sql.streaming.Trigger
    val url =
      s"jdbc:derby:${Files.createTempDirectory("graft-fb")}/db;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val ckpt = Files.createTempDirectory("graft-fb-ckpt").toString
    val stream = EventStreams.readEventStream(spark, replayDir)
      .filter(col("event_type") === "signup")
      .select("event_id", "user_id", "value")
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.etl.Writers.appendJdbc(batch, url, "signups_jdbc", props)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val back = spark.read.jdbc(url, "signups_jdbc", props)
    val want = t(spark, sf, "events").filter(col("event_type") === "signup")
    assert(back.count() == want.count())
    assert(math.abs(back.agg(sum("value")).collect()(0).getDouble(0) -
      want.agg(sum("value")).collect()(0).getDouble(0)) < 1e-6)
  }

  test("foreachBatch + mergeUpsert: streaming CDC apply keeps one row per key") {
    import org.apache.spark.sql.streaming.Trigger
    // the streaming upsert sink: each micro-batch's per-user totals are
    // MERGED into a keyed parquet table (Writers.mergeUpsert), so the
    // table holds exactly one current row per user however many batches
    // replayed — the CDC-apply pattern over a plain parquet warehouse
    val target = Files.createTempDirectory("graft-ups").toString + "/totals"
    val ckpt = Files.createTempDirectory("graft-ups-ckpt").toString
    val stream = EventStreams.readEventStream(spark, replayDir)
      .select("user_id", "value")
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val delta = batch.groupBy("user_id")
          .agg(sum("value").as("total"), count(lit(1)).as("n"))
        val merged =
          if (new java.io.File(target).exists()) {
            val cur = spark.read.parquet(target)
            // additive merge: combine the existing row with the delta,
            // then upsert the combined rows by key
            val combined = cur.join(delta, Seq("user_id"), "inner")
              .select(col("user_id"),
                (cur("total") + delta("total")).as("total"),
                (cur("n") + delta("n")).as("n"))
              .unionByName(delta.join(cur, Seq("user_id"), "left_anti"))
            graft.etl.Writers.mergeUpsert(cur, combined, Seq("user_id"))
          } else delta
        // localCheckpoint breaks the lineage onto the files being replaced
        graft.etl.Writers.writeDimension(merged.localCheckpoint(), target)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val back = spark.read.parquet(target)
    val want = t(spark, sf, "events").groupBy("user_id")
      .agg(sum("value").as("total"), count(lit(1)).as("n"))
    assert(back.count() == want.count(), "one row per user")
    val diff = back.as("b").join(want.as("w"), "user_id")
      .filter(abs(col("b.total") - col("w.total")) > 1e-6 ||
        col("b.n") =!= col("w.n"))
    assert(diff.isEmpty, "merged totals must equal the batch ground truth")
  }

  test("left-outer stream-stream join: matches exact, null-extension watermark-gated") {
    val clicks = EventStreams.readEventStream(spark, replayDir)
      .filter(col("event_type") === "click")
    val purchases = EventStreams.readEventStream(spark, replayDir)
      .filter(col("event_type") === "purchase")
    EventStreams.runToMemory(
      EventStreams.attributeClicks(clicks, purchases, "left_outer"), "attr_left")
    val streamed = spark.table("attr_left")
    val batch = graft.queries.EventsBatch.defs("evt_stream_join_left")(spark, sf)
    def matched(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("click_id").isNotNull)
        .select("purchase_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // matched rows are exact (inner-path semantics)
    assert(matched(streamed) == matched(batch))
    // null-extended rows: a subset of the batch ones — streaming may only
    // declare "no click" for purchases whose match window is fully past the
    // click watermark, and the final watermark's stragglers stay in state
    def unmatched(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("click_id").isNull).select("purchase_id").collect()
        .map(_.getLong(0)).toSet
    assert(unmatched(streamed).subsetOf(unmatched(batch)))
    assert(streamed.count() >= matched(batch).size)
  }

  /** Spark's own stream-stream join of the attribution expression: the
    * reference the keyed-state streamed path of `attributeClicks` must
    * reproduce row for row. */
  def symmetricJoin(clicks: DataFrame, purchases: DataFrame,
                    joinType: String): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"),
        col("user_id").as("click_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val p = purchases.select(col("event_id").as("purchase_id"),
        col("user_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "10 minutes")
    p.join(c,
        col("user_id") === col("click_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("interval 1 hour"),
        joinType)
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("purchase_value"), col("click_id"), col("click_ts"))
  }

  /** Seeded replay of `nFiles` event files, read one per micro-batch.
    * Each file's events straddle its 40-minute step of the event-time
    * frontier by ±1 hour, so files overlap out of order, and a tenth of
    * the rows lag 2–4 hours: older than the watermark when they arrive.
    * Times sit on a 10-minute grid (the watermark delay) moved by 0, ±1 µs
    * or ±1 ms, so watermark, eviction and horizon bounds are hit exactly
    * and from either side. The second file adds a click and a purchase
    * with no user and two with no time. */
  def disorderedReplay(seed: Long, nFiles: Int): String = {
    val rng = new scala.util.Random(seed)
    val dir = Files.createTempDirectory("graft-attr").toString + "/in"
    new java.io.File(dir).mkdirs()
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond *
      1000000L
    val step = 10L * 60 * 1000000
    val jitter = Array(0L, 1L, -1L, 1000L, -1000L)
    val stamp = System.currentTimeMillis() - 600000L
    (0 until nFiles).foreach { i =>
      val rows = (0 until 30).map { j =>
        val slot =
          if (rng.nextInt(10) == 0) 4 * i - 12 - rng.nextInt(12)
          else 4 * i + rng.nextInt(13) - 6
        (i * 1000L + j,
          Option(t0 + slot * step + jitter(rng.nextInt(jitter.length))),
          Option(1L + rng.nextInt(5)),
          if (rng.nextBoolean()) "click" else "purchase",
          rng.nextInt(10000) / 100.0)
      } ++ (if (i != 1) Nil else Seq(
        (1900L, Option(t0 + 4 * step), None, "click", 1.0),
        (1901L, Option(t0 + 4 * step + 1), None, "purchase", 2.0),
        (1902L, None, Option(1L), "click", 3.0),
        (1903L, None, Option(1L), "purchase", 4.0)))
      val tmp = s"$dir.tmp$i"
      spark.createDataFrame(rows).toDF("event_id", "us", "user_id",
          "event_type", "value")
        .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
          col("user_id"), col("event_type"), col("value"),
          lit(null).cast("string").as("props"))
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val to = new java.io.File(dir, s"part-$i.parquet")
      Files.move(part.toPath, to.toPath)
      to.setLastModified(stamp + i * 1000L)
    }
    dir
  }

  type AttrRow = (Long, Option[Long], Long, Double, Option[Long], Option[Long])

  /** Replays `dir` one file per micro-batch through `attribute` and
    * returns every row the query emitted, sorted, times in µs. */
  def replayAttribution(session: SparkSession, dir: String,
      attribute: (DataFrame, DataFrame) => DataFrame): Seq[AttrRow] = {
    val s = session.readStream.schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val name = s"attr_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = attribute(s.filter(col("event_type") === "click"),
        s.filter(col("event_type") === "purchase"))
      .writeStream.format("memory").queryName(name).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "replay did not finish")
    q.exception.foreach(e => throw e)
    session.table(name)
      .select(col("purchase_id"), col("user_id"),
        unix_micros(col("purchase_ts")), col("purchase_value"),
        col("click_id"), unix_micros(col("click_ts")))
      .collect().map { r =>
        def opt(i: Int) = Option(r.get(i)).map(_.asInstanceOf[Long])
        (r.getLong(0), opt(1), r.getLong(2), r.getDouble(3), opt(4), opt(5))
      }
      .toSeq.sorted
  }

  /** Streamed `attributeClicks` ≡ the symmetric join, inner and
    * left_outer, on a disordered replay with late rows, in a fresh session
    * on the given state store provider (None = the HDFS-backed default). */
  def attributionMatchesJoin(provider: Option[String]): Unit = {
    val session = spark.newSession()
    provider.foreach(
      session.conf.set("spark.sql.streaming.stateStore.providerClass", _))
    val dir = disorderedReplay(seed = 7L, nFiles = 5)
    Seq("inner", "left_outer").foreach { jt =>
      val got = replayAttribution(session, dir,
        EventStreams.attributeClicks(_, _, jt))
      val want = replayAttribution(session, dir, symmetricJoin(_, _, jt))
      val (extra, missing) = (got.diff(want), want.diff(got))
      assert(extra.isEmpty && missing.isEmpty, s"$jt: streamed ${got.size}" +
        s" rows, join ${want.size}; only streamed: $extra; only join: $missing")
      assert(got.exists(_._5.isDefined), s"$jt: no pairs emitted")
      if (jt == "left_outer")
        assert(got.exists(_._5.isEmpty), "no purchase null-extended")
    }
    // the late rows are really dropped: the same files as one batch pair
    // more purchases than the replay does
    val events = session.read.schema(EventStreams.eventSchema).parquet(dir)
    val all = EventStreams.attributeClicks(
      events.filter(col("event_type") === "click"),
      events.filter(col("event_type") === "purchase")).count()
    val replayed = replayAttribution(session, dir,
      EventStreams.attributeClicks(_, _, "inner")).size
    assert(replayed < all, s"replay paired $replayed, one batch $all")
  }

  test("streamed attribution equals Spark's stream-stream join (HDFS state store)") {
    attributionMatchesJoin(None)
  }

  test("streamed attribution equals Spark's stream-stream join (RocksDB state store)") {
    attributionMatchesJoin(Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
  }

  /** Every row `op` emits over the files of `dir`, read one per
    * micro-batch through a checkpointed, batch-id-keyed sink, as strings.
    * With `restartAfter = Some(k)` the query first sees only the first k
    * files and stops; a new query then resumes from the same checkpoint,
    * in `resumeIn`, with the rest of the files in place. The checkpoint is
    * `base/ckpt`. */
  def replayRows(session: SparkSession, dir: String, restartAfter: Option[Int],
      op: DataFrame => DataFrame, resumeIn: Option[SparkSession] = None,
      base: String = Files.createTempDirectory("graft-restart").toString): Seq[String] = {
    import org.apache.spark.sql.streaming.Trigger
    val (in, ckpt) = (s"$base/in", s"$base/ckpt")
    new java.io.File(in).mkdirs()
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    // a re-run batch (same id) replaces its rows: an idempotent sink
    val out = scala.collection.concurrent.TrieMap.empty[Long, Seq[String]]
    def stage(fs: Seq[java.io.File]): Unit = fs.foreach(f => Files.copy(
      f.toPath, new java.io.File(in, f.getName).toPath,
      java.nio.file.StandardCopyOption.COPY_ATTRIBUTES))
    def run(session: SparkSession): Unit = {
      val q = op(session.readStream.schema(EventStreams.eventSchema)
          .option("maxFilesPerTrigger", 1).parquet(in))
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, id: Long) =>
          out(id) = df.collect().map(_.toString).toSeq; ()
        }
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "replay did not finish")
      q.exception.foreach(e => throw e)
    }
    val k = restartAfter.getOrElse(files.size)
    stage(files.take(k)); run(session)
    if (k < files.size) { stage(files.drop(k)); run(resumeIn.getOrElse(session)) }
    out.values.flatten.toSeq.sorted
  }

  /** `op` restarted from its checkpoint after 3 of 6 disordered files
    * emits the same multiset of rows as one uninterrupted run. */
  def restartEquivalent(provider: Option[String], noDataBatches: Boolean,
      op: DataFrame => DataFrame): Unit = {
    val session = spark.newSession()
    provider.foreach(
      session.conf.set("spark.sql.streaming.stateStore.providerClass", _))
    // with no-data batches on (Spark's default), AvailableNow ends the
    // first run with a watermark-only batch that evicts state before
    // batch k + 1's late rows can still join it, which the uninterrupted
    // run never does; off, a stopped query runs no further batch
    session.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
      noDataBatches.toString)
    val dir = disorderedReplay(seed = 11L, nFiles = 6)
    val whole = replayRows(session, dir, None, op)
    val restarted = replayRows(session, dir, Some(3), op)
    assert(whole.nonEmpty, "the replay emitted nothing")
    val (extra, missing) = (restarted.diff(whole), whole.diff(restarted))
    assert(extra.isEmpty && missing.isEmpty, s"restarted ${restarted.size}" +
      s" rows, uninterrupted ${whole.size}; only restarted: $extra;" +
      s" only uninterrupted: $missing")
  }

  val restartOps: Seq[(String, DataFrame => DataFrame)] =
    ("event-time sessionization", { (in: DataFrame) =>
      import in.sparkSession.implicits._
      EventStreams.sessionizeEventTime(
        in.filter(col("user_id").isNotNull && col("ts").isNotNull)
          .selectExpr("event_id", "ts", "user_id", "event_type", "value")
          .as[EventStreams.Ev]).toDF()
    }) +: Seq("inner", "left_outer").map { jt =>
      (s"$jt attribution", (in: DataFrame) => EventStreams.attributeClicks(
        in.filter(col("event_type") === "click"),
        in.filter(col("event_type") === "purchase"), jt))
    } :+ ("tumbling counts", EventStreams.tumblingCounts _) :+
      ("dedup", EventStreams.dedupStream _)

  Seq("HDFS" -> None, "RocksDB" -> Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    .foreach { case (store, provider) =>
      restartOps.foreach { case (name, op) =>
        test(s"restarted $name equals an uninterrupted run ($store state store)") {
          restartEquivalent(provider, noDataBatches = false, op)
        }
        // Known defect at Spark's default (ROADMAP.md, net state): the
        // first run's trailing watermark-only batch evicts state early.
        // Reported pending while the rows differ; fails once they match,
        // so drop the wrapper then.
        test(s"restarted $name equals an uninterrupted run with no-data batches on ($store state store)") {
          pendingUntilFixed {
            restartEquivalent(provider, noDataBatches = true, op)
          }
        }
      }
    }

  private val rocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** A session on `provider` (None = the HDFS-backed default) without
    * no-data micro-batches (see `restartEquivalent`), whose checkpoints go
    * through Hadoop's stock `LocalFs` when `stock`, else through the
    * engine's `NioLocalFs`, which `GraftExtensions` installs. */
  def checkpointSession(provider: Option[String], stock: Boolean): SparkSession = {
    import org.apache.hadoop.fs.AbstractFileSystem
    val session = spark.newSession()
    provider.foreach(
      session.conf.set("spark.sql.streaming.stateStore.providerClass", _))
    session.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    if (stock) session.conf.set("fs.AbstractFileSystem.file.impl",
      classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    val fs = AbstractFileSystem.get(new java.net.URI("file:///"),
      session.sessionState.newHadoopConf()).getClass
    assert(fs == (if (stock) classOf[org.apache.hadoop.fs.local.LocalFs]
      else classOf[graft.etl.NioLocalFs]), s"checkpoint filesystem $fs")
    session
  }

  /** Every file and directory under `root` with its POSIX permissions;
    * the UUIDs in temp and RocksDB file names masked. */
  def modeTree(root: String): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val r = java.nio.file.Paths.get(root)
    Files.walk(r).iterator.asScala.filter(_ != r).map { p =>
      r.relativize(p).toString.replaceAll(
        "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>") ->
        java.nio.file.attribute.PosixFilePermissions.toString(
          Files.getPosixFilePermissions(p))
    }.toSeq.sorted
  }

  Seq("HDFS" -> None, "RocksDB" -> Some(rocksDb)).foreach { case (store, provider) =>
    test(s"a replay's checkpoint has the same files and modes under NioLocalFs as under stock LocalFs ($store state store)") {
      val dir = disorderedReplay(seed = 11L, nFiles = 6)
      val trees = Seq(true, false).map { stock =>
        val base = Files.createTempDirectory("graft-ckpt-fs").toString
        val session = checkpointSession(provider, stock)
        // which SST files a RocksDB commit uploads depends on whether a
        // background compaction finished first; compacting in the commit
        // makes the set the same in every run
        session.conf.set("spark.sql.streaming.stateStore.rocksdb.compactOnCommit", "true")
        val rows = replayRows(session, dir, None, EventStreams.dedupStream _, base = base)
        (rows, modeTree(s"$base/ckpt"))
      }
      val (stockTree, nioTree) = (trees(0)._2, trees(1)._2)
      assert(trees(0)._1.nonEmpty && trees(0)._1 == trees(1)._1, "replays differ")
      assert(stockTree.exists(_._1.startsWith("state/")), s"no state files: $stockTree")
      assert(stockTree.exists(_._1.endsWith(".crc")), s"no checksums: $stockTree")
      val (onlyStock, onlyNio) = (stockTree.diff(nioTree), nioTree.diff(stockTree))
      assert(onlyStock.isEmpty && onlyNio.isEmpty,
        s"only under LocalFs: $onlyStock; only under NioLocalFs: $onlyNio")
    }

    test(s"a checkpoint written under stock LocalFs restarts under NioLocalFs with the same rows ($store state store)") {
      val dir = disorderedReplay(seed = 11L, nFiles = 6)
      val op = restartOps.find(_._1 == "left_outer attribution").get._2
      val nio = checkpointSession(provider, stock = false)
      val whole = replayRows(nio, dir, None, op)
      val restarted = replayRows(checkpointSession(provider, stock = true), dir,
        Some(3), op, resumeIn = Some(nio))
      assert(whole.nonEmpty, "the replay emitted nothing")
      val (extra, missing) = (restarted.diff(whole), whole.diff(restarted))
      assert(extra.isEmpty && missing.isEmpty, s"restarted ${restarted.size}" +
        s" rows, uninterrupted ${whole.size}; only restarted: $extra;" +
        s" only uninterrupted: $missing")
    }
  }

  test("runToMemory returns each batch's job time apart from its commit time") {
    val progress = EventStreams.runToMemory(
      EventStreams.dedupStream(EventStreams.readEventStream(spark, replayDir)),
      "dedup_progress")
    assert(progress.nonEmpty)
    progress.foreach { p =>
      Seq("addBatch", "walCommit", "commitOffsets").foreach(k =>
        assert(p.durationMs.containsKey(k), s"batch ${p.batchId}: no $k in ${p.durationMs}"))
    }
    val ops = progress.last.stateOperators
    assert(ops.length == 1 && ops.head.numStateStoreInstances ==
      spark.conf.get("spark.sql.shuffle.partitions").toLong, ops.toSeq)
  }

  test("streamed attribution keeps one state store per shuffle partition") {
    val s = EventStreams.readEventStream(spark, replayDir)
    val q = EventStreams.attributeClicks(
        s.filter(col("event_type") === "click"),
        s.filter(col("event_type") === "purchase"))
      .writeStream.format("memory").queryName("attr_stores")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val ops = q.lastProgress.stateOperators
    assert(ops.length == 1, s"stateful operators: ${ops.map(_.operatorName).toSeq}")
    assert(ops.head.numStateStoreInstances ==
      spark.conf.get("spark.sql.shuffle.partitions").toLong)
    val plan = q.asInstanceOf[
      org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.toString
    assert(!plan.contains("StreamingSymmetricHashJoin"), plan)
  }

  test("attributeClicks rejects join types other than inner and left_outer") {
    val ev = t(spark, sf, "events")
    val s = EventStreams.readEventStream(spark, replayDir)
    Seq(ev, s).foreach { in =>
      val e = intercept[IllegalArgumentException](
        EventStreams.attributeClicks(in, in, "right_outer"))
      assert(e.getMessage.contains("inner") &&
        e.getMessage.contains("left_outer"), e.getMessage)
    }
  }

  test("event-time sessionization closes sessions as the watermark passes") {
    import spark.implicits._
    val src = EventStreams.readEventStream(spark, replayDir)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreams.Ev]
    EventStreams.runToMemory(
      EventStreams.sessionizeEventTime(src).toDF(), "et_sessions")
    val out = spark.table("et_sessions")
    // sessions closed by an in-data gap are emitted; per-user trailing
    // sessions may close too once the final watermark passes them — so the
    // count sits between the gap-closed floor and the batch total
    val batchSessions = graft.queries.EventsBatch.defs("evt_session_window")(spark, sf)
    val floor = batchSessions.count() -
      batchSessions.select("user_id").distinct().count()
    assert(out.count() >= floor, s"${out.count()} < gap-closed floor $floor")
    assert(out.count() <= batchSessions.count())
    // every closed session matches a batch gaps-and-islands session exactly
    val got = out.select("user_id", "n_events", "total_value").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6))).toSet
    val want = batchSessions
      .select("user_id", "n_events", "session_value").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6))).toSet
    assert(got.subsetOf(want), s"phantom sessions: ${got -- want}")
  }

  test("streamed threshold alerts equal the batch twin exactly (stateless gate)") {
    val stream = EventStreams.readEventStream(spark, replayDir)
    val baseline = EventStreams.typeBaseline(t(spark, sf, "events"))
      .localCheckpoint()
    EventStreams.runToMemory(
      EventStreams.thresholdAlerts(stream, baseline), "alerts_out")
    val streamed = spark.table("alerts_out").collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(3) * 1e9))).toSet
    val batch = graft.queries.EventsBatch.defs("evt_threshold_alerts")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(3) * 1e9))).toSet
    assert(streamed == batch,
      s"streamed ${streamed.size} alerts != batch ${batch.size}")
  }

  test("transformWithState running totals equal batch per-user aggregates") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val src = EventStreams.readEventStream(spark, replayDir)
        .selectExpr("event_id", "ts", "user_id", "event_type", "value")
        .as[EventStreams.Ev]
      EventStreams.runToMemory(EventStreams.runningTotals(src).toDF(), "tws_totals")
      // one replayed micro-batch → one emission per user holding final totals
      val got = spark.table("tws_totals")
        .groupBy("user_id").agg(max("n_events").as("n"), max("total_value").as("v"))
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
      val want = t(spark, sf, "events").groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("value").as("v"))
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
      assert(got.keySet == want.keySet)
      want.foreach { case (u, (n, v)) =>
        assert(got(u)._1 == n && math.abs(got(u)._2 - v) < 1e-6, s"user $u") }
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("checkpoint recovery: a restarted query resumes offsets AND state") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    // the exactly-once restart contract: a NEW query object pointed at the
    // SAME checkpoint must (a) skip files already committed (offset log
    // recovered), and (b) keep aggregating into the pre-restart totals
    // (state store recovered). Update-mode output makes both observable:
    // run 2 must emit ONLY the group touched by the new file, with its
    // cumulative — not restarted — aggregate.
    val base = Files.createTempDirectory("graft-ckpt").toString
    val src = s"$base/src"; val ckpt = s"$base/ckpt"
    val emitted =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("user_id BIGINT, v BIGINT").parquet(src)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          val rows = df.collect()
          emitted.synchronized { rows.foreach(r => emitted +=
            ((id, r.getLong(0), r.getLong(1), r.getLong(2)))) }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000); q.stop()
      q.exception.foreach(e => fail(s"query failed: $e"))
    }
    Seq((1L, 10L), (2L, 20L)).toDF("user_id", "v")
      .coalesce(1).write.mode("append").parquet(src)
    runOnce()
    val run1 = emitted.toList
    assert(run1.map(t => (t._2, t._3, t._4)).toSet ==
      Set((1L, 1L, 10L), (2L, 1L, 20L)), s"run 1 emitted $run1")

    emitted.clear()
    Seq((1L, 5L)).toDF("user_id", "v")
      .coalesce(1).write.mode("append").parquet(src)
    runOnce() // brand-new query instance, same checkpoint
    val run2 = emitted.toList
    // user 1: count jumped 1→2 (state recovered, file 1 NOT re-read —
    // a from-scratch rerun would emit n=1 for a fresh state or re-emit
    // user 2 if the first file were reprocessed)
    assert(run2.map(t => (t._2, t._3, t._4)) == List((1L, 2L, 15L)),
      s"run 2 emitted $run2")
    // batch ids continue the recovered write-ahead log, not restart at 0
    assert(run2.head._1 > run1.map(_._1).max,
      s"batch id did not advance across restart: $run1 → $run2")
  }

  test("session windows via session_window: streamed subset of batch") {
    val stream = EventStreams.readEventStream(spark, replayDir)
    EventStreams.runToMemory(EventStreams.sessionAgg(stream), "sessions")
    val streamed = spark.table("sessions")
      .select("user_id", "session_start", "n_events").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    val batch = graft.queries.EventsBatch.defs("evt_session_window")(spark, sf)
      .select("user_id", "session_start", "n_events").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(streamed.subsetOf(batch))
    assert(streamed.nonEmpty)
  }
}
