package graft
import graft.core.Ckpt._
import graft.core.Session

import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStreams

/** Streaming CLI surface: replays an events parquet directory through a
  * chosen streaming operator into an in-memory sink and prints the result —
  * the runnable proof that the oracle-checked batch expressions run
  * unchanged under `readStream` + watermark.
  *
  *   runMain graft.Stream <eventsDir|sfDir>
  *     [tumbling|sliding|session|dedup|totals|join|sessions_et|gate]
  *
  * It prints one line per micro-batch, its Spark job time (`addBatch_ms`)
  * apart from its checkpoint commits (`commit_ms`: `walCommit` +
  * `commitOffsets`), then the last batch's state stores.
  *
  * `<eventsDir>` must contain micros-timestamp events parquet (e.g. written
  * by `Tables.t(spark, sf, "events").write.parquet(dir)`); the `gate` op
  * takes an sf dir instead.
  */
object Stream {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Stream <eventsDir> [op]")
    val dir = args(0)
    val op = if (args.length > 1) args(1) else "tumbling"
    val spark = Session.builder("graft-stream")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // lazy: the `gate` mode takes an sf dir, not an events parquet dir
    lazy val src = EventStreams.readEventStream(spark, dir)
    import spark.implicits._
    val (out, mode) = op match {
      case "tumbling" => (EventStreams.tumblingCounts(src), OutputMode.Append)
      case "sliding"  => (EventStreams.slidingAvg(src), OutputMode.Append)
      case "session"  => (EventStreams.sessionAgg(src), OutputMode.Append)
      case "dedup"    => (EventStreams.dedupStream(src), OutputMode.Append)
      case "totals"   => (EventStreams.runningTotals(
        src.selectExpr("event_id", "ts", "user_id", "event_type", "value")
          .as[EventStreams.Ev]).toDF(), OutputMode.Append)
      case "join"     =>
        // stream-stream: clicks and purchases as two independent streams
        val clicks = EventStreams.readEventStream(spark, dir)
          .filter($"event_type" === "click")
        val purchases = EventStreams.readEventStream(spark, dir)
          .filter($"event_type" === "purchase")
        (EventStreams.attributeClicks(clicks, purchases), OutputMode.Append)
      case "sessions_et" => (EventStreams.sessionizeEventTime(
        src.selectExpr("event_id", "ts", "user_id", "event_type", "value")
          .as[EventStreams.Ev]).toDF(), OutputMode.Append)
      case "gate" =>
        // near-dup ingest gate: args(0) is an sf dir; 10% of documents
        // replay as the incoming stream against the other 90%'s LSH index
        import org.apache.spark.sql.functions.{col, lit, pmod}
        val docs = graft.core.Tables.t(spark, args(0), "documents")
        val index = graft.streaming.DedupGate.corpusIndex(
          docs.filter(pmod(col("doc_id"), lit(10)) < 9)).ckpt()
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-gate-cli").toString + "/in"
        docs.filter(pmod(col("doc_id"), lit(10)) === 9)
          .select("doc_id", "text").write.parquet(tmp)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType)))
        val incoming = spark.readStream.schema(schema).parquet(tmp)
        (graft.streaming.DedupGate.gate(incoming, index, minJaccard = 0.2),
          OutputMode.Append)
      case other => sys.error(
        s"unknown op '$other' (tumbling|sliding|session|dedup|totals|join|sessions_et|gate)")
    }
    val progress = EventStreams.runToMemory(out, "stream_out", mode)
    progress.foreach { p =>
      def ms(k: String): Long = Option(p.durationMs.get(k)).fold(0L)(_.longValue)
      println(s"[stream] batch=${p.batchId} rows=${p.numInputRows}" +
        s" addBatch_ms=${ms("addBatch")}" +
        s" commit_ms=${ms("walCommit") + ms("commitOffsets")}")
    }
    progress.lastOption.foreach(_.stateOperators.foreach { s =>
      println(s"[stream] state op=${s.operatorName} stores=${s.numStateStoreInstances}" +
        s" rows=${s.numRowsTotal} commit_ms=${s.commitTimeMs}" +
        s" memory_bytes=${s.memoryUsedBytes}")
    })
    val result = spark.table("stream_out")
    println(s"[stream] op=$op rows=${result.count()}")
    result.show(10, truncate = false)
    spark.stop()
  }
}
