package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run: set-up (session, inputs from the seed, index builds,
  * untimed warm passes over the ops), then a closed loop of whole passes
  * over the ops with one client until `seconds` of op time have elapsed.
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir> <expected.tsv> <traceFile>
  *
  * Writes the metrics to `<workDir>/result.json`. With trace 1 the window
  * is split in three: the middle third runs with the listener, spans and
  * plan inspection on and gives the per-layer metrics; its op rate against
  * that of the untraced thirds around it is the tracing overhead. */
object Main {
  val timeoutS = 30.0

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, data, work, expectedPath, traceFile) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Session.start(work, cores)
    def uptime() = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val sessionS = uptime()
    val rng = new scala.util.Random(seed)
    val tracer = new Tracer(spark)
    val wl = workload match {
      case "analytics" => Workloads.analytics(spark, data, work,
        new Workloads.Expectations(expectedPath), rng, seed, timeoutS)
      case "ingest" => Workloads.ingest(spark, data, work, rng, seed, timeoutS)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val stagedS = uptime()
    val runner = new Runner(spark, tracer, timeoutS)
    val warm = (1 to wl.warmPasses).flatMap(_ => wl.ops.map(runner.run(_, "warm")))
    val setupS = uptime()
    println(f"[perfbench] setup: session $sessionS%.2f s, inputs ${stagedS - sessionS}%.2f s, " +
      f"${wl.warmPasses} warm passes ${setupS - stagedS}%.2f s over ${wl.ops.size} ops")

    /** Whole passes over the ops, at least `minPasses`, until `budget`
      * seconds of op plus release time have elapsed (or three times that in
      * wall time, checks included). Whole passes keep the window's
      * composition the same from run to run. */
    def window(budget: Double, segment: String, minPasses: Int): (Seq[Rec], Double) = {
      val recs = mutable.ArrayBuffer.empty[Rec]
      var timed = 0.0
      var passes = 0
      val wallStart = System.nanoTime()
      while (passes < minPasses || (timed < budget && (System.nanoTime() - wallStart) / 1e9 < 3 * budget)) {
        passes += 1
        val before = timed
        wl.ops.foreach { op =>
          val r = runner.run(op, segment)
          recs += r
          timed += r.latency + r.release
        }
        System.err.println(f"[perfbench] $segment pass: ${timed - before}%.3f s")
      }
      (recs.toSeq, timed)
    }

    val result = mutable.LinkedHashMap.empty[String, (Double, String)]
    val all = mutable.ArrayBuffer.empty[Rec] ++= warm
    if (!traced) {
      val (recs, timed) = window(seconds, "window", wl.minPasses)
      all ++= recs
      val ok = recs.filter(_.failure.isEmpty).map(_.latency)
      val heap = retainedHeapMb()
      result ++= Seq(
        "setup_s" -> (setupS, "s"),
        "ops_per_s" -> (ok.size / timed, "1/s"),
        "op_p50_s" -> (pct(ok, 0.5), "s"),
        "op_p90_s" -> (pct(ok, 0.9), "s"),
        "retained_heap_mb" -> (heap, "MB"))
      // figures outside the result's metric set: failures are 0 on a
      // correct run, and the ingest-only figures have no value elsewhere
      val info = Seq(
        ("failed_frac", frac(all.toSeq), "ratio"),
        ("latency_samples", ok.size.toDouble, "count")) ++ (if (workload != "ingest") Nil else Seq(
        ("rows_per_s", wl.rowsPerCycle * (recs.size.toDouble / wl.ops.size) / timed, "1/s"),
        ("stored_bytes_per_input_byte", wl.storedRatio(), "ratio")))
      info.foreach { case (k, v, u) => println(s"$k = $v $u") }
    } else {
      // untraced, traced, untraced: comparing the traced segment with the
      // two around it cancels the warm-up that still speeds passes up
      val (before, beforeTimed) = window(seconds / 3, "untraced", 1)
      val gc0 = gcSeconds()
      tracer.start()
      graft.core.Ckpt.recording = true
      val (recs, timed) = window(seconds / 3, "traced", 1)
      graft.core.Ckpt.recording = false
      tracer.stop()
      val gcS = gcSeconds() - gc0
      val (after, afterTimed) = window(seconds / 3, "untraced", 1)
      val plain = before ++ after
      val plainTimed = beforeTimed + afterTimed
      all ++= plain ++= recs
      val layers = new Layers(tracer, cores, warm.take(wl.ops.size), wl, plain, plainTimed)
      val untracedRate = plain.count(_.failure.isEmpty) / plainTimed
      val tracedRate = recs.count(_.failure.isEmpty) / timed
      result ++= layers.metrics(gcS)
      result ++= Seq(
        "trace.ops_per_s" -> (tracedRate, "1/s"),
        "trace.untraced_ops_per_s" -> (untracedRate, "1/s"),
        "trace.overhead_frac" -> (1.0 - tracedRate / untracedRate, "ratio"))
      tracer.write(traceFile)
      println(s"span_file = $traceFile (${tracer.spans.size} spans)")
    }
    runner.stop()
    val failures = all.flatMap(_.failure)
    val correct = !failures.exists(f => f.startsWith("mismatch") || f.startsWith("error"))
    val metrics = result.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    val json = Json.obj(Seq("correct" -> correct.toString, "attempted" -> all.size.toString,
      "failed" -> failures.size.toString, "metrics" -> Json.obj(metrics)))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/result.json"), json.getBytes("UTF-8"))
    spark.stop()
  }

  def frac(rs: Seq[Rec]): Double = rs.count(_.failure.nonEmpty).toDouble / rs.size

  /** Harrell-Davis estimate of the p-quantile: a mean of all order
    * statistics weighted by a Beta(p(n+1), (1-p)(n+1)) distribution. A
    * window holds only 22-24 latencies of a few op kinds, and an
    * interpolation between two ranks then lands on one op's latency at the
    * edge of its cluster: the spread of op_p90_s over ten seeds was 0.10
    * (analytics) and 0.28 (ingest) that way, against 0.04 and 0.18 with
    * this estimate. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0
    else {
      val (a, b) = (p * (n + 1), (1 - p) * (n + 1))
      def cdf(x: Double) = org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
      s.indices.map(i => s(i) * (cdf((i + 1).toDouble / n) - cdf(i.toDouble / n))).sum
    }
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  /** Driver heap in use after full collections. */
  def retainedHeapMb(): Double = {
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
