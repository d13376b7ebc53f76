package perfbench

import scala.collection.mutable

/** Per-layer metrics of the traced half of a run. Times and counts are
  * means per op of the layer; a layer the workload does not call reads 0. */
final class Layers(tracer: Tracer, cores: Int, warm: Seq[Rec], wl: Workload,
                   plain: Seq[Rec], plainTimed: Double) {
  private val spans = tracer.spans.toSeq
  private val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)
  private val ops = spans.filter(s => s.name == "op" && s.attrs.get("segment").contains("traced") &&
    s.attrs.get("ok").contains("true"))

  private def kids(s: Span): Seq[Span] = children.getOrElse(s.id, Nil)
  private def phase(op: Span, name: String): Seq[Span] =
    kids(op).filter(_.name == s"${op.attrs("layer")}.$name")
  private def jobs(s: Span): Seq[Span] = kids(s).filter(_.name == "spark.job")
  private def counters(op: Span): Seq[Counters] =
    (op +: kids(op).filter(k => k.name != "verify")).flatMap(s => tracer.counters.get(s.id))
  private def sec(ms: Double): Double = ms / 1000.0
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def attr(s: Span, k: String): Double = s.attrs.get(k).map(_.toDouble).getOrElse(0.0)

  private def engineLayer(layer: String, families: Seq[String]): Seq[(String, (Double, String))] = {
    val os = ops.filter(_.attrs("layer") == layer)
    val build = os.map(o => phase(o, "build"))
    val exec = os.map(o => phase(o, "exec"))
    val cs = os.map(counters)
    val latency = os.map(o => attr(o, "latency_s"))
    val runMs = cs.map(_.map(_.runMs).sum.toDouble).sum
    Seq(
      s"$layer.build_s" -> (mean(build.map(b => sec(b.map(_.dur).sum))), "s"),
      s"$layer.build_jobs" -> (mean(build.map(_.map(jobs(_).size.toDouble).sum)), "count"),
      s"$layer.exec_s" -> (mean(exec.map(x => sec(x.map(_.dur).sum))), "s"),
      s"$layer.jobs" -> (mean(exec.map(_.map(jobs(_).size.toDouble).sum)), "count"),
      s"$layer.tasks" -> (mean(cs.map(_.map(_.tasks).sum.toDouble)), "count"),
      s"$layer.plan_gap_s" -> (mean(exec.map(_.map(x =>
        sec(x.dur - Tracer.covered(jobs(x).map(j => (j.start, j.end)), x.start, x.end))).sum)), "s"),
      s"$layer.task_cpu_s" -> (mean(cs.map(_.map(_.cpuNs).sum / 1e9)), "s"),
      s"$layer.busy_frac" -> (if (latency.sum == 0) 0.0 else sec(runMs) / (latency.sum * cores), "ratio"),
      s"$layer.shuffle_bytes" -> (mean(cs.map(_.map(_.shuffleWrite).sum.toDouble)), "bytes"),
      s"$layer.spill_bytes" -> (mean(cs.map(_.map(_.spill).sum.toDouble)), "bytes")) ++
      families.map(f => s"$layer.$f.s" -> (mean(os.filter(_.attrs("family") == f).map(o => attr(o, "latency_s"))), "s"))
  }

  private def flagged(flag: String): Seq[(String, (Double, String))] = {
    val os = ops.filter(_.attrs.get(flag).contains("true"))
    Seq(s"$flag.ops" -> (os.size.toDouble, "count"),
      s"$flag.exec_s" -> (mean(os.map(o => sec(phase(o, "exec").map(_.dur).sum))), "s"))
  }

  private def latencyOf(p: Span => Boolean): Double = mean(ops.filter(p).map(o => attr(o, "latency_s")))

  def metrics(gcS: Double): Seq[(String, (Double, String))] = {
    val loads = ops.filter(o => Set("load", "reload")(o.attrs("family")))
    val layout = ops.filter(_.attrs("op") == "layout")
    val streams = ops.filter(o => Set("window", "dedup", "ssjoin")(o.attrs("op")))
    val releases = ops.flatMap(kids).filter(_.name == "core.release")
    val llmWarmBuild = warm.filter(_.op.layer == "llm").map(_.phases.getOrElse("build", 0.0)).sum
    val plainOps = plain.size.toDouble / wl.ops.size
    val stored = wl.storedRatio()
    engineLayer("queries", Inventory.queryFamilies.map(_._1)) ++
      engineLayer("llm", Inventory.llmFamilies.map(_._1)) ++ Seq(
      "llm.cold_build_s" -> (llmWarmBuild, "s")) ++
      flagged("functions") ++ flagged("plans") ++ Seq(
      "etl.zones_s" -> (latencyOf(_.attrs("op") == "zones"), "s"),
      "etl.load_s" -> (latencyOf(_.attrs("family") == "load"), "s"),
      "etl.reload_s" -> (latencyOf(_.attrs("family") == "reload"), "s"),
      "etl.rows_written" -> (mean(loads.map(attr(_, "rows_written"))), "count"),
      "etl.rows_rejected" -> (mean(loads.map(attr(_, "rows_rejected"))), "count"),
      "etl.bytes_written" -> (mean(loads.map(o => counters(o).map(_.bytesWritten).sum.toDouble)), "bytes"),
      "etl.files_written" -> (mean(loads.map(attr(_, "files_written"))), "count"),
      "etl.rows_per_s" -> (if (plainTimed == 0) 0.0 else wl.rowsPerCycle * plainOps / plainTimed, "1/s"),
      "etl.stored_bytes_per_input_byte" -> (stored, "ratio"),
      "ops.layout_write_s" -> (mean(layout.map(o => sec(phase(o, "layout_write").map(_.dur).sum))), "s"),
      "ops.rows_read_frac" -> {
        val total = layout.map(attr(_, "rows_total")).sum
        (if (total == 0) 0.0 else layout.map(attr(_, "rows_read")).sum / total, "ratio")
      },
      "streaming.window.s" -> (latencyOf(_.attrs("op") == "window"), "s"),
      "streaming.dedup.s" -> (latencyOf(_.attrs("op") == "dedup"), "s"),
      "streaming.ssjoin.s" -> (latencyOf(_.attrs("op") == "ssjoin"), "s"),
      "streaming.batches" -> (mean(streams.map(attr(_, "batches"))), "count"),
      "streaming.state_rows" -> (mean(streams.map(attr(_, "state_rows"))), "count"),
      "streaming.state_bytes" -> (mean(streams.map(attr(_, "state_bytes"))), "bytes"),
      "streaming.dedup_gate.s" -> (latencyOf(_.attrs("op") == "dedup_gate"), "s"),
      "core.release_s" -> (mean(releases.map(r => sec(r.dur))), "s"),
      "core.swept_broadcasts" -> (mean(releases.map(attr(_, "broadcasts"))), "count"),
      "core.swept_shuffles" -> (mean(releases.map(attr(_, "shuffles"))), "count"),
      "core.gc_s" -> (gcS, "s"))
  }
}
