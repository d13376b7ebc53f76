package perfbench

import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Thrown by an op whose result differs from the expected one. */
final class Mismatch(msg: String) extends Exception(msg)

/** What an op body sees: named, timed phases and result checks. */
trait OpCtx {
  def phase[A](name: String)(body: => A): A
  def check(ok: Boolean, what: => String): Unit = if (!ok) throw new Mismatch(what)
  /** Records (when tracing) which engine operators the executed plan used. */
  def inspect(df: DataFrame): Unit
  /** Adds attributes to the op's span (when tracing). */
  def note(kv: (String, String)*): Unit
  /** Defers a check until the op's latency has been taken. */
  def after(check: => Unit): Unit
}

/** One unit of closed-loop work. `layer` names the engine layer the op
  * calls into; `family` groups it for per-family times. */
final case class Op(name: String, layer: String, family: String, body: OpCtx => Unit)

final case class Rec(op: Op, latency: Double, release: Double, failure: Option[String],
                     phases: Map[String, Double])

/** Runs ops one at a time on the calling thread (the single client). Each
  * op runs under its own job group, cancelled once it exceeds `timeoutS`;
  * afterwards the op's checkpoints are released and dead broadcasts and
  * shuffles swept, as the engine's query lifecycle prescribes. */
final class Runner(spark: SparkSession, tracer: Tracer, timeoutS: Double) {
  private val sc = spark.sparkContext
  private val timer = new java.util.Timer("perfbench-timeout", true)
  private var seq = 0L

  def run(op: Op, segment: String): Rec = {
    seq += 1
    val group = s"perfbench-$seq"
    if (tracer.active) graft.core.Ckpt.drain()
    val opSpan = tracer.openSpan("op", 0L,
      Map("op" -> op.name, "layer" -> op.layer, "family" -> op.family, "segment" -> segment))
    val notes = mutable.Map.empty[String, String]
    val phases = mutable.LinkedHashMap.empty[String, Double]
    val deferred = mutable.ArrayBuffer.empty[() => Unit]
    val ctx = new OpCtx {
      def phase[A](name: String)(body: => A): A = {
        val id = tracer.openSpan(s"${op.layer}.$name", opSpan)
        sc.setLocalProperty(Tracer.Prop, id.toString)
        val t0 = System.nanoTime()
        try body
        finally {
          phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
          sc.setLocalProperty(Tracer.Prop, opSpan.toString)
          tracer.closeSpan(id)
        }
      }
      def inspect(df: DataFrame): Unit = if (tracer.active) {
        val ps = (df.queryExecution.executedPlan +: graft.core.Ckpt.drain().map(_._2))
          .flatMap(Tracer.nodes)
        notes("functions") = Tracer.usesFunctions(ps).toString
        notes("plans") = Tracer.usesPlans(ps).toString
      }
      def note(kv: (String, String)*): Unit = if (tracer.active) notes ++= kv
      def after(check: => Unit): Unit = deferred += (() => check)
    }
    val timedOut = new AtomicBoolean(false)
    val cancel = new java.util.TimerTask {
      def run(): Unit = { timedOut.set(true); sc.cancelJobGroup(group) }
    }
    sc.setJobGroup(group, op.name, interruptOnCancel = true)
    sc.setLocalProperty(Tracer.Prop, opSpan.toString)
    timer.schedule(cancel, (timeoutS * 1000).toLong)
    val t0 = System.nanoTime()
    def attempt(body: => Unit): Option[String] =
      try { body; None }
      catch {
        case _: Throwable if timedOut.get => Some("timeout")
        case _: java.util.concurrent.TimeoutException => Some("timeout")
        case m: Mismatch => Some(s"mismatch: ${m.getMessage}")
        case t: Throwable => Some(s"error: ${t.toString.take(500)}")
      }
    val (failed, release) = graft.core.Ckpt.collecting(attempt(op.body(ctx)))
    val t1 = System.nanoTime()
    cancel.cancel()
    sc.clearJobGroup()
    val failure = failed.orElse {
      val v = tracer.openSpan("verify", opSpan)
      sc.setLocalProperty(Tracer.Prop, v.toString)
      try attempt(deferred.foreach(_())) finally tracer.closeSpan(v)
    }
    val tr = System.nanoTime()
    val rel = tracer.openSpan("core.release", opSpan)
    release()
    val (broadcasts, shuffles) = graft.core.Debris.sweep(spark)
    tracer.closeSpan(rel, Map("broadcasts" -> broadcasts.toString, "shuffles" -> shuffles.toString))
    sc.setLocalProperty(Tracer.Prop, null)
    val t2 = System.nanoTime()
    failure.foreach(f => System.err.println(s"[perfbench] op ${op.name} failed: $f"))
    System.err.println(f"[perfbench] $segment ${op.name} latency ${(t1 - t0) / 1e9}%.4f s release ${(t2 - tr) / 1e9}%.4f s")
    tracer.closeSpan(opSpan, notes.toMap ++ Map("ok" -> failure.isEmpty.toString,
      "latency_s" -> ((t1 - t0) / 1e9).toString))
    Rec(op, (t1 - t0) / 1e9, (t2 - tr) / 1e9, failure, phases.toMap)
  }

  def stop(): Unit = timer.cancel()
}
