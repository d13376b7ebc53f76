package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}

/** The engine's only localCheckpoint entry point.
  *
  * `df.ckpt(...)` behaves exactly like `df.localCheckpoint(...)` — a
  * lineage cut that materializes once and is shared by every consumer —
  * with two additions:
  *
  *  1. when `recording` is on (PlanAuditSpec only), the PRE-checkpoint
  *     physical plan is captured into a buffer before the cut;
  *  2. when a COLLECTION SCOPE is active (see below), the checkpointed
  *     RDD is registered so the scope owner can unpersist it
  *     deterministically once the query's results are consumed.
  *
  * Why (1): a checkpoint truncates the audited plan at a LogicalRDD
  * boundary, so a query that checkpoints an intermediate frame would
  * otherwise be INVISIBLE to the scale audit (no-cartesian /
  * BNLJ-registry / dimension-shuffle checks) for everything upstream of
  * the cut — the audit would pass not because the plan is clean but
  * because it cannot see it. With recording on, the audit walks every
  * captured segment too, so "every BNLJ must register its bound" holds
  * across checkpoints.
  *
  * Why (2): Spark frees a localCheckpoint's blocks only when the
  * ContextCleaner sees the RDD object garbage-collected — which a large
  * quiet heap may never do. A long-running session executing hundreds of
  * engine queries therefore accumulates DEAD checkpoint blocks in the
  * block manager until storage/execution memory contention inflates
  * unrelated queries 2–6× (the r10–r12 bench "driver-read drift",
  * root-caused in r13). The scope API makes the lifecycle explicit:
  *
  *   val (result, release) = Ckpt.collecting { runQuery() }
  *   ... consume result ...
  *   release()          // blocking unpersist of the query's checkpoints
  *
  * or `Ckpt.scoped { ... }` when the results are fully consumed inside
  * the body. Frames that legitimately OUTLIVE a query — the
  * [[SessionCache]] amortization pattern (shingle frames, fitted
  * indexes) — are built under `Ckpt.retained { ... }` (SessionCache does
  * this itself) and are never registered with an enclosing scope.
  * Releasing is safe exactly because a localCheckpoint cuts lineage:
  * after unpersist the frame is NOT recomputable, so release() belongs
  * strictly after the last consumption. With no scope active, ckpt()
  * behaves exactly as before (GC + ContextCleaner lifecycle).
  *
  * Production cost when no scope is active and `recording` is false:
  * two thread-local reads. The captured plan is `executedPlan`, which
  * localCheckpoint plans anyway — recording adds no planning work.
  */
object Ckpt {

  @volatile var recording: Boolean = false

  private val buf =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]()

  /** Remove and return every (call-site, plan) captured since last drain. */
  def drain(): Seq[(String, SparkPlan)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, SparkPlan)]
    var e = buf.poll()
    while (e != null) { out += e; e = buf.poll() }
    out.toSeq
  }

  // ---- checkpoint lifecycle (r14, VERDICT r13 #4) -------------------

  private val scope =
    new ThreadLocal[java.util.ArrayList[RDD[_]]]()
  private val retainFlag = new ThreadLocal[Boolean] {
    override def initialValue: Boolean = false
  }

  /** Run `body` with checkpoint collection ON; returns (result, release).
    * `release()` unpersists (blocking) every checkpoint RDD that ckpt()
    * registered inside `body` on THIS thread, except those created under
    * [[retained]]. Idempotent. Call it only after the body's results are
    * fully consumed — a released checkpoint cannot be recomputed. */
  def collecting[A](body: => A): (A, () => Unit) = {
    val prev = scope.get()
    val mine = new java.util.ArrayList[RDD[_]]()
    scope.set(mine)
    val a = try body finally scope.set(prev)
    val release = () => {
      val it = mine.iterator()
      while (it.hasNext) {
        val r = it.next()
        // a stopped context (or an already-unpersisted RDD) must not
        // turn cleanup into a failure
        try r.unpersist(blocking = true)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      mine.clear()
    }
    (a, release)
  }

  /** [[collecting]] with the release applied immediately after `body` —
    * for callers that fully consume the query inside the block. */
  def scoped[A](body: => A): A = {
    val (a, release) = collecting(body)
    release(); a
  }

  /** Checkpoints created inside `body` are EXEMPT from any enclosing
    * collection scope — for frames that outlive the query that built
    * them (the SessionCache amortization pattern). */
  def retained[A](body: => A): A = {
    val prev = retainFlag.get
    retainFlag.set(true)
    try body finally retainFlag.set(prev)
  }

  implicit class CkptOps[T](private val ds: Dataset[T]) extends AnyVal {
    def ckpt(eager: Boolean = true): Dataset[T] = {
      if (recording) {
        // call-site tag: first stack frame outside this wrapper
        val site = Thread.currentThread.getStackTrace
          .find(f => f.getClassName.startsWith("graft") &&
            !f.getClassName.contains("core.Ckpt"))
          .map(f => s"${f.getFileName}:${f.getLineNumber}")
          .getOrElse("unknown")
        buf.add(site -> ds.queryExecution.executedPlan)
      }
      val out = ds.localCheckpoint(eager)
      val sc = scope.get()
      if (sc != null && !retainFlag.get) {
        // the checkpointed RDD lives in the returned Dataset's LogicalRDD
        // root (for eager=false it is merely MARKED; unpersist of a
        // never-computed localCheckpoint is a no-op)
        out.queryExecution.analyzed.foreach {
          case l: LogicalRDD => sc.add(l.rdd)
          case _ =>
        }
      }
      out
    }
  }
}
