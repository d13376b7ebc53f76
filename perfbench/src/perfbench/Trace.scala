package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** A timed interval at a layer boundary. Times are epoch milliseconds, the
  * clock Spark's listener events carry, so op spans and job spans compare. */
final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double,
                      attrs: Map[String, String]) {
  def dur: Double = end - start
}

/** Task-level counters summed per span (the span a stage's jobs ran under). */
final class Counters {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesWritten = 0L
}

/** Spans and Spark-side counters for the traced run, kept in memory and
  * written out when the run ends. Outside `start()`..`stop()` spans are
  * dropped and no listener is registered. */
final class Tracer(spark: SparkSession) {
  @volatile var active = false
  private val nanoOrigin = System.nanoTime()
  private val epochOrigin = System.currentTimeMillis().toDouble
  private var nextId = 0L
  private val open = mutable.Map.empty[Long, (Long, String, Double, Map[String, String])]
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.Map.empty[Long, Counters]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, (Double, Long)]

  def now(): Double = epochOrigin + (System.nanoTime() - nanoOrigin) / 1e6

  def openSpan(name: String, parent: Long, attrs: Map[String, String] = Map.empty): Long =
    synchronized {
      nextId += 1
      if (active) open(nextId) = (parent, name, now(), attrs)
      nextId
    }

  def closeSpan(id: Long, attrs: Map[String, String] = Map.empty): Unit = synchronized {
    open.remove(id).foreach { case (parent, name, start, a) =>
      spans += Span(id, parent, name, start, now(), a ++ attrs)
    }
  }

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Prop))).map(_.toLong).getOrElse(0L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStart(e.jobId) = (e.time.toDouble, spanOf(e.properties))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, parent) =>
        if (parent != 0) {
          nextId += 1
          spans += Span(nextId, parent, "spark.job", t0, e.time.toDouble,
            Map("job" -> e.jobId.toString))
        }
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      val span = stageSpan.getOrElse(e.stageId, 0L)
      if (m != null && span != 0) {
        val c = counters.getOrElseUpdate(span, new Counters)
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    active = true
  }

  /** Stops recording once the listener has seen every event posted so far. */
  def stop(): Unit = {
    active = false
    org.apache.spark.perfbench.BusShim.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  def write(path: String): Unit = {
    val lines = spans.sortBy(_.start).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "start_ms" -> Json.num(s.start),
        "end_ms" -> Json.num(s.end)) ++ s.attrs.toSeq.sorted.map { case (k, v) => k -> Json.str(v) })
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** SparkContext local property carrying the span a job runs under. */
  val Prop = "perfbench.span"

  /** Every physical node of an executed plan, through AQE stages, reused
    * exchanges and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def visit(n: SparkPlan): Unit = {
      out += n
      n match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec => visit(q.plan)
        case r: ReusedExchangeExec => visit(r.child)
        case _ =>
      }
      n.children.foreach(visit)
      n.subqueries.foreach(visit)
    }
    visit(p)
    out.toSeq
  }

  /** True if any expression of the plan is implemented in `graft.functions`. */
  def usesFunctions(ps: Seq[SparkPlan]): Boolean =
    ps.exists(_.expressions.exists(_.exists {
      case a: ScalaAggregator[_, _, _] => a.agg.getClass.getName.startsWith("graft.functions")
      case e => e.getClass.getName.startsWith("graft.functions")
    }))

  /** True if the plan runs one of the engine's own join operators. */
  def usesPlans(ps: Seq[SparkPlan]): Boolean =
    ps.exists(_.getClass.getName.startsWith("graft.plans"))

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curEnd = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > curEnd) { total += b - math.max(a, curEnd); curEnd = b }
      }
    total
  }
}
