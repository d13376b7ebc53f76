package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block starts on the calling thread, in order, each with
  * its SQL execution id (None for a job outside any SQL execution, such as
  * a schema inference). */
object Jobs {
  def during[A](spark: SparkSession)(body: => A): (A, Seq[Option[String]]) = {
    val sc = spark.sparkContext
    val tag = s"jobs-${java.util.UUID.randomUUID}"
    val jobs = new ConcurrentLinkedQueue[(String, Option[String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith(tag))
          .foreach(g => jobs.add(g -> Option(e.properties.getProperty("spark.sql.execution.id"))))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(s"$tag-body", "body")
      val a = body
      // a marker job: once the listener has seen it, it has seen every job
      // the body started (the bus delivers in order)
      sc.setJobGroup(s"$tag-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      def seen = jobs.asScala.toSeq
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.exists(_._1 == s"$tag-marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.exists(_._1 == s"$tag-marker"), "the listener never saw the marker job")
      (a, seen.takeWhile(_._1 == s"$tag-body").map(_._2))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
