package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (ScalaTest runs suites in one
  * JVM; getOrCreate returns the same session), built by the engine's own
  * factory so every suite runs on the settings the mains use. */
object TestSession {
  lazy val spark: SparkSession = {
    // the factory's master (local[availableProcessors], as every main
    // runs); shuffle.partitions stays 4: plan shapes and partition-id-
    // dependent machinery are pinned by config, not by thread count.
    val s = graft.core.Session.builder("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      // INT96 (Spark's compatibility default) carries no usable parquet
      // min/max stats, which silently disables footer-based data skipping
      // on timestamp columns — write the modern INT64-micros form
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
