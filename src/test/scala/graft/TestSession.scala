package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (ScalaTest runs suites in one
  * JVM; getOrCreate returns the same session), built by the engine's own
  * factory so every suite runs on the settings the mains use. */
object TestSession {
  lazy val spark: SparkSession = {
    // 16 threads (host has 32): the sf1-fixture anchors in Round13Spec
    // are corpus-sized engine runs, not unit fixtures — 4 threads made
    // them (and the whole suite) IO/CPU serial for no isolation benefit.
    // shuffle.partitions stays 4: plan shapes and partition-id-dependent
    // machinery are pinned by config, not by master thread count.
    val s = graft.core.Session.builder("graft-tests")
      .master("local[16]")
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
