package graft.core

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory (SURVEY §7.1 step 1). Every engine main and
  * the test session start here and add only their own settings on top:
  *
  *  - master `local[n]`, n = the JVM's available processors;
  *    `SPARK_MASTER` (a deployment address) overrides it;
  *  - shuffle partitions = n;
  *  - AQE on, session time zone UTC, UI off;
  *  - `spark.sql.extensions=graft.plans.GraftExtensions`, the only install
  *    path for the graft SQL functions, native join strategies and the
  *    as-of key-pushdown rule.
  *
  * The returned builder is not yet built: callers chain their own
  * `.config(...)` calls and end with `.getOrCreate()`.
  */
object Session {

  /** Cores for `local[n]` and the shuffle partition count. */
  private val cpus: Int = Runtime.getRuntime.availableProcessors

  def builder(appName: String): SparkSession.Builder =
    SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
}
