package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver testdata tables (TESTDATA.md / FIXTURES.md §2).
  *
  * All engine queries take `(spark, sfDir)` and read these parquet files
  * directly — schema comes from the files (schema-on-read is safe here: the
  * driver wrote them with explicit types; see FIXTURES.md). At the 100 TB
  * design point these reads become partitioned FileScans; predicate pushdown
  * and column pruning reach the scan because every downstream query is
  * declarative DataFrame code.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A committed or generated fixture directory, `fixtures/<name>`,
    * resolved against the working directory (the repo root under sbt). */
  def fixture(name: String): String =
    new java.io.File(s"fixtures/$name").getAbsolutePath

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as parquet timestamp[ns] in some data drops
      // (rejected by Spark's vectorized reader → read nanos as long, then
      // truncate to micros, identical to DuckDB/pyarrow ns→us narrowing for
      // positive epochs) and as timestamp[us] in others (reads natively,
      // usually as TIMESTAMP_NTZ). Branch on the type actually read and
      // normalize both to session-zone TIMESTAMP — with the UTC session
      // timezone every entry point pins, NTZ→LTZ is wall-clock identity.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
        case _ =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      }
    } else spark.read.parquet(s"$dir/$name.parquet")

  /** Fan a small single-file input out to the session's parallelism before
    * CPU-heavy per-row work (explode, hashing, HOFs) — a single parquet
    * file arrives as ONE partition, so without this a 32-core local run
    * executes the whole map stage on one core. Guarded: inputs that are
    * already well-split (the 100 TB case) pass through untouched, so this
    * never adds a shuffle at scale. */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // estimate the scan's split count from metadata only — df.rdd
    // .getNumPartitions would be exact but forces physical planning (and
    // under AQE can run query stages) once per call. Mirrors Spark's own
    // split sizing: maxSplitBytes = min(maxPartitionBytes,
    // max(openCostInBytes, totalBytes / parallelism)), so a medium single
    // file that Spark already splits per-core is not re-shuffled here.
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val totalBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    val bytesPerCore = totalBytes / math.max(1, target)
    val maxSplit = math.max(1L, math.min(conf.filesMaxPartitionBytes,
      math.max(conf.filesOpenCostInBytes, bytesPerCore)))
    val est = math.max(df.inputFiles.length.toLong, totalBytes / maxSplit + 1L)
    if (est < target) df.repartition(target) else df
  }

  /** Register all tables as temp views (for spark.sql-surface queries).
    * Memoized per session on the LAST registered dir: every SQL-surface
    * query calls this, and re-deriving ten view definitions (ten parquet
    * footer reads) per query is pure overhead when the dir hasn't changed.
    * Switching dirs (crafted test fixtures) still re-registers, and the
    * views themselves stay live for the session either way. */
  private val lastRegistered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  def registerAll(spark: SparkSession, dir: String): Unit =
    if (lastRegistered.get(spark) != dir) {
      names.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
      lastRegistered.put(spark, dir)
    }
}
