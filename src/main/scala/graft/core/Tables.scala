package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver testdata tables (TESTDATA.md / FIXTURES.md §2).
  *
  * All engine queries take `(spark, sfDir)` and read these parquet files
  * directly — schema comes from the files (schema-on-read is safe here: the
  * driver wrote them with explicit types; see FIXTURES.md). At the 100 TB
  * design point these reads become partitioned FileScans; predicate pushdown
  * and column pruning reach the scan because every downstream query is
  * declarative DataFrame code.
  *
  * Every such read goes through `read`, which infers a file's schema once:
  * inference is a Spark job (parquet footers are read by tasks), and at
  * these input sizes it is a large share of a query's or a load's fixed
  * cost. The memo key is the format and its read options; the canonical
  * (qualified, normalised) path; the name, length and modification time of
  * every file under it; and the session's schema-affecting read confs
  * (`schemaConfs`). A re-read of an unchanged file reads with the memoised
  * schema and starts no job; any added, removed or rewritten file, or a
  * changed conf, infers afresh.
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
      val df = read(spark, s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
        case _ =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      }
    } else read(spark, s"$dir/$name.parquet")

  /** Session confs that change the schema a read infers from a file. */
  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  private final case class SchemaKey(format: String, options: Map[String, String],
                                     path: String, confs: Seq[Option[String]])

  /** (name, length, mtime) of every file under a path, in name order. */
  private type Listing = Vector[(String, Long, Long)]

  private val schemas = new ConcurrentHashMap[SchemaKey, (Listing, StructType)]

  /** `spark.read.format(format).options(options).load(path)` for a file or
    * directory whose schema comes from its files, inferring that schema
    * only when the memo (keyed as the object doc says) has none for the
    * files as they are now; it keeps one schema per key for the JVM's life.
    * A path that does not resolve to files (missing, or a glob) is read as
    * given, so it fails or expands as before. */
  def read(spark: SparkSession, path: String, format: String = "parquet",
           options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.read.format(format).options(options)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(p)
    def list(st: FileStatus): Listing =
      if (st.isDirectory) fs.listStatus(st.getPath).sortBy(_.getPath.getName).toVector.flatMap(list)
      else Vector((st.getPath.toString, st.getLen, st.getModificationTime))
    val files =
      try Some(list(fs.getFileStatus(root)))
      catch { case _: java.io.FileNotFoundException => None }
    files match {
      case None => reader.load(path)
      case Some(now) =>
        val key = SchemaKey(format, options, root.toString, schemaConfs.map(spark.conf.getOption))
        Option(schemas.get(key)) match {
          case Some((seen, schema)) if seen == now => reader.schema(schema).load(path)
          case _ =>
            val df = reader.load(path)
            schemas.put(key, (now, df.schema))
            df
        }
    }
  }

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
