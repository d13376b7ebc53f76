package graft.etl

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Idempotent sinks replicating the reference's write semantics the Spark
  * way (SURVEY.md §2 A8–A10, §7.4 risk 5):
  *
  *  - reference windowed DELETE + append (`ingest_data.py:160-166`) →
  *    month-partitioned parquet with DYNAMIC partition overwrite: re-running
  *    a month replaces exactly that month's partitions, leaves the rest —
  *    same contract, but job-atomic (commit protocol) instead of
  *    per-chunk transactions, and parallel.
  *  - reference TRUNCATE + append for dims (`ingest_data.py:104-106`) →
  *    `SaveMode.Overwrite`.
  *
  * The cross-month edge (ingest_data.py inserts rows OUTSIDE the delete
  * window too — SURVEY §7.4.5): dynamic overwrite reproduces it exactly,
  * because every month present in the batch gets (re)written, months absent
  * from the batch are untouched.
  *
  * Both parquet sinks carry their own local filesystem as writer options
  * (`localFs`). Without libhadoop, Hadoop's local filesystem forks a `chmod`
  * process for every file and directory it creates, 14 per monthly load;
  * `NioLocalFileSystem` sets the same permissions through `java.nio`
  * instead. As writer options the choice holds in any caller's session and
  * touches no other read or write; disabling the cache makes Hadoop honour
  * `fs.file.impl` even when the stock `file:` filesystem is already cached.
  * Permissions and `.crc` checksums are those of the stock filesystem.
  */
object Writers {

  private val localFs = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Fact sink: partition by trip month, dynamic overwrite. At 100 TB the
    * partition column doubles as the pruning key for date-range queries
    * (replaces the reference's `pickup_datetime` B-tree, `init.sql:45`). */
  def writeTripsMonthly(trips: DataFrame, path: String): Unit =
    trips
      .withColumn("trip_month", date_format(col("pickup_datetime"), "yyyy-MM"))
      .write
      .options(localFs)
      .partitionBy("trip_month")
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .parquet(path)

  /** Dimension sink: truncate-and-replace (A9). */
  def writeDimension(dim: DataFrame, path: String): Unit =
    dim.write.options(localFs).mode(SaveMode.Overwrite).parquet(path)

  /** Keyed MERGE (SCD type-1 upsert): rows of `updates` replace same-key
    * rows of `existing`; unmatched existing rows are kept, unmatched
    * updates are inserts. Expressed as anti-join ∪ updates — one shuffle
    * on the key (or zero if `updates` broadcasts), no driver round-trip,
    * and the exact algebraic form a MERGE INTO compiles to when every
    * match updates all columns. Both inputs must share a schema; if
    * `updates` can carry duplicate keys, dedup it first (the caller knows
    * which row wins — this function must not guess). */
  def mergeUpsert(existing: DataFrame, updates: DataFrame,
                  keys: Seq[String]): DataFrame =
    existing.join(updates, keys, "left_anti").unionByName(updates)

  /** SCD type-2 history from a change log: per `key`, order rows by
    * (`ts`, `tie`) and close each version at the next one's start —
    * `effective_from`/`effective_to` half-open intervals, `is_current` on
    * the open tail. One window over the key partition (millions of small
    * partitions at scale, never a global sort); `tie` must make the order
    * total or version attribution is nondeterministic. */
  def scd2History(changes: DataFrame, key: String, ts: String,
                  tie: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col(ts), col(tie))
    changes
      .withColumn("effective_from", col(ts))
      .withColumn("effective_to", lead(col(ts), 1).over(w))
      .withColumn("is_current", col("effective_to").isNull)
  }

  /** JDBC parity sinks (A8/A10) — same SaveMode semantics against a
    * database table; `truncate` avoids dropping indexes on overwrite.
    * Kept as the optional connector (no database in the test env). */
  def appendJdbc(df: DataFrame, url: String, table: String,
                 props: java.util.Properties): Unit =
    df.write.mode(SaveMode.Append).jdbc(url, table, props)

  def overwriteJdbcTruncate(df: DataFrame, url: String, table: String,
                            props: java.util.Properties): Unit =
    df.write.mode(SaveMode.Overwrite).option("truncate", true)
      .jdbc(url, table, props)
}

/** Hadoop's checksummed local filesystem over `NioRawLocalFileSystem`. */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's raw local filesystem, except that `setPermission` maps the
  * permission's `toShort` bits to `PosixFilePermission`s and sets them with
  * `Files.setPosixFilePermissions` (the same chmod(2) as the stock path's
  * forked `chmod`). A sticky bit has no `PosixFilePermission`, so such a
  * permission goes to the stock implementation. */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort & 0xffff
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission) // not only rwx (0777)
    else {
      // values() runs OWNER_READ .. OTHERS_EXECUTE, bits 0400 .. 0001
      val perms = new java.util.HashSet[PosixFilePermission]()
      PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((bits & (0x100 >> i)) != 0) perms.add(pp)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }
}
