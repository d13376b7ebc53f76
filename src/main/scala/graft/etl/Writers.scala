package graft.etl

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.annotation.unused

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
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
  * Both parquet sinks write through the engine's local filesystem, which
  * `graft.plans.GraftExtensions` installs on every session (see
  * [[NioLocalFs.install]]). Without libhadoop, Hadoop's local filesystem
  * forks a `chmod` process for every file and directory it creates, 14 per
  * monthly load; `NioLocalFileSystem` sets the same permissions through
  * `java.nio` instead. Permissions and `.crc` checksums are those of the
  * stock filesystem.
  */
object Writers {

  /** Fact sink: partition by trip month, dynamic overwrite. At 100 TB the
    * partition column doubles as the pruning key for date-range queries
    * (replaces the reference's `pickup_datetime` B-tree, `init.sql:45`). */
  def writeTripsMonthly(trips: DataFrame, path: String): Unit =
    trips
      .withColumn("trip_month", date_format(col("pickup_datetime"), "yyyy-MM"))
      .write
      .partitionBy("trip_month")
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .parquet(path)

  /** Dimension sink: truncate-and-replace (A9). */
  def writeDimension(dim: DataFrame, path: String): Unit =
    dim.write.mode(SaveMode.Overwrite).parquet(path)

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

/** Hadoop's checksummed local filesystem over `NioRawLocalFileSystem`: the
  * `FileSystem` for `file:` paths (`fs.file.impl`). */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `FileContext` local filesystem (`fs.AbstractFileSystem.file.impl`,
  * through which Spark writes streaming checkpoints and state stores):
  * Hadoop's `LocalFs`, checksums over `RawLocalFs`, with
  * `NioRawLocalFileSystem` under it. Like `LocalFs` it ignores the URI it is
  * given. */
final class NioLocalFs(@unused uri: URI, conf: Configuration)
  extends ChecksumFs(new NioRawLocalFs(conf))

object NioLocalFs {
  private val keys = Seq(
    "fs.file.impl" -> classOf[NioLocalFileSystem],
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs])

  /** Makes `conf`'s local filesystems the engine's own, both the
    * `FileSystem` and the `FileContext` one. Each key is set only while it
    * is unset or holds Hadoop's shipped default (its one source is
    * `core-default.xml`), so an explicit setting, such as a session's
    * `spark.hadoop.fs.AbstractFileSystem.file.impl`, wins, and a second
    * call changes nothing. */
  def install(conf: Configuration): Unit = keys.foreach { case (key, cls) =>
    val sources = conf.getPropertySources(key)
    if (sources == null || sources.forall(_ == "core-default.xml"))
      conf.set(key, cls.getName, "graft.plans.GraftExtensions")
  }
}

/** Hadoop's `RawLocalFs` over `NioRawLocalFileSystem`. `RawLocalFs`'s
  * constructors are package-private, so this copies its overrides. */
private[etl] final class NioRawLocalFs(conf: Configuration)
  extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem,
    conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1 // file:/// has no port
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "Hadoop 2")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local filesystems differ in what names they accept: the OS decides
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's raw local filesystem, without its forks:
  *
  *  - `setPermission` maps the permission's `toShort` bits to
  *    `PosixFilePermission`s and sets them with
  *    `Files.setPosixFilePermissions` (the same chmod(2) as the stock path's
  *    forked `chmod`). A sticky bit has no `PosixFilePermission`, so such a
  *    permission goes to the stock implementation.
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus`, which is what the stock path returns after forking
  *    `readlink` to find out. A symlink, dangling or not, takes the stock
  *    path.
  */
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

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}
