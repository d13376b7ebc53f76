package graft.etl

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
