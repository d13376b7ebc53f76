package graft.ops
import graft.core.Ckpt._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Physical-layout utilities for the 100 TB design point (SURVEY.md §2
  * "Partitioning & shuffle"): range-clustered write layout, skew salting,
  * and distributed prefix scans over a range partitioning.
  *
  * These are the knobs the reference solved with B-tree indexes and a
  * single sequential process (`sql/init.sql:45-47`); on Spark the
  * equivalents are table LAYOUT (range clustering ≈ a pruning index),
  * SALT (skew spreading), and partition-aware scans.
  */
object Partitioning {

  /** Skew-spreading join: FACT side gets a row-local salt in [0, n);
    * DIM side is replicated n× with every salt value; the join key becomes
    * (key, salt), so one hot key spreads over n reducers. Result set is
    * identical to the unsalted join (checked by property test).
    *
    * Use when AQE's skew-join splitting isn't available/enough (e.g. a
    * hot-100 key in a 100 TB fact table). `saltSource` defaults to a
    * per-row pseudo-random derived from all fact columns — deterministic
    * for a given row content, no RNG state. */
  def saltedEquiJoin(fact: DataFrame, dim: DataFrame, key: String,
                     nSalts: Int = 16, saltSource: Option[Column] = None)
      : DataFrame = {
    val salt = saltSource.getOrElse(
      pmod(xxhash64(struct(fact.columns.map(col).toSeq: _*)), lit(nSalts)))
    val saltedFact = fact.withColumn("__salt", salt)
    val saltedDim = dim
      .withColumn("__salt", explode(expr(s"sequence(0, ${nSalts - 1})")))
      .withColumn("__salt", col("__salt").cast("bigint"))
    saltedFact.join(saltedDim, Seq(key, "__salt")).drop("__salt")
  }

  /** Range-partition + global sort layout for write-time clustering. */
  def clusterBy(df: DataFrame, n: Int, cols: String*): DataFrame =
    df.repartitionByRange(n, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)

  /** The first level of every `ranked*` kernel below: range-partition on
    * `order`, sort each partition locally, tag rows with their partition id
    * (`__pid`) and checkpoint, so every consumer of the frame sees the same
    * partition bounds. */
  private def rangeSorted(df: DataFrame, order: Seq[Column], n: Int,
                          eager: Boolean = true): DataFrame =
    df.repartitionByRange(n, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__pid", spark_partition_id())
      .ckpt(eager)

  /** The window over every partition before this row's, in `__pid` order:
    * the one sequential step of a `ranked*` kernel, over ≤ n rows. */
  private def priorPartitions =
    Window.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)

  /** Distributed prefix sum: cumulative `valueCol` in global `order`,
    * WITHOUT the single-partition global window (`Window.orderBy` with no
    * partitionBy funnels every row through one task — the classic scale
    * cliff for running totals / Pareto analyses over large entity sets).
    *
    * Classic two-level scan instead:
    *   1. range-partition + locally sort by `order` (global order across
    *      partition ids, parallel within);
    *   2. per-partition cumulative sums via a window PARTITIONED by the
    *      physical partition id — fully parallel;
    *   3. per-partition totals (≤ n rows) get their own exclusive prefix
    *      sum — the only sequential window, over n rows, not the data —
    *      and broadcast-join back as offsets.
    *
    * The sorted frame is localCheckpoint'd so the two consumers (rows,
    * offsets) share ONE materialization — otherwise the range partitioner
    * could resample different bounds per consumer and misalign the ids.
    *
    * Exactness: integer value columns stay exact under the reordered
    * additions; for floating-point inputs the result can differ from a
    * sequential sum in the last ulp (document at the call site). */
  def rankedCumSum(df: DataFrame, valueCol: Column, order: Seq[Column],
                   n: Int, outCol: String): DataFrame =
    rankedCumSumMulti(df, Seq(valueCol -> outCol), order, n)

  /** [[rankedCumSum]] over SEVERAL value columns in ONE two-level pass:
    * one range partition + local sort, one per-partition window (all the
    * running sums share the frame), one ≤n-row offsets aggregate carrying
    * every measure. A k-measure cumsum as k sequential calls would pay
    * the repartition/sort/checkpoint k times over a frame that only grows
    * wider each call — agg_ks_test's two ECDFs are the motivating case. */
  def rankedCumSumMulti(df: DataFrame, measures: Seq[(Column, String)],
                        order: Seq[Column], n: Int): DataFrame =
    rankedCumSumMultiShared(df, measures, order, n)._1

  /** [[rankedCumSumMulti]] that ALSO hands back its internally
    * checkpointed range-sorted frame (r15): callers that need totals (or
    * any other whole-frame statistic) next to the cumsums used to
    * checkpoint their aggregate separately and feed it in — two
    * materializations of the same rows. The returned `sorted` frame is
    * the ONE checkpoint both legs share; it carries the caller's columns
    * (the `__pid` partition tag is dropped).
    *
    * NOTE (measured at two SFs, r15): callers should aggregate BEFORE
    * this kernel, not fuse the aggregate into the range exchange — a
    * raw-row range shuffle beats hash-agg + range only when the key is
    * near-unique in every map partition. At sf1 (and any larger scale,
    * where value domains saturate) the hash aggregate's partial,
    * map-side reduction compacts ~10:1 and wins: agg_ks_test measured
    * 2.8 s aggregate-first vs 5.1 s raw-range-fused at sf1, while sf0.1
    * (no compaction) preferred fused by 0.2 s. Scale wins. */
  def rankedCumSumMultiShared(df: DataFrame, measures: Seq[(Column, String)],
                              order: Seq[Column], n: Int)
      : (DataFrame, DataFrame) = {
    require(measures.nonEmpty, "need at least one (valueCol, outCol)")
    val sorted = rangeSorted(df, order, n)
    val localWin = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val idx = measures.indices
    val offsets = sorted.groupBy(col("__pid"))
      .agg(sum(measures.head._1).as("__psum0"),
        measures.tail.zipWithIndex.map { case ((c, _), i) =>
          sum(c).as(s"__psum${i + 1}") }: _*)
      .select(col("__pid").as("__opid") +:
        idx.map(i => coalesce(sum(col(s"__psum$i")).over(priorPartitions), lit(0))
          .as(s"__off$i")): _*)
    val withLocal = idx.foldLeft(sorted) { case (acc, i) =>
      acc.withColumn(s"__local$i", sum(measures(i)._1).over(localWin))
    }
    val cum = idx.foldLeft(
        withLocal.join(broadcast(offsets), col("__pid") === col("__opid"))) {
        case (acc, i) =>
          acc.withColumn(measures(i)._2, col(s"__local$i") + col(s"__off$i"))
      }
      .drop("__pid" :: "__opid" ::
        idx.flatMap(i => Seq(s"__local$i", s"__off$i")).toList: _*)
    (cum, sorted.drop("__pid"))
  }

  /** Distributed DENSE ROW NUMBERING over a total order — the
    * [[rankedCumSum]] two-level shape applied to row_number (VERDICT r9
    * #4: replaces the only data-sized unpartitioned window in the tree,
    * Normalize.withTripId's deterministic path). Range-partition on the
    * order keys, per-partition local row_number (parallel), then ONE
    * ≤n-row prefix-count aggregate broadcast back as per-partition
    * offsets. Same contiguous 1..N numbering a global
    * `row_number().over(Window.orderBy(...))` yields — without funneling
    * the data through a single task. Rows tied on ALL order keys get an
    * arbitrary-but-valid order within the tie group, exactly like the
    * global window. */
  def rankedRowNumber(df: DataFrame, order: Seq[Column], n: Int,
                      outCol: String, eager: Boolean = true): DataFrame = {
    // eager = false defers the lineage-cut materialization into the first
    // consuming job (the sorted frame is still computed exactly once —
    // offsets and rows read the same checkpointed RDD); callers ranking a
    // large frame consumed by a single downstream action (ml_conformal's
    // calibration scores) save the extra blocking materialization job
    val sorted = rangeSorted(df, order, n, eager)
    val localWin = Window.partitionBy(col("__pid")).orderBy(order: _*)
    val offsets = sorted.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__pc"))
      .select(col("__pid").as("__opid"),
        coalesce(sum(col("__pc")).over(priorPartitions), lit(0L)).as("__off"))
    sorted
      .withColumn("__local", row_number().over(localWin).cast("long"))
      .join(broadcast(offsets), col("__pid") === col("__opid"))
      .withColumn(outCol, col("__local") + col("__off"))
      .drop("__pid", "__opid", "__local", "__off")
  }

  /** Distributed running MINIMUM over a total order — the prefix-min
    * sibling of [[rankedCumSum]], same two-level shape: parallel
    * per-partition running mins, then one sequential prefix-min over the
    * ≤n partition minima (bounded by the partition count, never
    * data-sized), broadcast back and folded in with null-skipping
    * `least`. With `inclusive = false` the frame excludes the current
    * row — `outCol` is then min over STRICTLY-preceding rows and NULL
    * for the global first row (the shape dominance tests need: with one
    * row per key, "preceding in order" = "strictly smaller key"). */
  def rankedRunningMin(df: DataFrame, valueCol: Column, order: Seq[Column],
                       n: Int, outCol: String,
                       inclusive: Boolean = true): DataFrame = {
    val sorted = rangeSorted(df, order, n)
    val hi = if (inclusive) Window.currentRow else -1L
    val localWin = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, hi)
    val offsets = sorted.groupBy(col("__pid")).agg(min(valueCol).as("__pmin"))
      .withColumn("__off",
        min(col("__pmin")).over(priorPartitions))
      .select(col("__pid").as("__opid"), col("__off"))
    sorted
      .withColumn("__local", min(valueCol).over(localWin))
      .join(broadcast(offsets), col("__pid") === col("__opid"))
      .withColumn(outCol, least(col("__local"), col("__off")))
      .drop("__pid", "__opid", "__local", "__off")
  }
}
