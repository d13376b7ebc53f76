package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

/** Mechanical audit of the plan properties the 100 TB design depends on —
  * the `.explain` review, locked in as assertions so a refactor can't
  * silently regress them: predicate pushdown must reach the parquet scans,
  * scans must prune to referenced columns, and no non-cross query may plan
  * a cartesian product. */
class PlanAuditSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  private def scans(df: DataFrame): Seq[FileSourceScanExec] = {
    // AdaptiveSparkPlanExec reports no children, so a plain collect stops
    // at the AQE boundary — recurse through its input plan and subqueries
    def go(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          go(a.inputPlan)
        case f: FileSourceScanExec => Seq(f)
        case other => (other.children ++ other.subqueries).flatMap(go)
      }
    go(df.queryExecution.executedPlan)
  }

  private def scanOf(df: DataFrame, table: String): FileSourceScanExec =
    scans(df).find(_.metadata.get("Location").exists(_.contains(table)))
      .getOrElse(fail(s"no parquet scan of $table in plan"))

  test("r6 re-plans hold structurally: single fact scan, no Expand, no hash shuffle") {
    import org.apache.spark.sql.execution.{ExpandExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    def nodes(df: DataFrame): Seq[SparkPlan] = {
      def go(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          go(a.inputPlan)
        case other => other +: (other.children ++ other.subqueries).flatMap(go)
      }
      go(df.queryExecution.executedPlan)
    }
    // q18/q21 were re-planned from multi-leg subquery chains to ONE
    // lineitem pass — the whole point; a regression to the textual plan
    // shape must fail loudly
    for (q <- Seq("tpch_q18_volume", "tpch_q21_waiting")) {
      val li = scans(SparkEntry.queries(q)(spark, sf))
        .filter(_.metadata.get("Location").exists(_.contains("lineitem")))
      assert(li.size == 1, s"$q must scan lineitem exactly once, got ${li.size}")
    }
    // etl_profile's per-column legs exist to avoid the multi-distinct
    // Expand (x(N+1) row blowup through one wide aggregate)
    assert(!nodes(SparkEntry.queries("etl_profile")(spark, sf))
      .exists(_.isInstanceOf[ExpandExec]),
      "etl_profile must not plan a multi-distinct Expand")
    // winnowing is pure array HOFs on the scan: no keyed shuffle at all
    // (the only exchange allowed is spread()'s round-robin fan-out of the
    // single-file test input, which vanishes on well-split inputs)
    val keyedShuffles = nodes(
      SparkEntry.queries("llm_winnow_fingerprint")(spark, sf)).collect {
      case e: ShuffleExchangeExec
          if !e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
    }
    assert(keyedShuffles.isEmpty,
      s"winnowing must not shuffle on a key: ${keyedShuffles.map(_.outputPartitioning)}")
  }

  test("streaks and interpolation key the whole query on ONE shuffle") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    def nodes(df: DataFrame): Seq[SparkPlan] = {
      def go(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          go(a.inputPlan)
        case other => other +: (other.children ++ other.subqueries).flatMap(go)
      }
      go(df.queryExecution.executedPlan)
    }
    // win_streaks: the explicit user_id repartition must be the ONLY keyed
    // exchange — distinct, window, and both aggregates all ride it
    // (subset-of-keys satisfies ClusteredDistribution). evt_interp_linear:
    // both frame directions share one window sort over AT MOST one
    // exchange (a single-file local input plans ZERO — SinglePartition
    // already satisfies the window's distribution).
    for (q <- Seq("win_streaks", "evt_interp_linear")) {
      val keyed = nodes(SparkEntry.queries(q)(spark, sf)).collect {
        case e: ShuffleExchangeExec
            if !e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
      }
      assert(keyed.size <= 1,
        s"$q must have at most one keyed shuffle, got ${keyed.size}: " +
          keyed.map(_.outputPartitioning).mkString(", "))
    }
  }

  test("salted join really joins on (key, salt)") {
    import org.apache.spark.sql.execution.SparkPlan
    def nodes(df: DataFrame): Seq[SparkPlan] = {
      def go(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          go(a.inputPlan)
        case other => other +: (other.children ++ other.subqueries).flatMap(go)
      }
      go(df.queryExecution.executedPlan)
    }
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      ShuffledHashJoinExec, SortMergeJoinExec}
    val keys = nodes(SparkEntry.queries("join_salted_skew")(spark, sf))
      .collect {
        case j: SortMergeJoinExec => j.leftKeys
        case j: ShuffledHashJoinExec => j.leftKeys
        case j: BroadcastHashJoinExec => j.leftKeys
      }.flatten.map(_.toString)
    assert(keys.exists(_.contains("__salt")),
      s"join_salted_skew's equi-join must include the salt key, got: $keys")
  }

  test("date-range predicate is pushed into the orders scan") {
    val df = SparkEntry.queries("taxi_top_zones_revenue")(spark, sf)
    val pushed = scanOf(df, "orders").metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("o_orderdate"),
      s"date filter did not reach the scan: $pushed")
  }

  test("equality predicate is pushed into the lineitem scan") {
    val df = SparkEntry.queries("tpch_q10_returns")(spark, sf)
    val pushed = scanOf(df, "lineitem").metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("l_returnflag"),
      s"returnflag filter did not reach the scan: $pushed")
  }

  test("column pruning: pricing summary reads only the six needed columns") {
    val df = SparkEntry.queries("agg_pricing_summary")(spark, sf)
    val read = scanOf(df, "lineitem").schema.fieldNames.toSet
    val needed = Set("l_returnflag", "l_linestatus", "l_quantity",
      "l_extendedprice", "l_discount", "l_shipdate")
    assert(read.subsetOf(needed), s"scan reads extra columns: ${read -- needed}")
  }

  test("column pruning: split assignment reads doc_id only") {
    val df = SparkEntry.queries("llm_split_assign")(spark, sf)
    val read = scanOf(df, "documents").schema.fieldNames.toSet
    assert(read == Set("doc_id"), s"scan should read only doc_id, got $read")
  }

  // post-execution scan lookup: metrics live on the FINAL adaptive plan's
  // nodes, so recurse through executedPlan/QueryStageExec (inputPlan, used
  // by scans() above, is the pre-execution tree — right for metadata,
  // wrong for metrics)
  private def executedScans(df: DataFrame): Seq[FileSourceScanExec] = {
    def go(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          go(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          go(q.plan)
        case f: FileSourceScanExec => Seq(f)
        case other => (other.children ++ other.subqueries).flatMap(go)
      }
    go(df.queryExecution.executedPlan)
  }

  // temp dirs for the two layout tests, deleted when the suite finishes
  private val tmpDirs = scala.collection.mutable.ArrayBuffer[String]()
  private def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    tmpDirs += d
    d
  }
  override def afterAll(): Unit =
    tmpDirs.foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))

  test("dynamic partition pruning reaches a hive-partitioned fact scan") {
    import org.apache.spark.sql.functions._
    // the 100 TB warehouse shape: a fact table partitioned by a dimension
    // key joins a selectively-filtered dim — DPP must inject the dim's
    // surviving keys as a runtime PartitionFilter on the fact scan, so
    // only the matching directories are read (compile-time pruning can't
    // know them). Pinned because a conf/typing regression (e.g. joining
    // on a non-partition column) silently degrades to a full scan.
    val dir = tmpDir("graft-dpp")
    graft.core.Tables.t(spark, sf, "orders")
      .write.partitionBy("o_orderstatus").mode("overwrite")
      .parquet(s"$dir/fact")
    import spark.implicits._
    // the dim must be a SCAN with a filter on top — a LocalRelation's
    // filter constant-folds away and DPP sees no selective predicate
    Seq(("F", "final"), ("O", "open"), ("P", "pending"))
      .toDF("st", "label")
      .write.mode("overwrite").parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim")
    val q = spark.read.parquet(s"$dir/fact")
      .join(dim.filter(col("label") === "final"),
        col("o_orderstatus") === col("st"))
      .agg(sum(col("o_totalprice")).as("total"))
    q.collect()
    val factScan = executedScans(q)
      .find(_.metadata.get("Location").exists(_.contains("fact")))
      .getOrElse(fail("no fact scan in plan"))
    val pf = factScan.metadata.getOrElse("PartitionFilters", "")
    assert(pf.contains("dynamicpruning"),
      s"fact scan must carry a dynamic pruning partition filter, got: $pf")
  }

  test("range-clustered layout skips parquet data outside the date filter") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("graft-skip")
    // cluster on a DATE column: Spark's parquet filters only convert
    // predicates on isAdjustedToUTC=true timestamps, and the testdata
    // timestamps are TIMESTAMP_NTZ — NTZ predicates are never pushed to
    // row-group stats, so a timestamp-clustered layout silently loses
    // skipping. DATE (INT32 + date annotation) pushdown is supported;
    // at 100 TB the clustering key should be a date/long derivative of
    // event time for exactly this reason.
    val li = graft.core.Tables.t(spark, sf, "lineitem")
      .select(to_date(col("l_shipdate")).as("ship_date"), col("l_quantity"))
    // clustered: each of the 8 files covers a narrow ship_date slice →
    // parquet footer min/max lets the reader drop whole files/row-groups.
    // unclustered: the same rows spread date-blind — every file spans the
    // full range, nothing can skip.
    graft.ops.Partitioning.clusterBy(li, 8, "ship_date")
      .write.mode("overwrite").parquet(s"$dir/clustered")
    li.repartition(8).write.mode("overwrite").parquet(s"$dir/unclustered")
    def scanRowsFor(path: String): Long = {
      val df = spark.read.parquet(path)
        .filter(col("ship_date") >= lit("1999-03-01").cast("date") &&
          col("ship_date") < lit("1999-04-01").cast("date"))
        .agg(sum(col("l_quantity")))
      df.collect()
      executedScans(df).head.metrics("numOutputRows").value
    }
    val clustered = scanRowsFor(s"$dir/clustered")
    val unclustered = scanRowsFor(s"$dir/unclustered")
    // the one-month slice is ~1/80 of the data; clustered reads at most
    // TWO files' worth (the month can straddle a range boundary, and the
    // sampled range split drifts a few rows run-to-run) while unclustered
    // reads everything — 3/8 = two 1/8-files plus drift headroom
    assert(unclustered > 0 && clustered <= unclustered * 3 / 8,
      s"clustered scan read $clustered rows vs unclustered $unclustered — " +
        "footer-stats skipping did not engage")
  }

  test("pinned: Spark bounds rank-filter windows with a Partial WindowGroupLimit") {
    // Spark's InsertWindowGroupLimit turns `row_number() ≤ k` into a
    // map-side group limit BEFORE the exchange — the shuffle already
    // carries ≤ k rows per (group, partition). Pinned because the
    // win_topk_agg story rests on the corrected comparison (the heap
    // aggregate's edge is avoiding the full partition sorts, not the
    // shuffle volume) and because losing this optimization (conf/regress)
    // would silently turn every top-k window back into a full shuffle.
    val df = SparkEntry.queries("win_topk_per_group")(spark, sf)
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("WindowGroupLimit") && s.contains("Partial"),
      s"Partial WindowGroupLimit missing from the top-k window plan:\n$s")
  }

  test("clusterBy layout skips only on its clustered column") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("graft-linear")
    // two independent dimensions: ship DATE (as in the test above) and
    // part key. Clustering by date gives date-skipping only.
    val li = graft.core.Tables.t(spark, sf, "lineitem")
      .select(to_date(col("l_shipdate")).as("ship_date"), col("l_partkey"),
        col("l_quantity"))
    graft.ops.Partitioning.clusterBy(li, 16, "ship_date")
      .write.mode("overwrite").parquet(s"$dir/linear")
    def scanRows(path: String, pred: org.apache.spark.sql.Column): Long = {
      val df = spark.read.parquet(path).filter(pred).agg(sum(col("l_quantity")))
      df.collect()
      executedScans(df).head.metrics("numOutputRows").value
    }
    val total = li.count()
    // ~1/20 slice of the part-key domain
    val maxPart = li.agg(max(col("l_partkey"))).head().getLong(0)
    val partPred = col("l_partkey") < lit(maxPart / 20 + 1)
    val datePred = col("ship_date") >= lit("1999-03-01").cast("date") &&
      col("ship_date") < lit("1999-04-01").cast("date")
    // date-clustered files each span the whole partkey domain → the
    // partkey predicate cannot skip anything, while the date one can
    val linearPart = scanRows(s"$dir/linear", partPred)
    assert(linearPart == total,
      s"linear layout unexpectedly skipped on partkey ($linearPart of $total)")
    val linearDate = scanRows(s"$dir/linear", datePred)
    assert(linearDate <= total / 2,
      s"linear layout did not skip on date: read $linearDate of $total rows")
  }

  test("interleave_bits: bit-exact Morton order, codegen ≡ interpreted") {
    import graft.functions.ZOrderBits
    // closed-form checks of the spread/interleave math
    assert(ZOrderBits.interleave16(0, 0) == 0L)
    assert(ZOrderBits.interleave16(1, 0) == 1L)
    assert(ZOrderBits.interleave16(0, 1) == 2L)
    assert(ZOrderBits.interleave16(0xFFFF, 0) == 0x55555555L)
    assert(ZOrderBits.interleave16(0, 0xFFFF) == 0xAAAAAAAAL)
    assert(ZOrderBits.interleave16(0xFFFF, 0xFFFF) == 0xFFFFFFFFL)
    // masking: only the low 16 bits participate
    assert(ZOrderBits.interleave16(0x1FFFF, 0) == 0x55555555L)
    val rows = spark.range(1000)
      .selectExpr("cast(id % 97 as int) a", "cast(id % 89 as int) b")
      .selectExpr("a", "b", "interleave_bits(a, b) z")
      .collect()
    rows.foreach { r =>
      assert(r.getLong(2) ==
        ZOrderBits.interleave16(r.getInt(0), r.getInt(1)))
    }
  }

  test("pinned limitation: TIMESTAMP_NTZ predicates do not engage parquet skipping") {
    import org.apache.spark.sql.functions._
    // Spark's ParquetFilters only converts predicates on
    // isAdjustedToUTC=true (LTZ) timestamps; the filter IS pushed into the
    // scan's PushedFilters metadata but no row-group filter is created, so
    // every row is read. Pinned so a future Spark upgrade that lifts the
    // limitation (or a regression that breaks DATE skipping) is noticed —
    // the clustering-key guidance in Partitioning rests on it.
    val dir = tmpDir("graft-ntz")
    val li = graft.core.Tables.t(spark, sf, "lineitem")
      .select(col("l_shipdate"), col("l_quantity"))
    graft.ops.Partitioning.clusterBy(li, 8, "l_shipdate")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .filter(col("l_shipdate") >= lit("1999-03-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1999-04-01").cast("timestamp_ntz"))
      .agg(sum(col("l_quantity")))
    df.collect()
    val scanned = executedScans(df).head.metrics("numOutputRows").value
    val total = graft.core.Tables.t(spark, sf, "lineitem").count()
    assert(scanned == total,
      s"NTZ scan read $scanned of $total rows — Spark now skips on NTZ " +
        "stats; the DATE-clustering guidance can be revisited")
  }

  test("decontaminate bloom pre-filter changes the plan, not the result") {
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bloom = graft.llm.TextOps.decontaminate(spark, sf, evalBloom = true)
    val plain = graft.llm.TextOps.decontaminate(spark, sf, evalBloom = false)
    // the sketch probe must be IN the train-side plan (filter before join)
    assert(bloom.queryExecution.executedPlan.toString.contains("might_contain"),
      "bloom path lost its might_contain pre-filter")
    assert(!plain.queryExecution.executedPlan.toString.contains("might_contain"))
    // bloom admits false positives only; the exact join keeps results equal
    assert(rows(bloom) == rows(plain),
      "bloom pre-filter changed the decontamination result")
  }

  test("whole registry: no scale-killer joins, dimensions never shuffle") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // the only queries whose SEMANTICS are a product (driver entries that
    // exist to exercise cross/theta joins)
    val cartesianOk = Set("join_cross", "join_theta")
    // THE BNLJ REGISTRY (VERDICT r10 #8: one annotated table). Every
    // BroadcastNestedLoopJoin the board plans is a DELIBERATE broadcast of
    // a side bounded by a VALUE DOMAIN or a fixed quota — never by data
    // volume — streamed against the fact side, which is exactly the
    // 100 TB plan. Key = query, value = the documented bound of the
    // broadcast side. Any NEW query that plans a BNLJ must either add
    // itself here WITH its bound or fix its join condition.
    val bnljOk: Map[String, String] = Map(
      "join_cross"            -> "semantics ARE a product (cross-join row)",
      "llm_cosine_topk"       -> "fixed quota: <=50 query vectors",
      "llm_knn_label"         -> "fixed quota: <=50 query vectors",
      "llm_ann_ivf"           -> "k-row centroid table (k = cell count)",
      "llm_ann_pq"            -> "inherits llm_ann_ivf k-row centroids (probe)",
      "llm_quality_filter"    -> "1-row scalar cutoff aggregate",
      "llm_curation_pipeline" -> "1-row scalar cutoff aggregate",
      "llm_langid"            -> "1-row vocabulary-size aggregate",
      "llm_tfidf"             -> "1-row corpus doc-count aggregate",
      "llm_lm_score"          -> "1-row vocabulary-size aggregate",
      "llm_ann_lsh_recall"    -> "<=20-query brute-force ground truth",
      "llm_ann_ivf_recall"    -> "<=20-query brute-force ground truth",
      "llm_ann_pq_recall"     -> "<=20-query brute-force ground truth",
      "llm_mrl_truncation"    -> "<=20 query vectors, full+sliced kernels",
      "llm_rrf_fusion"        -> "<=20 query vectors, both rankings one pass",
      "ml_isotonic"           -> "<=200-row score-BIN table i<=j self-join",
      "ml_ndcg"               -> "<=20 query vectors + rank window",
      "llm_coreset_kcenter"   -> "<=5-row greedy selected set per round",
      "tpch_q11_important"    -> "1-row national-total threshold (Q15 shape)",
      "evt_shapley_attribution" -> "16-row coalition lattice (2^4 subsets)",
      "fn_inet"               -> "5-row CIDR block table (routing domain)",
      "agg_mutual_info"       -> "|o_orderpriority|=5 marginal product grid",
      "llm_kmeans_assign"     -> "k-row centroids (k=8)",
      "llm_kmeans_step"       -> "k-row centroids (k=8)",
      "llm_kmeans_iterate"    -> "k-row centroids (k=8)",
      "llm_semdedup"          -> "k-row centroids (k=8) + cell buckets",
      "llm_rouge_pairs"       -> "bounded reference-summary set (<=10 docs)",
      "llm_self_bleu2"        -> "<=10-doc pool, ordered pairs = 90 rows",
      "fn_jaro_winkler"       -> "distinct part-NAME catalog (name domain; production linkage uses er_blocked_pairs equi-blocking)",
      "ml_naive_bayes"        -> "|classes|=5 label-domain fan-out",
      "ml_confusion"          -> "|classes|=5 label-domain fan-out",
      "ml_quantile_normalize" -> "value-domain CDF tables (distinct values)",
      "fn_point_in_polygon"   -> "6-row polygon edge table (VALUES literal)",
      "ml_cohens_kappa"       -> "inherits NB class fan-out; joins <=|classes| rows",
      "ml_learning_curve"     -> "4-row cumulative-model table (fold count)",
      "agg_kendall_tau"       -> "50x11-cell contingency grid (value domains)",
      "ml_precision_at_k"     -> "<=20 query vectors",
      "llm_hard_negatives"    -> "<=20 query vectors + label predicate",
      "llm_mmr_rerank"        -> "<=20 query vectors pool stage; greedy bounded by pool^2 = 64 rows/query",
      "llm_mmr_rerank_ann"    -> "k-row centroid probe (IVF pool stage) + <=20 query vectors",
      "llm_mmr_rerank_ann_recall" -> "<=20-query MMR selections, both pool variants",
      "ml_smote_midpoints"    -> "minority-class self-pairing exactness anchor (corpus scale: IVF candidates — see PLANS.md)")
    def walk(pl: SparkPlan): Seq[SparkPlan] = pl match {
      case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    // structural exception, no allowlisting needed: a BNLJ whose broadcast
    // side contains a grouping-less aggregate is PROVABLY one row (global
    // aggregates emit exactly one) — the scalar-broadcast pattern
    // (bounds / cutoffs / pooled stats attached to every fact row), O(n·1)
    // at any scale
    def allBnljBuildsAreScalar(pl: SparkPlan): Boolean = {
      import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
      import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
      // The ROOT of the build side (modulo wrappers that cannot grow the
      // row count: exchanges, projections, filters, codegen shells) must
      // itself be the grouping-less aggregate — `exists` anywhere below
      // would let scalarAgg.join(bigTable) slip through the audit.
      def scalarAgg(p: SparkPlan): Boolean = {
        import org.apache.spark.sql.execution.{ColumnarToRowExec, FilterExec,
          InputAdapter, ProjectExec, WholeStageCodegenExec}
        import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
        import org.apache.spark.sql.execution.adaptive.BroadcastQueryStageExec
        @annotation.tailrec
        def root(q: SparkPlan): SparkPlan = q match {
          case a: AdaptiveSparkPlanExec => root(a.inputPlan)
          case b: BroadcastQueryStageExec => root(b.plan)
          case e: BroadcastExchangeExec => root(e.child)
          case w: WholeStageCodegenExec => root(w.child)
          case i: InputAdapter => root(i.child)
          case c: ColumnarToRowExec => root(c.child)
          case pr: ProjectExec => root(pr.child)
          case f: FilterExec => root(f.child) // filters only shrink: ≤ 1 row
          case other => other
        }
        root(p) match {
          case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec =>
            h.groupingExpressions.isEmpty
          case h: org.apache.spark.sql.execution.aggregate.SortAggregateExec =>
            h.groupingExpressions.isEmpty
          case h: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec =>
            h.groupingExpressions.isEmpty
          case _ => false
        }
      }
      walk(pl).collect { case b: BroadcastNestedLoopJoinExec => b }
        .forall { b =>
          scalarAgg(b.buildSide match {
            case BuildLeft => b.left
            case BuildRight => b.right
          })
        }
    }
    // The three checks, applied to ONE physical plan (either a query's
    // final plan or a pre-checkpoint segment captured by Ckpt.recording).
    def audit(n: String, plan: SparkPlan, where: String): Seq[String] = {
      val s = plan.toString
      Seq(
        (s.contains("CartesianProduct") && !cartesianOk(n)) ->
          "CartesianProduct",
        (s.contains("BroadcastNestedLoopJoin") && !bnljOk.contains(n) &&
          !allBnljBuildsAreScalar(plan)) ->
          "BroadcastNestedLoopJoin",
        // region/nation are bounded dimensions (25/5 rows at any SF):
        // a shuffle over them means a join chose sort-merge/shuffled-hash
        // where a broadcast was the only sane 100 TB plan
        walk(plan).exists {
          case ex: ShuffleExchangeExec => walk(ex).exists {
            case f: FileSourceScanExec =>
              f.metadata.get("Location").exists(l =>
                l.contains("region.parquet") || l.contains("nation.parquet"))
            case _ => false
          }
          case _ => false
        } -> "dimension-shuffle"
      ).collect { case (true, tag) => s"$n$where: $tag" }
    }
    // Record every pre-checkpoint plan built while constructing the board:
    // a localCheckpoint truncates the audited plan at a LogicalRDD
    // boundary, so without this a checkpointed query would evade the BNLJ/
    // cartesian registry entirely (the r11 llm_mmr_rerank blind spot).
    // Segments from SessionCache-cached fits built by EARLIER suites in
    // the same JVM are not re-captured (best effort); the registry entries
    // for those queries document their bounds explicitly.
    graft.core.Ckpt.recording = true
    graft.core.Ckpt.drain()
    val offenders =
      try SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (n, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan
        val segs = graft.core.Ckpt.drain()
        audit(n, plan, "") ++ segs.flatMap { case (site, p) =>
          audit(n, p, s" [ckpt segment @ $site]") }
      }
      finally graft.core.Ckpt.recording = false
    assert(offenders.isEmpty,
      s"scale-killer plans shipped:\n  ${offenders.mkString("\n  ")}")
  }

  test("AQE coalesces undersized shuffle partitions at runtime") {
    // the other half of the AQE story next to PartitioningSpec's skew
    // split: a tiny aggregate under 32 shuffle partitions must NOT run 32
    // reduce tasks — AQE folds them into a handful sized by
    // advisoryPartitionSizeInBytes. At 100 TB this is what keeps
    // shuffle.partitions=2000-style global settings from drowning small
    // stages in empty tasks.
    val df = graft.core.Tables.t(spark, sf, "nation")
      .groupBy(org.apache.spark.sql.functions.col("n_regionkey"))
      .count()
    val qe = df.queryExecution
    assert(qe.executedPlan.execute().count() == 5)
    val finalPlan = qe.executedPlan.toString
    assert(finalPlan.contains("AQEShuffleRead coalesced"),
      s"AQE did not coalesce the tiny shuffle:\n$finalPlan")
  }

  test("cache() swaps the scan for InMemoryTableScan until unpersist") {
    import org.apache.spark.sql.functions.col
    // the interactive-reuse lever: a cached frame must serve later plans
    // from the columnar in-memory relation, and release it on unpersist.
    // At 100 TB this is per-stage working-set pinning (e.g. a dimension
    // reused across a session), not whole-dataset caching.
    val dim = graft.core.Tables.t(spark, sf, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    dim.cache()
    try {
      dim.count() // materialize
      val reuse = dim.filter(col("c_nationkey") === 3)
      val physical = reuse.queryExecution.executedPlan
      assert(physical.toString.contains("InMemoryTableScan"),
        s"cached frame not served from memory:\n$physical")
      // the cached relation still prunes: the filter shows up above the
      // in-memory scan rather than forcing a fresh file read. Walk the
      // executed tree — the InMemoryRelation's provenance plan is a field,
      // not a child, so a live file scan would appear as an actual node.
      val fileScans = physical.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(fileScans.isEmpty, "cached plan fell back to the file scan")
    } finally dim.unpersist(blocking = true)
    val after = dim.filter(col("c_nationkey") === 3)
      .queryExecution.executedPlan.toString
    assert(!after.contains("InMemoryTableScan"),
      "unpersist did not release the cached relation")
  }

  test("join strategy hints override Catalyst's default choice") {
    import org.apache.spark.sql.functions.col
    // SHUFFLE_MERGE / SHUFFLE_HASH hints are the manual override when a
    // build side is too big to hash or a merge is known cheaper; pin that
    // they actually reach the physical plan (and that the default for
    // this shape is a broadcast, so the hints demonstrably changed it).
    val o = graft.core.Tables.t(spark, sf, "orders")
    val c = graft.core.Tables.t(spark, sf, "customer")
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.collect(); df.queryExecution.executedPlan.toString
    }
    val default = planOf(o.join(c, o("o_custkey") === c("c_custkey")))
    assert(default.contains("BroadcastHashJoin"),
      s"expected the small dim to broadcast by default:\n$default")
    val merged = planOf(o.join(c.hint("SHUFFLE_MERGE"),
      o("o_custkey") === c("c_custkey")))
    assert(merged.contains("SortMergeJoin"),
      s"SHUFFLE_MERGE hint ignored:\n$merged")
    val hashed = planOf(o.join(c.hint("SHUFFLE_HASH"),
      o("o_custkey") === c("c_custkey")))
    assert(hashed.contains("ShuffledHashJoin"),
      s"SHUFFLE_HASH hint ignored:\n$hashed")
  }

  test("ANALYZE TABLE column statistics drive CBO cardinality estimates") {
    import org.apache.spark.sql.functions.col
    val conf = Seq("spark.sql.cbo.enabled" -> "true")
    val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      spark.sql("DROP TABLE IF EXISTS cbo_orders")
      graft.core.Tables.t(spark, sf, "orders").write.saveAsTable("cbo_orders")
      spark.sql("ANALYZE TABLE cbo_orders COMPUTE STATISTICS" +
        " FOR COLUMNS o_orderkey, o_totalprice")
      val full = spark.table("cbo_orders")
      val n = full.count()
      // row-count statistics reach the optimizer verbatim...
      assert(full.queryExecution.optimizedPlan.stats.rowCount
          .contains(BigInt(n)),
        s"catalog rowCount did not reach the optimizer (n=$n)")
      // ...and column min/max make a range filter's estimate selective:
      // without stats Spark guesses a fixed fraction of an unknown size;
      // with them the estimated cardinality lands inside (0, n) — the
      // signal CBO join ordering and broadcast decisions are built on
      val cheap = full.filter(col("o_totalprice") < 1000.0)
      val est = cheap.queryExecution.optimizedPlan.stats.rowCount
      assert(est.isDefined, "filter estimate lost the row count")
      assert(est.get >= BigInt(0) && est.get < BigInt(n) / 10,
        s"min/max-based estimate not selective: ${est.get} of $n")
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      spark.sql("DROP TABLE IF EXISTS cbo_orders")
    }
  }

  test("r10 additions: pruned scans, no cartesian, codegen-safe predicates") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    def nodes(df: DataFrame): Seq[SparkPlan] = {
      def go(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          go(a.inputPlan)
        case other => other +: (other.children ++ other.subqueries).flatMap(go)
      }
      go(df.queryExecution.executedPlan)
    }
    // ml_group_linreg: the "many models" contract is ONE grouped
    // aggregate over the joined fact — per-group work must not plan a
    // per-group loop (exactly one lineitem scan) and the scan must prune
    // to the 4 referenced columns
    val gl = SparkEntry.queries("ml_group_linreg")(spark, sf)
    val liScans = scans(gl)
      .filter(_.metadata.get("Location").exists(_.contains("lineitem")))
    assert(liScans.size == 1,
      s"ml_group_linreg must scan lineitem once, got ${liScans.size}")
    val cols = liScans.head.output.map(_.name).toSet
    assert(cols.subsetOf(Set("l_suppkey", "l_extendedprice", "l_quantity",
      "l_discount")), s"unpruned lineitem scan: $cols")
    // graph_katz: each superstep joins the |V|-row state — never a
    // cartesian product anywhere in the 4-round plan
    assert(!nodes(SparkEntry.queries("graph_katz")(spark, sf))
      .exists(_.isInstanceOf[CartesianProductExec]),
      "graph_katz must not plan a cartesian product")
    // llm_simhash_neardup: the first-matching-bank dedup must be the
    // scalar CASE (codegen), never a filter/forall HOF (interpreted per
    // collision row — the 80 s regression the r10 probe caught)
    val sh = SparkEntry.queries("llm_simhash_neardup")(spark, sf)
    val planText = sh.queryExecution.executedPlan.toString
    assert(!planText.contains("forall("),
      "simhash collision dedup must not use an interpreted HOF predicate")
    assert(planText.contains("CASE WHEN"),
      "simhash collision dedup must be the scalar CASE chain")
  }
}
