package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Engine entry contract — see SURVEY.md §7.
  *
  * `queries` is the full operator inventory (SURVEY.md §2); every entry with
  * a matching `oracleSql` is hash-checked against DuckDB on the same
  * parquet. Entries without oracle SQL (engine-specific hashes, ANN, ML
  * pipelines) get the driver's rows-only check and are validated in
  * ScalaTest instead.
  *
  * Session contract: every query runs on a session built by
  * [[graft.core.Session.builder]], or on any session that carries
  * `spark.sql.extensions=graft.plans.GraftExtensions`. The extension is the
  * only install path for the graft SQL functions and the native join
  * strategies; on a session without it a query fails when it is analysed
  * (unresolved function) or planned (no strategy for the native join).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("join_star_revenue")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.defs ++
    graft.queries.Windows.defs ++
    graft.queries.Scalars.defs ++
    graft.queries.Taxi.defs ++
    graft.queries.EventsBatch.defs ++
    graft.queries.Extended.defs ++
    graft.queries.Subqueries.defs ++
    graft.queries.Graph.defs ++
    graft.queries.Analytics.defs ++
    graft.queries.FeatureEng.defs ++
    graft.queries.Hypothesis.defs ++
    graft.queries.EntityRes.defs ++
    graft.queries.MlTrain.defs ++
    graft.queries.Resampling.defs ++
    graft.llm.TextOps.defs ++
    graft.llm.Semantic.defs ++
    graft.llm.SimSearch.defs ++
    graft.llm.Dedup.defs ++
    graft.llm.Multimodal.defs ++
    graft.llm.Curation.defs

  /** Oracle twins, each rewritten by [[graft.core.TwinSql.materialize]]:
    * DuckDB inlines CTEs by default, so the unrolled-iteration twin
    * pattern (each round's CTE referencing the previous round 2-3×)
    * otherwise expands exponentially — the r10 sweep cost ≈606 s of
    * oracle CPU (graph_ktruss alone 212 s); with `AS MATERIALIZED` the
    * same 439 twins run in ≈21 s at sf0.01. Plan hint only — results are
    * identical modulo sub-6dp float summation order (TwinSqlSpec). */
  def oracleSql: Map[String, String] = rawOracleSql.map { case (k, v) =>
    k -> graft.core.TwinSql.materialize(v)
  }

  private[graft] def rawOracleSql: Map[String, String] =
    graft.queries.Relational.sql ++
    graft.queries.Windows.sql ++
    graft.queries.Scalars.sql ++
    graft.queries.Taxi.sql ++
    graft.queries.EventsBatch.sql ++
    graft.queries.Extended.sql ++
    graft.queries.Subqueries.sql ++
    graft.queries.Graph.sql ++
    graft.queries.Analytics.sql ++
    graft.queries.FeatureEng.sql ++
    graft.queries.Hypothesis.sql ++
    graft.queries.EntityRes.sql ++
    graft.queries.MlTrain.sql ++
    graft.queries.Resampling.sql ++
    graft.llm.TextOps.sql ++
    graft.llm.Semantic.sql ++
    graft.llm.SimSearch.sql ++
    graft.llm.Dedup.sql ++
    graft.llm.Multimodal.sql ++
    graft.llm.Curation.sql
}
