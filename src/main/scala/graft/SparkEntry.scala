package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A query family: its named query builders and their DuckDB twins. */
trait Family {
  /** A query: (session, data directory) → result. */
  type Q = (SparkSession, String) => DataFrame
  def defs: Map[String, Q]
  def sql: Map[String, String]
}

/** Engine entry contract — see SURVEY.md §7.
  *
  * `queries` is the full operator inventory (SURVEY.md §2), built from the
  * one list of query families, [[families]]; every entry with a matching
  * `oracleSql` is hash-checked against DuckDB on the same parquet. Entries
  * without oracle SQL (engine-specific hashes, ANN, ML pipelines) get a
  * rows-only check and are validated in ScalaTest instead.
  *
  * Session contract: every query runs on a session built by
  * [[graft.core.Session.builder]], or on any session that carries
  * `spark.sql.extensions=graft.plans.GraftExtensions`. The extension is the
  * only install path for the graft SQL functions, the typed aggregates
  * included, and the native join strategies; no query registers anything.
  * On a session without it a query fails when it is analysed (unresolved
  * function) or planned (no strategy for the native join).
  */
object SparkEntry {

  /** Every query family, each named once. */
  private[graft] val families: Seq[Family] = Seq(
    graft.queries.Relational,
    graft.queries.Windows,
    graft.queries.Scalars,
    graft.queries.Taxi,
    graft.queries.EventsBatch,
    graft.queries.Extended,
    graft.queries.Subqueries,
    graft.queries.Graph,
    graft.queries.Analytics,
    graft.queries.FeatureEng,
    graft.queries.Hypothesis,
    graft.queries.EntityRes,
    graft.queries.MlTrain,
    graft.queries.Resampling,
    graft.llm.TextOps,
    graft.llm.Semantic,
    graft.llm.SimSearch,
    graft.llm.Dedup,
    graft.llm.Multimodal,
    graft.llm.Curation)

  /** The union of one map per family. A name two families define throws,
    * naming both, instead of one silently shadowing the other. */
  private[graft] def byName[V](fs: Seq[Family])(part: Family => Map[String, V]): Map[String, V] = {
    val entries = for (f <- fs; (k, v) <- part(f)) yield (k, f, v)
    entries.groupBy(_._1).foreach { case (k, es) =>
      if (es.size > 1)
        throw new IllegalArgumentException(s"query $k is defined by more than one family: " +
          es.map(_._2.getClass.getSimpleName.stripSuffix("$")).mkString(" and "))
    }
    entries.map { case (k, _, v) => k -> v }.toMap
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("join_star_revenue")(spark, "/root/testdata/sf0.001")

  val queries: Map[String, (SparkSession, String) => DataFrame] = byName(families)(_.defs)

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

  private[graft] def rawOracleSql: Map[String, String] = byName(families)(_.sql)
}
