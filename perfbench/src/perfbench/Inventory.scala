package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's query inventory, grouped by the `defs` object each entry
  * comes from (a "family"), and the result fingerprint every query op is
  * timed through. */
object Inventory {
  type Query = (SparkSession, String) => DataFrame

  final case class Entry(layer: String, family: String, name: String, q: Query)

  val queryFamilies: Seq[(String, Map[String, Query])] = Seq(
    "Relational" -> graft.queries.Relational.defs,
    "Windows" -> graft.queries.Windows.defs,
    "Scalars" -> graft.queries.Scalars.defs,
    "Taxi" -> graft.queries.Taxi.defs,
    "EventsBatch" -> graft.queries.EventsBatch.defs,
    "Extended" -> graft.queries.Extended.defs,
    "Subqueries" -> graft.queries.Subqueries.defs,
    "Graph" -> graft.queries.Graph.defs,
    "Analytics" -> graft.queries.Analytics.defs,
    "FeatureEng" -> graft.queries.FeatureEng.defs,
    "Hypothesis" -> graft.queries.Hypothesis.defs,
    "EntityRes" -> graft.queries.EntityRes.defs,
    "MlTrain" -> graft.queries.MlTrain.defs,
    "Resampling" -> graft.queries.Resampling.defs)

  /** `Multimodal.defs` read the repo's asset fixture through an absolute
    * path that a checkout elsewhere does not have. These run the same
    * kernels over the copy in `data/multimodal`, next to the table
    * directory. Every kernel keys its rows on the file name, not the path,
    * so the results equal those of `defs`. */
  val multimodal: Map[String, Query] = {
    import graft.llm.Multimodal._
    def local(kernel: (SparkSession, String) => DataFrame): Query =
      (s, data) => kernel(s, new java.io.File(new java.io.File(data).getParentFile, "multimodal").getPath)
    defs ++ Map(
      "llm_multimodal_meta" -> local(fileMeta),
      "mm_frame_sample" -> local(frameSample),
      "mm_audio_rms" -> local(audioRms),
      "mm_audio_vad" -> local(audioVad),
      "mm_shot_boundary" -> local(shotBoundary),
      "mm_patch_grid" -> local(patchGrid))
  }

  val llmFamilies: Seq[(String, Map[String, Query])] = Seq(
    "TextOps" -> graft.llm.TextOps.defs,
    "Semantic" -> graft.llm.Semantic.defs,
    "SimSearch" -> graft.llm.SimSearch.defs,
    "Dedup" -> graft.llm.Dedup.defs,
    "Multimodal" -> multimodal,
    "Curation" -> graft.llm.Curation.defs)

  def entries(layer: String, fams: Seq[(String, Map[String, Query])]): Seq[Entry] =
    for {
      (fam, defs) <- fams
      (name, q) <- defs.toSeq.sortBy(_._1)
    } yield Entry(layer, fam, name, q)

  lazy val all: Seq[Entry] =
    entries("queries", queryFamilies) ++ entries("llm", llmFamilies)

  /** Doubles are rounded to 6 dp (the oracle's comparison precision) and
    * maps become sorted entry arrays, since `xxhash64` rejects maps. */
  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) if needsCanon(et) => transform(c, x => canon(x, et))
    case StructType(fs) if fs.exists(f => needsCanon(f.dataType)) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(k, v, _) =>
      canon(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", k), StructField("value", v)))))
    case _ => c
  }

  private def needsCanon(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | MapType(_, _, _) => true
    case ArrayType(et, _) => needsCanon(et)
    case StructType(fs) => fs.exists(f => needsCanon(f.dataType))
    case _ => false
  }

  /** Order-insensitive fingerprint consuming every output column: row count
    * plus the sum of per-row `xxhash64` over all columns. The sum is taken
    * as decimal(38,0) because a long sum overflows under ANSI mode. */
  def fingerprint(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.agg(count(lit(1)).as("rows"),
      coalesce(sum(h.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("fp"))
  }

  /** `oracle` is "match" or "mismatch" for entries with a DuckDB twin, "none" otherwise. */
  final case class Expected(rows: Long, fp: String, oracle: String)
}
