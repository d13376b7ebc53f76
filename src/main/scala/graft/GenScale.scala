package graft

import graft.core.Session
import org.apache.spark.sql.functions._

/** DEV harness (not part of the engine): derive the sf1-equivalent
  * scaling fixture (VERDICT r9 #3) — a deterministic 10× expansion of
  * sf0.1's documents / embeddings / supplier into `fixtures/sf1`, giving
  * the text/embedding families a second genuine 10× step
  * (sf0.01 → sf0.1 → sf1) for the sf1 parity sweeps and the Round13Spec
  * anchors.
  *
  * The expansion is designed so the STRUCTURE scales linearly instead of
  * manufacturing artificial quadratic blowups:
  *  - documents: replica r > 0 salts every token with `q<r>` — replicas
  *    share NO vocabulary, so near-dup/shingle/minhash structure is 10
  *    independent copies of the sf0.1 corpus (cross-replica Jaccard = 0),
  *    while the vocabulary-sized graphs (TextRank, bigram LM) genuinely
  *    grow 10×.
  *  - embeddings: replica r rotates each vector by (r·17) mod dim
  *    positions — norms and within-replica geometry are preserved
  *    exactly; cross-replica cosines are near-random, like the base
  *    corpus's own pairs.
  *  - supplier: plain key-offset replication (coordinates in the spatial
  *    queries are md5-derived from the key, so replicas land at fresh
  *    positions; NOTE the fixed 10000² canvas means point DENSITY grows
  *    10× — eps-ball pair counts rise accordingly, an inherent property
  *    of the fixed-eps measurement, not of the plan).
  *
  * Ids offset by r·10⁷, so the `vec_id < 20` / `< 16` query/seed sets
  * stay exactly the sf0.1 ones.
  *
  *   runMain graft.GenScale [srcDir] [outDir] [reps]
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out =
      if (args.length > 1) args(1) else graft.core.Tables.fixture("sf1")
    val reps = if (args.length > 2) args(2).toInt else 10
    val spark = Session.builder("graft-genscale").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.core.Tables.t
    def replicated(name: String) = t(spark, src, name)
      .withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))

    replicated("documents")
      .select((col("doc_id") + col("rep") * 10000000L).as("doc_id"),
        when(col("rep") === 0, col("text")).otherwise(expr(
          "array_join(transform(split(text, ' ')," +
            " t -> concat(t, 'q', CAST(rep AS STRING))), ' ')")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    replicated("embeddings")
      .select((col("vec_id") + col("rep") * 10000000L).as("vec_id"),
        expr("transform(sequence(0, size(embedding) - 1)," +
          " j -> element_at(embedding," +
          " (CAST(j + rep * 17 AS INT) % size(embedding)) + 1))")
          .as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    replicated("supplier")
      .select((col("s_suppkey") + col("rep") * 10000000L).as("s_suppkey"),
        col("s_name"), col("s_nationkey"), col("s_acctbal"))
      .write.mode("overwrite").parquet(s"$out/supplier.parquet")

    // r11 (VERDICT r10 #5): the graph family's data-sized work is the
    // 4-table star join feeding the nation-level edge aggregate, so the
    // sf1 step needs the TPC-H fact tables too. Keys offset by rep·10⁷
    // CONSISTENTLY across tables (l_orderkey↔o_orderkey,
    // o_custkey↔c_custkey, l_suppkey↔s_suppkey) so referential structure
    // replicates; nationkeys stay 0..24 — the graph node domain must NOT
    // grow, only the rows contributing to each edge (10× mass per edge).
    def off(c: String) = col(c) + col("rep") * 10000000L
    replicated("orders")
      .withColumn("o_orderkey", off("o_orderkey"))
      .withColumn("o_custkey", off("o_custkey"))
      .drop("rep")
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    replicated("lineitem")
      .withColumn("l_orderkey", off("l_orderkey"))
      .withColumn("l_suppkey", off("l_suppkey"))
      .withColumn("l_partkey", off("l_partkey"))
      .drop("rep")
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    replicated("customer")
      .withColumn("c_custkey", off("c_custkey"))
      .drop("rep")
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
    replicated("part")
      .withColumn("p_partkey", off("p_partkey"))
      .drop("rep")
      .write.mode("overwrite").parquet(s"$out/part.parquet")
    replicated("events")
      .withColumn("event_id", off("event_id"))
      .withColumn("user_id", off("user_id"))
      .drop("rep")
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    // bounded dimensions copy VERBATIM — their domains are fixed at any SF
    t(spark, src, "nation").write.mode("overwrite")
      .parquet(s"$out/nation.parquet")
    t(spark, src, "region").write.mode("overwrite")
      .parquet(s"$out/region.parquet")

    println(s"[genscale] wrote ${reps}x $src -> $out")
    spark.stop()
  }
}
