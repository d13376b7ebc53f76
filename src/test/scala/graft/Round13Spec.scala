package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** r13 (VERDICT r12 #3): QUANTITATIVE sf1 anchors for the nine queries
  * whose DuckDB twins are oracle-infeasible at sf1 (the replica is the
  * brute O(n²) form by design). "Ran engine-side at sf1" was the r12
  * evidence; these tests replace it with planted-ground-truth recall /
  * internal-consistency checks against the GenScale sf1 fixture, whose
  * construction (10 token-salted / rotated / key-offset replicas of
  * sf0.1, ids offset by r·10⁷) makes exact expectations derivable:
  *  - text replicas share no vocabulary and rep 0 is VERBATIM sf0.1, so
  *    a pair query restricted to rep-0 ids must equal its sf0.1 result;
  *  - embedding replicas are rotations (within-replica cosines exact),
  *    so candidate-superset monotonicity holds for nearest neighbors;
  *  - TPC-H name/text domains replicate verbatim, so cross-replica
  *    duplicate pairs are PLANTED with exactly known counts.
  * Every test `assume`s the fixture (gitignored; `runMain graft.GenScale`
  * regenerates it) — cancelled, not failed, on a fresh clone. */
class Round13Spec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val sf01 = "/root/testdata/sf0.1"
  private val sf1 = graft.core.Tables.fixture("sf1")
  private val REP = 10000000L
  private def haveSf1 =
    new java.io.File(s"$sf1/documents.parquet").exists &&
      new java.io.File(s"$sf1/lineitem.parquet").exists
  // the rep-0/sf0.1-baseline tests ALSO read the driver testdata — on a
  // host with the sf1 fixture but no /root/testdata they must cancel,
  // not fail (ADVICE r13)
  private def haveSf01 =
    new java.io.File(s"$sf01/documents.parquet").exists &&
      new java.io.File(s"$sf01/customer.parquet").exists

  private def q(name: String, d: String): DataFrame =
    SparkEntry.queries(name)(spark, d)

  /** (id1, id2) pair set of a result's first two long columns. */
  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("sf1: join_fuzzy_hamming finds every planted cross-replica pair") {
    assume(haveSf1)
    // bounded sf1 slice that keeps the full planted structure: all 10
    // replicas of the first ~1500 base customers (names replicate
    // VERBATIM, so each base id plants C(10,2)=45 distance-0 pairs and
    // each rep-0 near-pair replicates across all 100 replica combos).
    // The REAL board query runs against a temp dir holding the slice.
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-r13-fuzzy").toString
    graft.core.Tables.t(spark, sf1, "customer")
      .filter(pmod(col("c_custkey"), lit(REP)) < 1500)
      .write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    val out = q("join_fuzzy_hamming", tmp)
      .select(col("id1"), col("id2"), col("dist")).collect()
    val nb = spark.read.parquet(s"$tmp/customer.parquet")
      .select(pmod(col("c_custkey"), lit(REP))).distinct().count()
    val sameBase = out.filter(r => r.getLong(0) % REP == r.getLong(1) % REP)
    // planted recall is EXACT: every same-base replica pair, at dist 0
    assert(sameBase.length == nb * 45,
      s"planted cross-replica pairs: ${sameBase.length} != ${nb * 45}")
    assert(sameBase.forall(_.getInt(2) == 0))
    // cross-base structure replicates: a rep0 base pair appears in all
    // 100 replica combinations, and nothing else exists
    val rep0 = out.filter(r => r.getLong(0) < REP && r.getLong(1) < REP &&
      r.getLong(0) % REP != r.getLong(1) % REP)
    assert(out.length == nb * 45 + 100L * rep0.length,
      s"pair census: ${out.length} != ${nb * 45} + 100*${rep0.length}")
  }

  test("sf1: join_fuzzy_levenshtein is domain-stable with 10x frequencies") {
    assume(haveSf1 && haveSf01)
    // part NAMES replicate verbatim: the deduped name domain is identical
    // at sf1, so the pair set must match sf0.1 exactly and every
    // frequency must be exactly 10x
    def m(d: String) = q("join_fuzzy_levenshtein", d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getInt(2), r.getLong(3), r.getLong(4)))).toMap
    val base = m(sf01); val big = m(sf1)
    assert(big.keySet == base.keySet,
      s"name-pair domain drifted: ${big.size} vs ${base.size}")
    base.foreach { case (k, (lev, na, nb)) =>
      val (lev1, na1, nb1) = big(k)
      assert(lev1 == lev && na1 == na * 10 && nb1 == nb * 10,
        s"$k: ($lev1,$na1,$nb1) != ($lev, ${na * 10}, ${nb * 10})")
    }
  }

  test("sf1: llm_ann_lsh recall contract holds at 10x corpus") {
    assume(haveSf1)
    val r = q("llm_ann_lsh_recall", sf1).collect()
    assert(r.length == 1 && r(0).getBoolean(1),
      s"LSH recall below floor at sf1: ${r.mkString}")
  }

  test("sf1: llm_mmr_rerank exact pool runs and the ANN pool covers it") {
    assume(haveSf1)
    val r = q("llm_mmr_rerank_ann_recall", sf1).collect()
    assert(r.length == 1 && r(0).getBoolean(1),
      s"MMR ANN-pool recall below floor at sf1: ${r.mkString}")
  }

  test("sf1: llm_coreset_kcenter greedy trajectory verifies at 10x") {
    assume(haveSf1)
    val sel = q("llm_coreset_kcenter", sf1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(sel.length == 5)
    // Gonzalez invariant: the farthest-point max-sim is non-decreasing
    // as the selected set grows (covering radius shrinks)
    val sims = sel.drop(1).map(_._3)
    assert(sims.zip(sims.tail).forall { case (a, b) => a <= b },
      s"k-center max-sim not monotone: ${sims.mkString(",")}")
    // independent replay of the FINAL round: argmin over the corpus of
    // max sim_ppm to the first four picks must be exactly pick 5
    val first4 = sel.take(4).map(_._2)
    val emb = graft.core.Tables.t(spark, sf1, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val selDf = emb.filter(col("vec_id").isin(first4: _*))
      .select(col("vec_id").as("sid"), col("embedding").as("svec"))
    val got = emb.filter(!col("vec_id").isin(first4: _*))
      .crossJoin(broadcast(selDf))
      .withColumn("sim_ppm",
        floor(lit(1e6) * expr("cosine_similarity(embedding, svec)")
          + lit(0.5)).cast("long"))
      .groupBy(col("vec_id")).agg(max(col("sim_ppm")).as("ms"))
      .orderBy(col("ms"), col("vec_id")).limit(1).head()
    assert((got.getLong(0), got.getLong(1)) == ((sel(4)._2, sel(4)._3)),
      s"round-5 replay picked ${got.mkString} vs board ${sel(4)}")
  }

  test("sf1: llm_embedding_neardup rep-0 pairs equal the sf0.1 result") {
    assume(haveSf1 && haveSf01)
    // replica 0 vectors are verbatim sf0.1 and the LSH planes depend
    // only on dims — so the sf1 result restricted to rep-0 ids must BE
    // the sf0.1 pair set (extra replicas add candidates, but the exact
    // cos >= 0.45 verify keeps the final rep-0 pairs invariant)
    val base = pairSet(q("llm_embedding_neardup", sf01))
    val big = pairSet(q("llm_embedding_neardup", sf1)
      .filter(col("id1") < REP && col("id2") < REP))
    assert(big == base,
      s"rep-0 restriction drifted: ${big.size} vs ${base.size} pairs " +
        s"(missing ${(base -- big).take(3)}, extra ${(big -- base).take(3)})")
  }

  test("sf1: llm_simhash_neardup rep-0 pairs equal the sf0.1 result") {
    assume(haveSf1 && haveSf01)
    // rep-0 documents are verbatim sf0.1 -> identical signatures; salted
    // replicas share no vocabulary so they cannot add rep-0 pairs
    val base = pairSet(q("llm_simhash_neardup", sf01))
    val big = pairSet(q("llm_simhash_neardup", sf1)
      .filter(col("doc1") < REP && col("doc2") < REP))
    assert(big == base,
      s"rep-0 restriction drifted: ${big.size} vs ${base.size} pairs")
  }

  test("sf1: ml_smote_midpoints neighbors only improve at 10x corpus") {
    assume(haveSf1 && haveSf01)
    // labels replicate, so the minority class is the same and its rep-0
    // members are exactly the sf0.1 minority: with a candidate SUPERSET,
    // each rep-0 source's 1-NN similarity can only rise
    val base = q("ml_smote_midpoints", sf01).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val big = q("ml_smote_midpoints", sf1).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(big.length == base.size * 10,
      s"synthetic rows: ${big.length} != ${base.size * 10}")
    val rep0 = big.filter(_._1 < REP)
    assert(rep0.length == base.size)
    rep0.foreach { case (src, simPpm) =>
      assert(simPpm >= base(src),
        s"src $src: sf1 1-NN sim $simPpm < sf0.1 ${base(src)}")
    }
  }

  test("sf1: spatial_dbscan output satisfies the DBSCAN definition") {
    assume(haveSf1)
    // full internal-consistency replay at 10x density: recompute the
    // eps-ball neighbor graph with the same grid machinery and check
    // every clause of the definition against the board output
    def axis(salt: String): Column =
      conv(substring(md5(concat(lit(salt),
        col("s_suppkey").cast("string"))), 1, 4), 16, 10)
        .cast("bigint") % 10000
    val pts = graft.core.Tables.t(spark, sf1, "supplier")
      .select(col("s_suppkey").as("k"), axis("gx:").as("xi"),
        axis("gy:").as("yi"))
    val pairs = graft.ops.SpatialGrid.radiusSelfJoin(pts, 600L)
      .select(col("k1"), col("k2")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
      .withDefaultValue(Nil)
    pairs.foreach { case (a, b) => adj(a) ::= b; adj(b) ::= a }
    val out = q("spatial_dbscan", sf1).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out.size == pts.count(), "roles must cover every point")
    val core = out.collect { case (k, ("core", c)) => k -> c }
    // 1. core <=> >= 3 neighbors within eps
    out.foreach { case (k, (role, _)) =>
      assert((adj(k).size >= 3) == (role == "core"),
        s"$k: ${adj(k).size} neighbors but role $role")
    }
    // 2. eps-adjacent cores share a cluster; labels are min member ids
    pairs.foreach { case (a, b) =>
      (core.get(a), core.get(b)) match {
        case (Some(ca), Some(cb)) =>
          assert(ca == cb, s"adjacent cores $a/$b in clusters $ca/$cb")
        case _ =>
      }
    }
    core.groupBy(_._2).foreach { case (label, members) =>
      assert(members.keys.min == label,
        s"cluster $label: min core id ${members.keys.min}")
    }
    // 3. border = non-core with a core neighbor, labelled by the MIN
    //    adjacent core's cluster; noise = non-core with none
    out.foreach {
      case (k, ("border", c)) =>
        val cs = adj(k).flatMap(core.get)
        assert(cs.nonEmpty && cs.min == c,
          s"border $k: adjacent core clusters $cs vs label $c")
      case (k, ("noise", c)) =>
        assert(adj(k).forall(n => !core.contains(n)) && c == -1L,
          s"noise $k has a core neighbor or label $c")
      case _ =>
    }
  }
}
