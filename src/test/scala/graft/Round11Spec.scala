package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Contracts for the r11 operator wave: SimRank, Fellegi–Sunter weights,
  * Jensen–Shannon source divergence, Markov removal-effect attribution.
  * Each gets a from-scratch reference (crafted fixture or driver-side
  * brute recompute) on top of the driver's DuckDB hash parity. */
class Round11Spec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val sf = TestSession.sf

  private def writeEvents(rows: Seq[(Long, Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-r11").toString
    rows.map { case (eid, uid, et) =>
      (eid, new java.sql.Timestamp(1700000000000L + eid * 1000), uid, et,
        1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  test("graph_simrank matches a from-scratch integer recurrence") {
    val got = SparkEntry.queries("graph_simrank")(spark, sf)
      .collect().map(r => (r.getLong(2), r.getLong(3)) -> r.getLong(4))
      .toMap
    // brute reference off the same sparse graph (bounded: <= 75 edges)
    val nations = graft.core.Tables.t(spark, sf, "nation")
      .select(col("n_nationkey").cast("long")).collect().map(_.getLong(0))
    // re-derive the sparse edges exactly as the query does
    val li = graft.core.Tables.t(spark, sf, "lineitem")
    val o = graft.core.Tables.t(spark, sf, "orders")
    val c = graft.core.Tables.t(spark, sf, "customer")
    val su = graft.core.Tables.t(spark, sf, "supplier")
    val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(su, li("l_suppkey") === su("s_suppkey"))
      .groupBy(c("c_nationkey").cast("long").as("src"),
        su("s_nationkey").cast("long").as("dst"))
      .agg(sum(li("l_extendedprice") * (lit(1.0) - li("l_discount")))
        .as("w"))
      .filter(col("src") =!= col("dst"))
    val sparse = edges
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
          .orderBy(col("w").desc, col("dst"))))
      .filter(col("rn") <= 3)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val inn = sparse.groupBy(_._2).map { case (n, xs) =>
      n -> xs.map(_._1).toSeq }
    var s0: Map[(Long, Long), Long] =
      nations.map(n => (n, n) -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val stepped = (for {
        (a, ia) <- inn; (b, ib) <- inn if a != b
      } yield {
        val ssum = (for (i <- ia; j <- ib)
          yield s0.getOrElse((i, j), 0L)).sum
        (a, b) -> (4L * ssum) / (5L * ia.size * ib.size)
      }).filter(_._2 > 0L).toMap
      s0 = nations.map(n => (n, n) -> 1000000L).toMap ++ stepped
    }
    val exp = s0.collect {
      case ((a, b), v) if a < b && v > 0 => (a, b) -> v }
    assert(got == exp.toMap, "simrank ppm mismatch vs brute recurrence")
    assert(got.values.forall(v => v > 0 && v <= 1000000L))
  }

  test("er_fellegi_sunter weight signs and planted m-structure") {
    val rows = SparkEntry.queries("er_fellegi_sunter")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val (mBrand, uBrand, waB, wdB) = rows("brand")
    val (mName, _, waN, _) = rows("name")
    val (mType, _, _, _) = rows("ptype")
    // brand agrees in EVERY planted match pair; name only in the
    // type-corrupted half; smoothing keeps everything in (0, 1e6)
    assert(mBrand > 990000L && mBrand < 1000000L)
    assert(mName > 450000L && mName < 550000L)
    assert(mType > 450000L && mType < 550000L)
    assert(uBrand < mBrand)
    // agreement on a field that survives matches is positive evidence,
    // disagreement negative
    assert(waB > 0L && wdB < 0L)
    assert(waN > 0L)
  }

  test("llm_js_divergence is within [0, ln 2] and matches a driver recompute for one source") {
    val got = SparkEntry.queries("llm_js_divergence")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(got.values.forall(v => v >= 0L && v <= 693147181L),
      "JSD must sit in [0, ln 2] ppb")
    // from-scratch recompute for the lexicographically first source
    val src = got.keys.min
    val toks = graft.core.Tables.t(spark, sf, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val nS = toks.filter(_._1 == src).map(_._3).sum
    val nG = toks.map(_._3).sum
    val gTok = toks.groupBy(_._2).map { case (t, xs) =>
      t -> xs.map(_._3).sum }
    var total = 0L
    var rS = 0L
    toks.filter(_._1 == src).foreach { case (_, t, cSt) =>
      val cRt = gTok(t) - cSt
      rS += cRt
      val p = cSt.toDouble / nS.toDouble
      val q = cRt.toDouble / (nG - nS).toDouble
      val term = 0.5 * (p * math.log((2 * p) / (p + q)) +
        (if (cRt > 0) q * math.log((2 * q) / (p + q)) else 0.0))
      total += math.floor(1e9 * term + 0.5).toLong
    }
    val lump = math.floor(1e9 * (0.5 *
      (((nG - nS) - rS).toDouble / (nG - nS).toDouble) *
      math.log(2.0)) + 0.5).toLong
    assert(got(src) == total + lump, s"JSD recompute mismatch for $src")
  }

  test("markov attribution: converting channel takes all the credit on a crafted fixture") {
    // click leads to purchase for 2 of 3 click-users; view never precedes
    // a purchase; error never converts
    val rows = Seq(
      (1L, 1L, "click"), (2L, 1L, "purchase"),
      (3L, 2L, "click"), (4L, 2L, "purchase"),
      (5L, 3L, "click"),
      (6L, 4L, "view"),
      (7L, 5L, "view"),
      (8L, 6L, "error"))
    val dir = writeEvents(rows)
    val got = SparkEntry.queries("evt_markov_attribution")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    val (pfC, pcC, reC, attrC) = got("click")
    assert(pcC == 0L, "removing click must kill every conversion path")
    assert(reC == 1000000L && attrC == 1000000L)
    got.filterNot(_._1 == "click").values.foreach {
      case (_, pc, re, attr) =>
        assert(re == 0L && attr == 0L, "non-converting channel credited")
        assert(pc == pfC, "removing a dead channel changed P(conv)")
    }
  }

  test("llm_mmr_rerank matches a from-scratch greedy recompute") {
    val got = SparkEntry.queries("llm_mmr_rerank")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // rebuild the pool + pairwise sims driver-side and replay the greedy
    import spark.implicits._
    val emb = graft.core.Tables.t(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val pool = emb.select(col("vec_id").as("cid"), col("embedding").as("cv"))
      .join(broadcast(q), col("cid") =!= col("qid"))
      .withColumn("r", expr(
        "CAST(floor(1e6 * cosine_similarity(qv, cv) + 0.5) AS BIGINT)"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("r").desc, col("cid"))))
      .filter(col("rn") <= 8)
      .select(col("qid"), col("cid"), col("r"), col("cv"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Float](3).toArray))
    def cosMicro(a: Array[Float], b: Array[Float]): Long = {
      var dot = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        aa += a(i).toDouble * a(i).toDouble
        bb += b(i).toDouble * b(i).toDouble; i += 1
      }
      math.floor(1e6 * dot / math.sqrt(aa * bb) + 0.5).toLong
    }
    pool.groupBy(_._1).foreach { case (qid, members) =>
      val byCid = members.map(m => m._2 -> (m._3, m._4)).toMap
      var selected = Vector.empty[Long]
      for (k <- 1 to 5) {
        val cands = byCid.keys.filterNot(selected.contains).toSeq
        val pickKey = cands.map { c =>
          val r = byCid(c)._1
          val score = if (k == 1) r
            else 7L * r - 3L * selected.map(sc =>
              cosMicro(byCid(c)._2, byCid(sc)._2)).max
          c -> (score * 100000000L - c)
        }
        val pick = pickKey.maxBy(_._2)._1
        assert(got((qid, k))._1 == pick,
          s"q$qid pick$k: engine ${got((qid, k))._1} vs reference $pick")
        selected :+= pick
      }
    }
    // shape: 20 queries x 5 distinct picks
    assert(got.size == 100)
  }

  test("evt_uplift_qini: planted heterogeneous effect lands in the top decile") {
    // 20 users: even ids = control, odd = treated. Users 0..9 are
    // high-engagement (3 views), 10..19 low (1 view). Treated
    // high-engagement users convert; control never; treated
    // low-engagement never — all uplift sits in the top deciles.
    val rows = (0L until 20L).flatMap { uid =>
      val hi = uid < 10
      val views = (1L to (if (hi) 3L else 1L)).map(k =>
        (uid * 10 + k, uid, "view"))
      val conv = if (hi && uid % 2 == 1)
        Seq((uid * 10 + 9, uid, "purchase")) else Seq.empty
      views ++ conv
    }
    val dir = writeEvents(rows)
    val got = SparkEntry.queries("evt_uplift_qini")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // 20 users over 10 deciles = 2 per decile; high-engagement users
    // fill deciles 0..4 (one treated + one control each, treated
    // converts): uplift_ppm = 1e6 there, 0 in deciles 5..9
    (0L to 4L).foreach { d =>
      val (nt, ct, nc, cc, up, _) = got(d)
      assert(nt == 1L && ct == 1L && nc == 1L && cc == 0L && up == 1000000L)
    }
    (5L to 9L).foreach { d => assert(got(d)._5 == 0L) }
    // final Qini = total incremental conversions × 1000 (balanced arms)
    assert(got(9L)._6 == 5000L)
    // Qini is monotone non-decreasing through the converting deciles
    val qinis = (0L to 9L).map(got(_)._6)
    assert(qinis == qinis.sorted)
  }

  test("ml_conformal_interval: rank-k selection and coverage guarantee") {
    val r = SparkEntry.queries("ml_conformal_interval")(spark, sf)
      .collect().head
    val (nCal, k, qhat, nTest, covered, covPpm, width) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))
    assert(k == (9 * (nCal + 1) + 9) / 10, "k must be ceil(0.9·(n+1))")
    assert(width == 2 * qhat)
    assert(covPpm == math.floor(1e6 * covered.toDouble / nTest + 0.5).toLong)
    // split-conformal marginal guarantee: coverage ≈ 90% (exchangeable
    // splits; allow sampling slack on the fixed fixture)
    assert(covPpm >= 850000L && covPpm <= 1000000L,
      s"coverage $covPpm outside the plausible band around 90%")
    // brute-force the order statistic: k-th smallest calibration score
    import org.apache.spark.sql.functions._
    val raw = graft.core.Tables.t(spark, sf, "lineitem").select(
      round(col("l_extendedprice") * 100).cast("bigint").as("y"),
      round(col("l_quantity")).cast("bigint").as("x1"),
      round(col("l_discount") * 100).cast("bigint").as("x2"),
      pmod(col("l_orderkey"), lit(5)).cast("int").as("split"))
    val w = SparkEntry.queries("ml_linreg")(spark, sf).collect().head
    // ml_linreg fits on ALL rows; refit on the train split like the query
    val tr = raw.filter(col("split") >= 2)
    def dsum(e: org.apache.spark.sql.Column) =
      sum(e.cast("decimal(28,0)")).cast("double")
    val m = tr.agg(count(lit(1)).cast("double").as("n"),
      dsum(col("x1")).as("s1"), dsum(col("x2")).as("s2"),
      dsum(col("x1") * col("x1")).as("s11"),
      dsum(col("x1") * col("x2")).as("s12"),
      dsum(col("x2") * col("x2")).as("s22"),
      dsum(col("y")).as("sy"),
      dsum(col("x1") * col("y")).as("s1y"),
      dsum(col("x2") * col("y")).as("s2y")).collect().head
    val (n, s1, s2, s11, s12, s22, sy, s1y, s2y) =
      (m.getDouble(0), m.getDouble(1), m.getDouble(2), m.getDouble(3),
        m.getDouble(4), m.getDouble(5), m.getDouble(6), m.getDouble(7),
        m.getDouble(8))
    val m0 = s11 * s22 - s12 * s12; val m1 = s1 * s22 - s12 * s2
    val m2 = s1 * s12 - s11 * s2; val m3 = s1y * s22 - s12 * s2y
    val m4 = s1y * s12 - s11 * s2y; val m5 = s1 * s2y - s1y * s2
    val m6 = s11 * s2y - s1y * s12
    val den = n * m0 - s1 * m1 + s2 * m2
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val b0 = r6((sy * m0 - s1 * m3 + s2 * m4) / den)
    val b1 = r6((n * m3 - sy * m1 + s2 * m5) / den)
    val b2 = r6((n * m6 - s1 * m5 + sy * m2) / den)
    val calScores = raw.filter(col("split") === 0).collect().map { row =>
      val y = row.getLong(0); val x1 = row.getLong(1); val x2 = row.getLong(2)
      math.floor(1e4 * math.abs(y - (b0 + b1 * x1 + b2 * x2)) + 0.5).toLong
    }.sorted
    assert(calScores.length == nCal)
    assert(calScores(k.toInt - 1) == qhat,
      "q-hat must be the exact k-th smallest calibration score")
  }

  test("graph_effective_diameter is consistent with the eccentricity table") {
    val r = SparkEntry.queries("graph_effective_diameter")(spark, sf)
      .collect().head
    val (nPairs, diam, eff90, meanPpm) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(eff90 <= diam && diam <= 6L && eff90 >= 1L)
    assert(meanPpm >= 1000000L && meanPpm <= diam * 1000000L)
    // same shared walkPairs table feeds eccentricity: its per-node
    // reachable counts must total n_pairs, and its max must be the
    // diameter
    val ecc = SparkEntry.queries("graph_eccentricity")(spark, sf)
      .collect()
    assert(ecc.map(_.getLong(3)).sum == nPairs,
      "sum of per-node reachable counts must equal the global pair count")
    assert(ecc.map(_.getLong(2)).max == diam,
      "max eccentricity must equal the diameter")
  }

  test("markov attribution invariants on the sf corpus") {
    val rows = SparkEntry.queries("evt_markov_attribution")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val pf = rows.head.getLong(1)
    rows.foreach { r =>
      assert(r.getLong(1) == pf, "p_conv_full must be scenario-invariant")
      assert(r.getLong(2) <= pf,
        "removal cannot increase conversion probability")
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000000L)
      assert(r.getLong(4) >= 0L && r.getLong(4) <= 1000000L)
    }
    // floor-division attribution sums to at most 1e6
    assert(rows.map(_.getLong(4)).sum <= 1000000L)
  }
}
