package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** Contracts for the r12 wave: the Avro source/sink (built on the avro/
  * avro-mapred libs, no spark-avro artifact), the IVF-pooled MMR variant,
  * the exact-anchor hot-shingle pairing guard, and the lazy two-level
  * rank. Driver-side hash parity covers the board entries; these pin the
  * mechanics the oracle can't see. */
class Round12Spec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val sf = TestSession.sf

  test("AvroIO roundtrips every bridged type including nulls") {
    val st = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("s", StringType), StructField("b", BooleanType),
      StructField("y", BinaryType)))
    val rows = Seq(
      Row(1L, 2, 3.5, 4.25f, "hello", true, Array[Byte](1, 2, 3)),
      Row(null, null, null, null, null, null, null),
      Row(-9L, -8, Double.MinPositiveValue, -0.0f, "", false,
        Array.empty[Byte]))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), st)
    val dir = java.nio.file.Files.createTempDirectory("graft-avro").toString
    graft.etl.AvroIO.write(df, dir)
    val back = graft.etl.AvroIO.read(spark, dir, st)
    assert(back.schema == st)
    val got = back.collect().map(r =>
      (r.get(0), r.get(1), r.get(2), r.get(3), r.get(4), r.get(5),
        Option(r.get(6)).map(_.asInstanceOf[Array[Byte]].toSeq).orNull))
    val want = rows.map(r =>
      (r.get(0), r.get(1), r.get(2), r.get(3), r.get(4), r.get(5),
        Option(r.get(6)).map(_.asInstanceOf[Array[Byte]].toSeq).orNull))
    assert(got.toSet == want.toSet)
    // one container file per non-empty partition (the distributed sink)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".avro"))
    assert(files.nonEmpty && files.length <= 2)
  }

  test("AvroIO rejects types outside the bridge loudly") {
    intercept[IllegalArgumentException] {
      graft.etl.AvroIO.avroSchema(StructType(Seq(
        StructField("t", TimestampType))))
    }
  }

  test("etl_avro_roundtrip reproduces the supplier table exactly") {
    val rt = SparkEntry.queries("etl_avro_roundtrip")(spark, sf).collect()
    val src = graft.core.Tables.t(spark, sf, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
      .orderBy(col("s_suppkey")).collect()
    assert(rt.toSeq == src.toSeq)
  }

  test("llm_mmr_rerank_ann picks from IVF-probed cells, 5 picks/query") {
    val ann = SparkEntry.queries("llm_mmr_rerank_ann")(spark, sf).collect()
    val perQ = ann.groupBy(_.getLong(0))
    assert(perQ.nonEmpty)
    perQ.foreach { case (q, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3, 4, 5),
        s"query $q: picks not 1..5")
      // the query itself is never selected
      assert(!rows.exists(_.getLong(2) == q))
    }
    // the recall contract row the oracle checks must hold here too
    val rec = SparkEntry.queries("llm_mmr_rerank_ann_recall")(spark, sf)
      .collect()
    assert(rec.length == 1 && rec(0).getBoolean(1),
      s"ANN-MMR recall below floor: ${rec.mkString}")
  }

  test("hot-shingle guard passes the fixture corpus and fails a hot one") {
    // board anchors stay green (fixture df << budget) — exercised by the
    // oracle; here: a synthetic corpus with one shingle in every doc must
    // abort once its df exceeds a small budget. Calls the REAL kernel
    // (r14: 1-row max-df probe on the grouped checkpoint), both the
    // fail-loud and the pass-through paths.
    import spark.implicits._
    val sh = (1 to 50).map(i => (i.toLong, "the same shingle"))
      .toDF("doc_id", "shingle")
    // ABORT-BEFORE-PAIRS (VERDICT r13 #2): the guard throws from the
    // kernel CALL itself — the pair frame is never even constructed,
    // so no pair row can have streamed (the r13 inline assert let
    // sibling in-budget rows emit O(budget²) pairs before the hot
    // aggregated row was reached)
    val e = intercept[IllegalArgumentException] {
      graft.llm.TextOps.exactAnchorFrames(sh, "spec-hot", budget = 10)
    }
    assert(e.getMessage.contains("budget 10"), e.getMessage)
    // a cool corpus yields the exact pair set: docs {1,2,3} share "s",
    // so C(3,2)=3 pairs each with common=1, plus {1,2} share "t" → the
    // (1,2) pair has common=2; duplicated raw rows must NOT inflate
    // common or the per-doc counts (collect_set dedups)
    val cool = Seq((1L, "s"), (2L, "s"), (3L, "s"), (1L, "t"), (2L, "t"),
        (1L, "t"))
      .toDF("doc_id", "shingle")
    val (pairsDf, countsDf) =
      graft.llm.TextOps.exactAnchorFrames(cool, "spec-cool")
    val pairs = pairsDf
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 1L)))
    val counts = countsDf.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 2L, 2L -> 2L, 3L -> 1L))
    // and the production anchors still plan + run at test SF
    assert(SparkEntry.queries("llm_ngram_jaccard")(spark, sf).count() >= 0)
  }

  test("rankedRowNumber(eager=false) numbers identically to eager") {
    import spark.implicits._
    val df = (1 to 1000).map(i => ((i * 7919) % 1000, i))
      .toDF("k", "v")
    val a = graft.ops.Partitioning
      .rankedRowNumber(df, Seq($"k", $"v"), 8, "rn")
      .select($"k", $"v", $"rn").collect().sortBy(r => (r.getInt(0), r.getInt(1)))
    val b = graft.ops.Partitioning
      .rankedRowNumber(df, Seq($"k", $"v"), 8, "rn", eager = false)
      .select($"k", $"v", $"rn").collect().sortBy(r => (r.getInt(0), r.getInt(1)))
    assert(a.map(_.getLong(2)).toSeq == b.map(_.getLong(2)).toSeq)
    // contiguous 1..N
    assert(b.map(_.getLong(2)).sorted.toSeq == (1L to 1000L))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("llm_watermark_detect matches a from-scratch green-count replay") {
    val docs = graft.core.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = SparkEntry.queries("llm_watermark_detect")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    assert(got.keySet == docs.keySet)
    docs.foreach { case (id, text) =>
      val toks = text.split(" ", -1) // Spark split keeps trailing empties
      val g = toks.count(tk => java.lang.Long.parseLong(
        md5hex("wm:" + tk).take(4), 16) % 4 == 0).toLong
      val n = toks.length.toLong
      val (gn, gg, z, fl) = got(id)
      assert(gn == n && gg == g, s"doc $id: counts ($gn,$gg) vs ($n,$g)")
      val raw = (4 * g - n).toDouble / math.sqrt((3 * n).toDouble)
      val zref = BigDecimal(raw)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
      assert(math.abs(z - zref) < 1e-9, s"doc $id: z $z vs $zref")
      assert(fl == (raw > 4.0), s"doc $id: flag")
    }
  }

  test("etl_pseudonymize audit holds and the Feistel is a permutation") {
    val out = SparkEntry.queries("etl_pseudonymize")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Boolean]("consistent"), s"nation ${r.get(0)}")
      assert(r.getAs[Long]("n_tokens") == r.getAs[Long]("n_customers"),
        s"nation ${r.get(0)}: token collision")
    }
    val nCust = graft.core.Tables.t(spark, sf, "customer").count()
    assert(out.map(_.getAs[Long]("n_customers")).sum == nCust)
    // bijectivity on a dense raw range (not just the sparse custkeys)
    val rng = spark.range(0, 20000).toDF("k")
    val nTok = graft.queries.Analytics.fpeTokenize(rng)
      .agg(countDistinct(col("token"))).head().getLong(0)
    assert(nTok == 20000L, "Feistel tokens collide on a dense range")
  }

  test("ml_gbm_stumps matches a from-scratch boosting replay") {
    val raw = graft.core.Tables.t(spark, sf, "lineitem")
      .select(round(col("l_quantity")).cast("long").as("q"),
        round(col("l_discount") * 100).cast("long").as("dc"),
        round(col("l_extendedprice") * 100).cast("long").as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cells = raw.groupBy(t => (t._1, t._2)).map { case (k, xs) =>
      (k._1, k._2, xs.length.toLong, xs.map(_._3).sum) }.toSeq
    val nN = cells.map(_._3).sum; val sS = cells.map(_._4).sum
    val m0 = math.floor(1000.0 * sS / nN + 0.5).toLong
    var pred: ((Long, Long)) => Long = _ => m0
    val expect = (1 to 3).map { tr =>
      val rc = cells.map { case (q, dc, n, sy) =>
        (q, dc, n, sy * 1000L - n * pred((q, dc))) }
      def cand(feat: String, key: ((Long, Long, Long, Long)) => Long) = {
        val byf = rc.groupBy(key).map { case (v, xs) =>
          (v, xs.map(_._3).sum, xs.map(_._4).sum) }.toSeq.sortBy(_._1)
        val tn = byf.map(_._2).sum; val trr = byf.map(_._3).sum
        byf.scanLeft((0L, 0L, 0L)) { case ((_, cn, cr), (v, n, r)) =>
          (v, cn + n, cr + r) }.drop(1)
          .filter(_._2 < tn)
          .map { case (v, cn, cr) =>
            val score = cr.toDouble * cr.toDouble / cn.toDouble +
              (trr - cr).toDouble * (trr - cr).toDouble /
                (tn - cn).toDouble
            (score, feat, v, cn, cr, tn, trr) }
      }
      val all = cand("q", t => t._1) ++ cand("dc", t => t._2)
      val best = all.minBy { case (s, f, v, _, _, _, _) => (-s, f, v) }
      val (_, feat, v, cn, cr, tn, trr) = best
      val stepL = math.floor(0.5 * cr / cn + 0.5).toLong
      val stepR = math.floor(0.5 * (trr - cr) / (tn - cn) + 0.5).toLong
      val old = pred
      pred = { case (q, dc) =>
        old((q, dc)) +
          (if ((feat == "q" && q <= v) || (feat == "dc" && dc <= v)) stepL
           else stepR) }
      (tr.toLong, feat, v, stepL, stepR)
    }
    val got = SparkEntry.queries("ml_gbm_stumps")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1).toSeq
    assert(got == expect, s"\ngot    $got\nexpect $expect")
  }

  test("ml_smote_midpoints matches a brute driver 1-NN replay") {
    val embs = graft.core.Tables.t(spark, sf, "embeddings")
      .filter(size(col("embedding")) > 0)
      .select(col("vec_id"), col("embedding"), col("label")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray, r.getInt(2)))
    val minoLabel = embs.groupBy(_._3).toSeq
      .map { case (l, xs) => (xs.length, l) }.min._2
    val mino = embs.filter(_._3 == minoLabel)
    def simPpm(a: Array[Float], b: Array[Float]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      math.floor(1e6 * (dot / math.sqrt(na * nb)) + 0.5).toLong
    }
    def midPpm(a: Array[Float], b: Array[Float]): Long = {
      var acc = 0.0; var i = 0
      while (i < a.length) {
        acc += (a(i).toDouble + b(i).toDouble) / 2.0; i += 1
      }
      math.floor(1e6 * acc + 0.5).toLong
    }
    val expect = mino.map { case (id, v, _) =>
      val (bs, bn) = mino.filter(_._1 != id)
        .map(o => (simPpm(v, o._2), o._1))
        .minBy { case (s, n) => (-s, n) }
      id -> ((bn, bs,
        midPpm(v, mino.find(_._1 == bn).get._2), v.length))
    }.toMap
    val got = SparkEntry.queries("ml_smote_midpoints")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))).toMap
    assert(got == expect)
  }

  test("graph_mst equals Prim's algorithm on the exact-integer graph") {
    // re-derive the undirected exact-integer trade edges independently
    val li = graft.core.Tables.t(spark, sf, "lineitem")
    val o = graft.core.Tables.t(spark, sf, "orders")
    val c = graft.core.Tables.t(spark, sf, "customer")
    val su = graft.core.Tables.t(spark, sf, "supplier")
    val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(su, li("l_suppkey") === su("s_suppkey"))
      .filter(c("c_nationkey") =!= su("s_nationkey"))
      .groupBy(least(c("c_nationkey"), su("s_nationkey")).cast("long")
          .as("a"),
        greatest(c("c_nationkey"), su("s_nationkey")).cast("long").as("b"))
      .agg(sum(round(li("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(li("l_discount") * 100).cast("long"))).as("wu"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // Prim per component under the same strict (wu DESC, a, b) order
    val adj = edges.flatMap(e => Seq(e._1 -> e, e._2 -> e))
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2) }
    val nodes = adj.keySet
    val inTree = scala.collection.mutable.Set.empty[Long]
    val picked = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    // max-heap: wu desc, then a,b asc
    val ord0: Ordering[(Long, Long, Long)] =
      Ordering.Tuple3(Ordering.Long, Ordering.Long, Ordering.Long)
        .on((e: (Long, Long, Long)) => (e._3, -e._1, -e._2))
    nodes.toSeq.sorted.foreach { root =>
      if (!inTree(root)) {
        val pq = scala.collection.mutable.PriorityQueue.empty[
          (Long, Long, Long)](ord0)
        inTree += root
        adj(root).foreach(pq.enqueue(_))
        while (pq.nonEmpty) {
          val e = pq.dequeue()
          val nxt = if (!inTree(e._1)) Some(e._1)
            else if (!inTree(e._2)) Some(e._2) else None
          nxt.foreach { n =>
            picked += e; inTree += n
            adj(n).foreach(pq.enqueue(_))
          }
        }
      }
    }
    val got = SparkEntry.queries("graph_mst")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == picked.toSet,
      s"Kruskal board result != Prim replay (${got.size} vs ${picked.size})")
  }

  test("mm_shot_boundary matches a plain-JVM byte replay") {
    val vids = new java.io.File(graft.llm.Multimodal.fixtureDir)
      .listFiles().filter(_.getName.endsWith(".vid"))
      .filter(_.length >= 512)
    val expect = vids.map { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val nf = bytes.length / 256
      val sums = (0 until nf).map(k =>
        (0 until 256).map(j => (bytes(k * 256 + j) & 0xff).toLong).sum)
      val diffs = sums.sliding(2).map(p => math.abs(p(1) - p(0))).toSeq
      val nd = diffs.length.toLong; val sd = diffs.sum
      val cuts = diffs.count(dd => dd * nd > sd * 2).toLong
      f.getName -> ((nd + 1, cuts, diffs.max, sd, cuts + 1))
    }.toMap
    val got = SparkEntry.queries("mm_shot_boundary")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got == expect)
  }

  test("evt_croston matches a from-scratch fold replay") {
    val daily = graft.core.Tables.t(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .groupBy((col("user_id") % 50).as("series"),
        date_trunc("day", col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    val expect = daily.groupBy(_._1).collect {
      case (series, pts0) if pts0.length >= 2 =>
        val pts = pts0.sortBy(_._2.getTime)
        var z = pts.head._3 * 1000000L
        var p = -1L
        var pd = pts.head._2
        pts.tail.foreach { case (_, day, x) =>
          val gap = (day.getTime - pd.getTime) / 86400000L
          z = (2L * x * 1000000L + 8L * z) / 10L
          p = if (p < 0L) gap * 1000000L
              else (2L * gap * 1000000L + 8L * p) / 10L
          pd = day
        }
        val f = math.floor((1e6 * z) / p + 0.5).toLong
        val sba = math.floor(0.9 * ((1e6 * z) / p) + 0.5).toLong
        series -> ((pts.length.toLong, z, p, f, sba))
    }
    val got = SparkEntry.queries("evt_croston")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got == expect)
  }

  test("llm_js_divergence defines JSD = 0 on a single-source corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-r12").toString
    Seq((1L, "alpha beta beta", "en", "only_source", 15L),
        (2L, "alpha gamma", "en", "only_source", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("llm_js_divergence")(spark, dir).collect()
    assert(out.length == 1)
    val jsd = out(0).getAs[Long]("jsd_ppb")
    assert(jsd == 0L, s"single-source JSD should be 0, got $jsd")
  }
}
