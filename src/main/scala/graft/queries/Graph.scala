package graft.queries
import graft.core.Ckpt._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables.t

/** Graph analytics over a relationally-derived edge table (SURVEY.md §2
  * tier-C extension): PageRank, BFS reachability, triangle counting.
  *
  * The graph is the nation-level trade network: an edge src→dst with weight
  * = revenue flowing from customers in nation `src` to suppliers in nation
  * `dst` (orders ⋈ lineitem ⋈ customer ⋈ supplier). The heavy, 100 TB part
  * of every query here is that star-join **edge aggregation** — a fully
  * distributed shuffle keyed on (src, dst) whose output is bounded by
  * |nations|², never by data volume. The iterative phases (rank updates,
  * BFS frontiers) then run Pregel-style as DataFrame loops: each step is a
  * join + re-aggregation, `localCheckpoint` truncates the lineage between
  * supersteps (the standard GraphFrames/GraphX pattern — without it the
  * plan doubles every iteration). Nothing graph-shaped ever reaches the
  * driver: the only driver actions are the node count (≤ |nation|) and the
  * checkpoint job submissions.
  *
  * At a 100 TB design point with a billion-node graph the SAME loops hold:
  * pr/frontier stay DataFrames partitioned by node id, the per-step join is
  * a shuffle-hash join on node id, and checkpointing bounds lineage depth.
  */
object Graph extends graft.Family {
  // per-corpus edge-table caches: the trade/exact edge aggregates are
  // the one data-sized job every graph query shares — pagerank,
  // reachability, shortest path, triangles, clustering coeff,
  // assortativity, components, and harmonic centrality all rebuilt them
  // from scratch per entry and per bench rep
  private val tradeCache = new graft.core.SessionCache[DataFrame]
  private val exactCache = new graft.core.SessionCache[DataFrame]

  /** Revenue-weighted nation→nation trade edges (the distributed phase). */
  private def tradeEdges(s: SparkSession, d: String): DataFrame =
    tradeCache.getOrElseUpdate(s, d,
      tradeEdgesBuild(s, d).ckpt(eager = false))

  private def tradeEdgesBuild(s: SparkSession, d: String): DataFrame =
    nationEdges(s, d)(li =>
      sum(li("l_extendedprice") * (lit(1.0) - li("l_discount"))).as("w"))

  /** Customer-nation → supplier-nation edges of the lineitem ⋈ orders ⋈
    * customer ⋈ supplier join, weighted by `weight` over the lineitem
    * columns. */
  private def nationEdges(s: SparkSession, d: String)(
      weight: DataFrame => Column): DataFrame = {
    val li = t(s, d, "lineitem")
    val o  = t(s, d, "orders")
    val c  = t(s, d, "customer")
    val su = t(s, d, "supplier")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(su, li("l_suppkey") === su("s_suppkey"))
      .groupBy(c("c_nationkey").as("src"), su("s_nationkey").as("dst"))
      .agg(weight(li))
  }

  /** Sparsified graph: top-3 out-edges per source by weight (deterministic
    * dst tiebreak). Mirrors production practice — graph algorithms over
    * relational data usually run on a pruned edge list, and the pruning is
    * itself a window operator. */
  // (s, t) shortest distances + path counts over the undirected sparse
  // graph via 6 walk-power rounds — shared by graph_betweenness and
  // graph_eccentricity (the cache means the 6 grouped self-joins run
  // once per corpus, not once per consumer). |V|²-bounded by the nation
  // domain; at scale this is the pivot-sampled BFS family (PLANS.md).
  private val walkPairsCache = new graft.core.SessionCache[DataFrame]

  private def walkPairs(s: SparkSession, d: String): DataFrame =
    walkPairsCache.getOrElseUpdate(s, d, {
      val und = sparseEdges(s, d)
        .select(least(col("src"), col("dst")).cast("long").as("a"),
                greatest(col("src"), col("dst")).cast("long").as("b"))
        .distinct()
      val bi = und.select(col("a").as("u"), col("b").as("v"))
        .union(und.select(col("b").as("u"), col("a").as("v")))
        .ckpt(eager = false)
      // walk counts by length: w1 = adjacency, wk = w{k-1} ⋈ bi (a fresh
      // per-round projection of bi breaks repeated-self-join ambiguity)
      var wk = bi.select(col("u").as("s"), col("v").as("t"),
        lit(1L).as("c"))
      var walks = wk.withColumn("k", lit(1))
      for (k <- 2 to 6) {
        val bk = bi.toDF(s"ju$k", s"jv$k")
        wk = wk.join(bk, col("t") === col(s"ju$k"))
          .groupBy(col("s"), col(s"jv$k"))
          .agg(sum(col("c")).as("c"))
          .select(col("s"), col(s"jv$k").as("t"), col("c"))
          .ckpt(eager = false)
        walks = walks.union(wk.withColumn("k", lit(k)))
      }
      // per (s,t): d = min k with walks > 0, σ = that k's walk count
      walks.filter(col("s") =!= col("t"))
        .groupBy(col("s"), col("t"))
        .agg(min(col("k")).as("d"),
          expr("min_by(c, k)").as("sigma"))
        .ckpt(eager = false)
    })

  private def sparseEdges(s: SparkSession, d: String): DataFrame = {
    val e = tradeEdges(s, d).filter(col("src") =!= col("dst"))
    val rn = row_number().over(
      Window.partitionBy(col("src")).orderBy(col("w").desc, col("dst")))
    e.withColumn("rn", rn).filter(col("rn") <= 3).select("src", "dst")
  }

  /** [[sparseEdges]] as undirected edges `(a, b)`, a < b, each once —
    * checkpointed, since every consumer reads it more than once. */
  private def undirectedSparseEdges(s: SparkSession, d: String): DataFrame =
    sparseEdges(s, d)
      .select(least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"))
      .distinct().ckpt()

  val damping = 0.85
  val prIters = 10

  /** Collected undirected sparse edge set (least/greatest, distinct) —
    * the ≤C(25,2) nation-domain graph the label-prop / k-core /
    * modularity driver loops iterate on. One bounded collect; the
    * data-sized work is the cached trade-edge aggregate. */
  private[graft] def undEdgesDriver(s: SparkSession, d: String): Array[(Long, Long)] =
    graft.core.Bounded.collect(
      sparseEdges(s, d)
        .select(least(col("src"), col("dst")).cast("long").as("a"),
                greatest(col("src"), col("dst")).cast("long").as("b"))
        .distinct(),
      1024, "sparse undirected edges (nation-domain, <= 25^2)")
      .map(r => (r.getLong(0), r.getLong(1)))

  private def nationNodeIds(s: SparkSession, d: String): Array[Long] =
    graft.core.Bounded.collect(
      t(s, d, "nation").select(col("n_nationkey").cast("long")), 256,
      "nation node domain").map(_.getLong(0)).sorted

  /** 3 rounds of synchronous label propagation on the driver — exactly
    * the relational form's integer decision path: per node, the new
    * label is the neighbor label with the max count, ties to the
    * SMALLEST label (max(struct(c, -lbl))); isolated nodes keep theirs.
    * Shared by graph_label_prop and graph_modularity. */
  private def labelPropDriver(s: SparkSession,
                              d: String): (Array[Long], Map[Long, Long]) = {
    val und = undEdgesDriver(s, d)
    val bi = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val nodeIds = nationNodeIds(s, d)
    var labels = nodeIds.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      val counts = scala.collection.mutable.Map.empty[(Long, Long), Long]
        .withDefaultValue(0L)
      // labels.get: an endpoint outside the nation domain contributes
      // nothing — the relational form's inner join semantics (ADVICE r13)
      bi.foreach { case (u, v) =>
        labels.get(v).foreach(l => counts((u, l)) += 1L)
      }
      labels = nodeIds.map { n =>
        // iterator, NOT Map.collect — a pair-producing collect on a Map
        // would re-key by count and silently collapse tied candidates
        val cands = counts.iterator
          .collect { case ((u, l), c) if u == n => (c, l) }.toSeq
        n -> (if (cands.isEmpty) labels(n)
              else { val mx = cands.maxBy(x => (x._1, -x._2)); mx._2 })
      }.toMap
    }
    (nodeIds, labels)
  }

  val defs: Map[String, Q] = Map(
    // weighted PageRank over the trade graph, fixed 10 iterations.
    // Out-weight-normalized transition matrix; nodes with no in-edges decay
    // to the teleport floor; dangling mass is dropped identically on both
    // engines (every nation has out-edges on TPC-H data, asserted in
    // GraphSpec, so no mass actually leaks on the fixture).
    "graph_pagerank" -> ((s, d) => {
      // r15 (VERDICT r14 #6): nation-domain-bounded — collect the ≤625
      // normalized edge matrix and run the 10 power-iteration rounds on
      // the driver (the graph_ppr / graph_hits pattern, r13/r14: the
      // relational superstep form paid ~7 jobs of pure scheduling for 25
      // rows of state; the data-sized work is the cached trade-edge
      // aggregate). Arithmetic is the SAME expression per op — wn = w/outw
      // one double division, contributions pr·wn summed per dst (fixed
      // ascending-src order; the relational sum's order was
      // partition-dependent and the result is round-6-stable either way,
      // which the oracle hash checks at every SF), 0.15/N + 0.85·c —
      // so the round-6 output is unchanged.
      val nation = t(s, d, "nation")
      val edges = tradeEdges(s, d)
      val outw = edges.groupBy(col("src").as("osrc"))
        .agg(sum(col("w")).as("outw"))
      val en = graft.core.Bounded.collect(
        edges.join(outw, col("src") === col("osrc"))
          .select(col("src").cast("long"), col("dst").cast("long"),
            (col("w") / col("outw")).as("wn")),
        1024, "graph_pagerank edge matrix (nation-domain, <= 25^2)")
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(e => (e._1, e._2))
      val nodeIds = graft.core.Bounded.collect(
        nation.select(col("n_nationkey").cast("long").as("node")), 256,
        "graph_pagerank node domain").map(_.getLong(0)).sorted
      val nN = nodeIds.length.toDouble
      var pr = nodeIds.map(n => n -> 1.0 / nN).toMap
      for (_ <- 1 to prIters) {
        val c = scala.collection.mutable.Map.empty[Long, Double]
          .withDefaultValue(0.0)
        en.foreach { case (src, dst, wn) =>
          c(dst) += pr.getOrElse(src, 0.0) * wn
        }
        pr = nodeIds.map(n => n -> (0.15 / nN + damping * c(n))).toMap
      }
      import s.implicits._
      s.createDataset(nodeIds.toSeq.map(n => (n, pr(n))))
        .toDF("node", "pr")
        .join(broadcast(nation),
          col("node") === col("n_nationkey").cast("long"))
        .select(col("n_name"), round(col("pr"), 6).as("pagerank"))
        .orderBy(col("n_name"))
    }),

    // BFS min-hop reachability from nation 0 over the sparsified graph,
    // bounded at 4 hops. Frontier-expansion loop: each superstep joins the
    // previous frontier to the edge list and folds into the reached set
    // with a min-hop re-aggregation (the dedup that keeps BFS linear —
    // without it frontier size is path count, not node count).
    "graph_reachability" -> ((s, d) => {
      val nation = t(s, d, "nation")
      val sparse = sparseEdges(s, d).ckpt()
      var reached = nation.filter(col("n_nationkey") === 0)
        .select(col("n_nationkey").as("node"), lit(0).as("hops"))
        .ckpt()
      for (h <- 1 to 4) {
        val frontier = reached.filter(col("hops") === h - 1)
        val next = frontier.join(sparse, frontier("node") === sparse("src"))
          .select(sparse("dst").as("node"), lit(h).as("hops"))
        reached = reached.union(next)
          .groupBy(col("node")).agg(min(col("hops")).as("hops"))
          .ckpt()
      }
      reached.join(broadcast(nation), col("node") === col("n_nationkey"))
        .select(col("n_name"), col("hops"))
        .orderBy(col("hops"), col("n_name"))
    }),

    // single-source weighted shortest path (Bellman-Ford, bounded at 4
    // relaxation rounds) over the sparsified graph. Edge cost = 1/wn (the
    // inverse normalized trade share — heavy trade lanes are "short").
    // Each superstep relaxes the best-known costs through one more edge
    // hop and folds with a min re-aggregation — same frontier pattern as
    // BFS, with cost accumulation instead of hop counting.
    "graph_shortest_path" -> ((s, d) => {
      val nation = t(s, d, "nation")
      val edges = tradeEdges(s, d).filter(col("src") =!= col("dst"))
      val outw = edges.groupBy(col("src").as("osrc"))
        .agg(sum(col("w")).as("outw"))
      val rn = row_number().over(
        Window.partitionBy(col("src")).orderBy(col("w").desc, col("dst")))
      val sparse = edges.withColumn("rn", rn).filter(col("rn") <= 3)
        .join(outw, col("src") === col("osrc"))
        .select(col("src"), col("dst"),
          (lit(1.0) / (col("w") / col("outw"))).as("cost"))
        .ckpt()
      var best = nation.filter(col("n_nationkey") === 0)
        .select(col("n_nationkey").as("node"), lit(0.0).as("cost"))
        .ckpt()
      for (_ <- 1 to 4) {
        val relaxed = best.join(sparse, best("node") === sparse("src"))
          .select(sparse("dst").as("node"),
            (best("cost") + sparse("cost")).as("cost"))
        best = best.union(relaxed)
          .groupBy(col("node")).agg(min(col("cost")).as("cost"))
          .ckpt()
      }
      best.join(broadcast(nation), col("node") === col("n_nationkey"))
        .select(col("n_name"), round(col("cost"), 6).as("cost"))
        .orderBy(col("cost"), col("n_name"))
    }),

    // per-node triangle participation over the undirected sparsified graph.
    // Canonical-orientation join (a<b<c): each triangle is materialized
    // exactly once, then unpivoted to its three corners — the standard
    // distributed triangle count (two self-joins on the oriented edge
    // list; candidate volume is Σ deg², bounded here by the top-3 pruning).
    // harmonic closeness centrality over the undirected sparsified trade
    // graph: H(v) = Σ_{u ≠ v reachable within 6 hops} 1/d(v,u). The
    // 6-hop cap is part of the METRIC on both engines (the DuckDB twin's
    // walk recursion carries the same depth < 6 bound), so parity is
    // exact even if a component's diameter exceeds it. 1/d terms are
    // summed as integers scaled by lcm(1..6) = 60 — 60/d is exact for
    // every d ≤ 6 — so the harmonic sum is ONE double division at the
    // end and cannot drift with summation order.
    "graph_harmonic_centrality" -> ((s, d) => {
      // r10: fully DISTRIBUTED — the driver hop-BFS (the r9 verdict's
      // one remaining generalization candidate) is replaced by the
      // shared [[walkPairs]] table (6-hop pair distances, cached with
      // graph_betweenness/eccentricity): H(v) = Σ_t 60/d(v,t) with
      // 60 = lcm(1..6) keeping every term an exact integer, so the sum
      // is order-independent and the single double division happens at
      // the end. Values are identical to the BFS form by construction
      // (same 6-hop cap, same 60/d integer terms).
      val nation = t(s, d, "nation")
      val p = walkPairs(s, d)
      nation
        .select(col("n_name"), col("n_nationkey").cast("long").as("node"))
        .join(p.select(col("s").as("node"), col("t"), col("d")),
          Seq("node"), "left")
        .groupBy(col("n_name"))
        .agg(count(col("t")).as("n_reach"),
          sum(expr("60 div d")).as("h60"))
        .select(col("n_name"), col("n_reach"),
          (floor(coalesce(col("h60"), lit(0L)) * lit(1e6) / lit(60.0)
            + 0.5) / lit(1e6)).as("harmonic"))
        .orderBy(col("n_name"))
    }),

    // personalized PageRank from nation 0 (the recsys/who-is-close-to-X
    // primitive): same power iteration as graph_pagerank but ALL
    // teleport mass returns to the seed — so rank concentrates around
    // the seed's trade neighborhood instead of spreading globally.
    // NUMERICS: the textrank discipline — rank mass is ppb BIGINT, each
    // edge contribution is floored BEFORE the neighbor sum (an
    // order-independent integer aggregate), and the only FP ops are
    // per-edge single mul/divs on identical operands. 5 rounds,
    // unrolled-CTE twin. Same |V|-state / cached-edge-aggregate scale
    // shape as the rest of the family.
    "graph_ppr" -> ((s, d) => {
      val nation = t(s, d, "nation")
      // EXACT-INTEGER edge weights (unlike graph_pagerank's round-6
      // double output, the ppb floor grid here cannot tolerate ulp
      // drift in wn — so the weight is the exact cents×basis-point
      // revenue sum, and wn a BIGINT/BIGINT division both engines
      // compute identically; headroom: per-row ≤1e9, long-safe to ~9e9
      // rows per edge cell)
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val cu = t(s, d, "customer"); val su = t(s, d, "supplier")
      val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(cu, o("o_custkey") === cu("c_custkey"))
        .join(su, li("l_suppkey") === su("s_suppkey"))
        .groupBy(cu("c_nationkey").cast("long").as("src"),
          su("s_nationkey").cast("long").as("dst"))
        .agg(sum(round(li("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(li("l_discount") * 100).cast("long")))
          .as("wc"))
      val outw = edges.groupBy(col("src").as("osrc"))
        .agg(sum(col("wc")).as("outwc"))
      // nation-domain-bounded: collect the ≤625-edge weighted matrix and
      // run the 5 power-iteration rounds on the driver (the graph_hits /
      // markov_steady pattern, r13). The data-sized work is the star-join
      // edge aggregate — ONE job; the r12 form unrolled 5 join+agg rounds
      // into one deep plan whose analyzer/codegen made the query the #1
      // cold-start offender (7.9 s first run vs 1.3 s steady, VERDICT
      // r12 §5). Arithmetic is IDENTICAL op for op — wn = wc/outwc as one
      // double division, per-edge floor(pr·wn + 0.5) into an integer sum,
      // per-node floor(0.85·c + 0.5) — so the unrolled-CTE twin's values
      // are reproduced bit for bit.
      val en = graft.core.Bounded.collect(
        edges.join(outw, col("src") === col("osrc"))
          .select(col("src"), col("dst"),
            (col("wc").cast("double") / col("outwc").cast("double"))
              .as("wn")),
        1024, "graph_ppr edge matrix (nation-domain, <= 25^2)")
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val nodeIds = graft.core.Bounded.collect(
        nation.select(col("n_nationkey").cast("long").as("node")),
        1024, "graph_ppr node domain").map(_.getLong(0))
      var pr = nodeIds.map(n => n -> (if (n == 0L) 1000000000L else 0L))
        .toMap
      for (_ <- 1 to 5) {
        val c = scala.collection.mutable.Map.empty[Long, Long]
          .withDefaultValue(0L)
        en.foreach { case (src, dst, wn) =>
          // a src outside the nation node domain (referential-integrity
          // violation in c_nationkey/s_nationkey) contributes nothing —
          // the same drop semantics as the relational form's inner join
          // en⋈pr, which silently lost such edges (ADVICE r13)
          c(dst) += math.floor(pr.getOrElse(src, 0L).toDouble * wn + 0.5)
            .toLong
        }
        pr = nodeIds.map(n => n -> ((if (n == 0L) 150000000L else 0L) +
          math.floor(0.85 * c(n).toDouble + 0.5).toLong)).toMap
      }
      import s.implicits._
      s.createDataset(nodeIds.toSeq.map(n => (n, pr(n))))
        .toDF("node", "pr")
        .join(broadcast(nation),
          col("node") === col("n_nationkey").cast("long"))
        .select(col("n_name"), col("node"), col("pr").as("ppr_ppb"))
        .orderBy(col("n_name"))
    }),

    // HITS hubs & authorities over the directed sparse trade graph
    // (Kleinberg): auth(v) = Σ hub of in-neighbors, hub(v) = Σ auth of
    // out-neighbors, renormalized each half-step. NUMERICS: ZERO floating
    // point anywhere — the edges are unweighted, so each half-step is a
    // BIGINT neighbor sum, and the renormalization is exact integral
    // division on the ppb grid: v ← (1e9·raw) div Σraw, computed in
    // decimal(38,0) ≡ HUGEINT (1e9 · 25e9 overflows a long). Both
    // engines therefore produce bit-identical integers with no
    // summation-order or libm exposure at all. 4 rounds, unrolled twin.
    // Scale shape: the data-sized job is the cached trade-edge
    // aggregate; every iteration state is |V| rows.
    "graph_hits" -> ((s, d) => {
      val nation = t(s, d, "nation")
      // nation-domain-bounded: collect the ≤75-edge sparse graph and
      // iterate on the driver (the graph_components/markov_steady
      // pattern — 8 relational half-steps cost ~2.6 s of pure job
      // scheduling for 25 rows of state; the data-sized work is the
      // cached trade-edge aggregate feeding sparseEdges). BigInt
      // renormalization ≡ the twin's HUGEINT arithmetic exactly.
      val edges = graft.core.Bounded.collect(sparseEdges(s, d)
          .select(col("src").cast("long"), col("dst").cast("long")), 1024,
          "graph_hits sparse edges (nation-domain, <= 25^2)")
        .map(r => (r.getLong(0), r.getLong(1)))
      val nodes = graft.core.Bounded.collect(
          nation.select(col("n_nationkey").cast("long")), 256,
          "graph_hits nodes (nation-domain)")
        .map(_.getLong(0)).sorted
      def norm(raw: Map[Long, Long]): Map[Long, Long] = {
        val ssum = raw.values.sum
        if (ssum == 0L) raw
        else raw.map { case (n, v) =>
          n -> (BigInt(v) * 1000000000L / ssum).toLong }
      }
      var hub = nodes.map(_ -> 1000000000L).toMap
      var auth = nodes.map(_ -> 0L).toMap
      for (_ <- 1 to 4) {
        auth = norm(nodes.map(n =>
          n -> edges.collect { case (u, v) if v == n => hub(u) }.sum).toMap)
        hub = norm(nodes.map(n =>
          n -> edges.collect { case (u, v) if u == n => auth(v) }.sum).toMap)
      }
      import s.implicits._
      s.createDataset(nodes.toSeq.map(n => (n, hub(n), auth(n))))
        .toDF("node", "hub_ppb", "auth_ppb")
        .join(broadcast(nation),
          col("node") === col("n_nationkey").cast("long"))
        .select(col("n_name"), col("node"), col("hub_ppb"),
          col("auth_ppb"))
        .orderBy(col("n_name"))
    }),

    // label-propagation communities (synchronous, deterministic): start
    // every node at its own id; each round, every node adopts the MODE
    // of its neighbors' labels (ties → smallest label), 3 rounds. The
    // async/random variants in the literature are irreproducible by
    // design — the synchronous min-tiebreak form is the one that can be
    // oracle-replayed (unrolled-CTE twin, the pagerank pattern), and on
    // small diameters it converges to the same communities. Relational
    // shape: per round ONE (node, label) count aggregate over the
    // symmetric sparse edge list + ONE argmax (max of (count, -label)
    // struct — no window sort), with the data-sized work in the cached
    // trade-edge aggregate; label tables are |V|-sized throughout, so
    // the same plan runs at any graph size (rounds bound the cost, the
    // O(log d) CC note applies if full convergence is wanted).
    "graph_label_prop" -> ((s, d) => {
      // r15 (VERDICT r14 #6): nation-domain-bounded driver iteration
      // (the graph_hits pattern) — 3 relational rounds cost 4 jobs of
      // scheduling for 25 rows of ALL-INTEGER state. Same synchronous
      // propagation, same (count, smallest-label) argmax, bit-identical.
      val nation = t(s, d, "nation")
      val (nodeIds, labels) = labelPropDriver(s, d)
      import s.implicits._
      s.createDataset(nodeIds.toSeq.map(n => (n, labels(n))))
        .toDF("node", "lbl")
        .join(broadcast(nation),
          col("node") === col("n_nationkey").cast("long"))
        .select(col("n_name"), col("node"), col("lbl").as("community"))
        .orderBy(col("n_name"))
    }),

    // SimRank (Jeh & Widom, KDD 2002) structural similarity on the
    // directed sparse trade graph: "two nodes are similar if their
    // in-neighbors are similar" — s(a,b) = C/(|I(a)|·|I(b)|) ·
    // Σ_{i∈I(a), j∈I(b)} s(i,j), s(a,a) = 1, C = 0.8, 3 rounds. The
    // link-structure counterpart of graph_node_jaccard (which only sees
    // DIRECT neighbor overlap; SimRank propagates similarity through the
    // graph). NUMERICS: ppm BIGINT grid — each update is
    // (4·Σ s_prev) div (5·|I(a)|·|I(b)|), all integer, no FP anywhere,
    // so both engines are bit-identical. State is the sparse nonzero
    // pair table (≤ |V|² = 625 rows); each round is two in-edge joins +
    // one keyed aggregate, bounded by the node domain — the data-sized
    // work is the shared cached trade-edge aggregate. Twin: 3 unrolled
    // CTE rounds, identical integer divisions.
    "graph_simrank" -> ((s, d) => {
      // r15 (the VERDICT r14 #6 family, one member missed by the resumed
      // session): nation-domain-bounded driver iteration — the 3
      // relational rounds paid 2 joins + a keyed aggregate + a ckpt each
      // for ≤625 rows of ALL-INTEGER state. Collected in-edges ≤ 75
      // (top-3 out-neighbors per nation); every update replays the exact
      // integer expression (4·Σ sppm) div (5·da·db) with commutative Long
      // sums, so the pair table is bit-identical. The data-sized work
      // stays the shared cached trade-edge aggregate; the Bounded.collect
      // cap is the same fail-loud |nation|² contract as graph_pagerank.
      val nation = t(s, d, "nation")
      val innA = graft.core.Bounded.collect(
        sparseEdges(s, d)
          .select(col("dst").cast("long").as("node"),
                  col("src").cast("long").as("inn")),
        1024, "graph_simrank in-edges (nation-domain, <= 25^2)")
        .map(r => (r.getLong(0), r.getLong(1)))
      val ideg = innA.groupBy(_._1).map { case (n, xs) =>
        n -> xs.length.toLong }
      val byInn = innA.groupBy(_._2).map { case (i, xs) =>
        i -> xs.map(_._1) }
      val nodeIds = nationNodeIds(s, d)
      val diag = nodeIds.map(k => (k, k) -> 1000000L).toMap
      var sim = diag
      for (_ <- 1 to 3) {
        val ssum = scala.collection.mutable.Map.empty[(Long, Long), Long]
          .withDefaultValue(0L)
        sim.foreach { case ((a, b), sppm) =>
          val empty = Array.empty[Long]
          for (na <- byInn.getOrElse(a, empty);
               nb <- byInn.getOrElse(b, empty)
               if na != nb) ssum((na, nb)) += sppm
        }
        val stepped = ssum.iterator.map { case ((ra, rb), ss) =>
          (ra, rb) -> (4L * ss) / (5L * ideg(ra) * ideg(rb)) }
          .filter(_._2 > 0L).toMap
        sim = diag ++ stepped // stepped is off-diagonal only (na ≠ nb)
      }
      import s.implicits._
      val pairs = s.createDataset(
          sim.iterator.collect { case ((a, b), sppm) if a < b =>
            (a, b, sppm) }.toSeq.sorted)
        .toDF("a", "b", "sppm")
      val na = nation.select(col("n_nationkey").cast("long").as("a"),
        col("n_name").as("name_a"))
      val nb = nation.select(col("n_nationkey").cast("long").as("b"),
        col("n_name").as("name_b"))
      pairs
        .join(broadcast(na), Seq("a")).join(broadcast(nb), Seq("b"))
        .select(col("name_a"), col("name_b"), col("a"), col("b"),
          col("sppm").as("simrank_ppm"))
        .orderBy(col("a"), col("b"))
    }),

    // deterministic random-walk sampling (the node2vec/DeepWalk
    // data-prep stage): one 4-step walk per start node over the directed
    // sparse graph, where step k from node c picks out-neighbor rank
    // 1 + (md5('walk:'v0':'k':'c) mod outdeg(c)) — the PORTABLE-hash
    // "randomness" every walk-based embedding pipeline needs to make
    // epochs reproducible. Each step is one broadcast-joined pick
    // against the ranked neighbor table (|V|-sized walk state; the
    // data-sized job is the cached edge aggregate); dead ends stay put.
    // Pure integer/hash decisions — no FP at all. Twin: 4 unrolled
    // CTE steps over the same ranked neighbors.
    "graph_walk_sample" -> ((s, d) => {
      val nation = t(s, d, "nation")
      val wNb = Window.partitionBy(col("src")).orderBy(col("dst"))
      val nb = sparseEdges(s, d)
        .select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
        .withColumn("rn", row_number().over(wNb).cast("long"))
        .ckpt(eager = false)
      val outd = nb.groupBy(col("src").as("osrc"))
        .agg(max(col("rn")).as("deg"))
      var walk = nation
        .select(col("n_nationkey").cast("long").as("v0"))
        .withColumn("cur", col("v0"))
        .withColumn("path", col("v0").cast("string"))
      for (k <- 1 to 4) {
        // fresh column names per step — re-joining the same nb frame
        // each round is a self-join Spark can't disambiguate otherwise
        val nbk = nb.select(col("src").as(s"src$k"),
          col("dst").as(s"dst$k"), col("rn").as(s"rn$k"))
        val odk = outd.select(col("osrc").as(s"osrc$k"),
          col("deg").as(s"deg$k"))
        val picked = walk
          .join(broadcast(odk), col("cur") === col(s"osrc$k"), "left")
          .withColumn("pick",
            when(col(s"deg$k").isNotNull,
              lit(1L) + expr(s"CAST(conv(substring(md5(concat('walk:'," +
                s" v0, ':', $k, ':', cur)), 1, 8), 16, 10) AS BIGINT)" +
                s" % deg$k")))
          .join(nbk,
            col("cur") === col(s"src$k") && col("pick") === col(s"rn$k"),
            "left")
        walk = picked.select(col("v0"),
          coalesce(col(s"dst$k"), col("cur")).as("cur"),
          concat(col("path"), lit("->"),
            coalesce(col(s"dst$k"), col("cur")).cast("string")).as("path"))
      }
      walk.join(broadcast(nation),
          col("v0") === col("n_nationkey").cast("long"))
        .select(col("n_name"), col("v0"), col("cur").as("end_node"),
          col("path"))
        .orderBy(col("n_name"))
    }),

    // strongly connected components of the DIRECTED sparse trade graph
    // (the cycle structure the undirected components can't see: A
    // exports to B exports to A). The |V| = 25-node graph is bounded by
    // the nation domain, so after the one data-sized job (the cached
    // trade-edge aggregate) the transitive closure runs on the driver
    // as bitset iteration (the graph_components/harmonic pattern);
    // scc(u) = min{v : u⇝v ∧ v⇝u} — pure set algebra, no FP anywhere.
    // Twin: an unbounded recursive-closure CTE (UNION-dedup'd, so it
    // terminates) + the same mutual-reachability min.
    "graph_scc" -> ((s, d) => {
      val nation = t(s, d, "nation")
      val edges = graft.core.Bounded.collect(sparseEdges(s, d)
          .select(col("src").cast("long"), col("dst").cast("long")), 1024,
          "graph_scc sparse edges (nation-domain, <= 25^2)")
        .map(r => (r.getLong(0), r.getLong(1)))
      val nodes = graft.core.Bounded.collect(
          nation.select(col("n_nationkey").cast("long")), 256,
          "graph_scc nodes (nation-domain)")
        .map(_.getLong(0)).sorted
      val idx = nodes.zipWithIndex.toMap
      val n = nodes.length
      val reach = Array.fill(n)(new scala.collection.mutable.BitSet(n))
      nodes.indices.foreach(i => reach(i) += i)
      edges.foreach { case (u, v) => reach(idx(u)) += idx(v) }
      var changed = true
      while (changed) {
        changed = false
        for (i <- 0 until n) {
          val r = reach(i); val before = r.size
          r.toArray.foreach(j => r |= reach(j))
          if (r.size > before) changed = true
        }
      }
      val scc = nodes.indices.map { i =>
        val mutual = reach(i).filter(j => reach(j)(i))
        (nodes(i), nodes(mutual.min))
      }
      import s.implicits._
      s.createDataset(scc).toDF("node", "scc")
        .join(broadcast(nation),
          col("node") === col("n_nationkey").cast("long"))
        .select(col("n_name"), col("node"), col("scc"))
        .orderBy(col("n_name"))
    }),

    // Newman modularity of the label-propagation communities — the
    // quality score that tells you whether the partition means anything:
    // Q = Σ_c [L_c/m − (D_c/2m)²]. EXACT RATIONAL: the per-community
    // numerator 4·m·L_c − D_c² is pure BIGINT (intra-edge and degree
    // counts), the common denominator 4m² divides once at the end on
    // the floor-ppm grid — no per-community rounding, no FP drift.
    // Communities come from the SAME 3-round synchronous propagation
    // (the twin re-runs the shared unrolled CTEs); all tables are
    // |V|/|E|-bounded after the cached trade-edge aggregate.
    "graph_modularity" -> ((s, d) => {
      // r15 (VERDICT r14 #6): nation-domain-bounded driver compute — the
      // communities come from the SAME 3-round synchronous propagation
      // (shared labelPropDriver), and every per-community statistic is
      // EXACT BIGINT over the ≤C(25,2) collected edge set; the one
      // double division (q_ppm) is the identical expression evaluated
      // once. The relational form re-ran the full label_prop superstep
      // chain plus 4 aggregate/join jobs for ≤25 rows.
      val und = undEdgesDriver(s, d)
      val (_, labels) = labelPropDriver(s, d)
      val deg = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      und.foreach { case (a, b) => deg(a) += 1L; deg(b) += 1L }
      val m = und.length.toLong
      val intra = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      // endpoints outside the nation domain have no label — the
      // relational inner join dropped those edges from l_intra
      und.foreach { case (a, b) =>
        (labels.get(a), labels.get(b)) match {
          case (Some(ca), Some(cb)) if ca == cb => intra(ca) += 1L
          case _ =>
        }
      }
      val comm = labels.toSeq.groupBy(_._2).map { case (c, ns) =>
        (c, ns.size.toLong, ns.map(x => deg(x._1)).sum)
      }.toSeq
      val rows = comm.map { case (c, nNodes, dSum) =>
        (c, nNodes, intra(c), dSum, 4L * m * intra(c) - dSum * dSum)
      }
      val sumNum = rows.map(_._5).sum
      val qPpm = math.floor(
        1e6 * sumNum / (4L * m * m).toDouble + 0.5).toLong
      import s.implicits._
      s.createDataset(rows.map { case (c, nNodes, li, dSum, num) =>
          (c, nNodes, li, dSum, num, qPpm) })
        .toDF("community", "n_nodes", "l_intra", "d_sum", "num", "q_ppm")
    }),

    // k-core decomposition (coreness) via the h-index iteration of Lü et
    // al. 2016: start every node at its degree; each round, replace a
    // node's value with the h-index of its neighbors' values (the largest
    // h such that ≥ h neighbors hold value ≥ h). The sequence is
    // monotonically non-increasing and converges to coreness; 6 rounds
    // reach the fixpoint on this graph (Round9Spec re-runs an extra
    // round in-test and asserts no change, plus the k-core witness
    // property that only holds at convergence). ALL-INTEGER decision
    // path — degrees, h-indices and the final coreness are exact
    // BIGINTs, so the twin (6 unrolled CTE rounds) cannot diverge. Relational shape per round: one |E|
    // join + one per-node window rank + one max aggregate; state stays
    // |V|-sized, lineage truncated by localCheckpoint — the same loop
    // runs on a billion-node graph, with the data-sized work confined to
    // the cached trade-edge aggregate. The per-node window partitions by
    // node id (skew bound = max degree; the standard salt-the-hub
    // mitigation applies unchanged).
    "graph_kcore" -> ((s, d) => {
      // r15 (VERDICT r14 #6): nation-domain-bounded driver iteration
      // (the graph_hits pattern) — the 6 h-index rounds are ALL-INTEGER
      // over ≤25 rows of state, and the relational form paid ~5 jobs of
      // scheduling plus a window sort per round. Same h-index recurrence
      // (max_i min(i, h_(i)) over neighbors sorted by h desc — tie order
      // cannot change the value), same left-join/coalesce semantics for
      // neighborless nodes. Bit-identical.
      val nation = t(s, d, "nation")
      val und = undEdgesDriver(s, d)
      val bi = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val nodeIds = nationNodeIds(s, d)
      val nbrs = bi.groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
      var core = nodeIds.map(n =>
        n -> nbrs.get(n).map(_.length.toLong).getOrElse(0L)).toMap
      for (_ <- 1 to 6) {
        core = nodeIds.map { n =>
          val hs = nbrs.getOrElse(n, Array.empty[Long])
            // neighbor h values: endpoints outside the nation domain
            // contributed nothing in the relational inner join
            .flatMap(v => core.get(v))
            .sorted(Ordering[Long].reverse)
          val hn = hs.zipWithIndex
            .map { case (h, i) => math.min((i + 1).toLong, h) }
            .foldLeft(0L)(math.max)
          n -> hn
        }.toMap
      }
      import s.implicits._
      s.createDataset(nodeIds.toSeq.map(n => (n, core(n))))
        .toDF("node", "h")
        .join(broadcast(nation),
          col("node") === col("n_nationkey").cast("long"))
        .select(col("n_name"), col("node"), col("h").as("coreness"))
        .orderBy(col("n_name"))
    }),

    // exact betweenness centrality from INTEGER shortest-path counts:
    // walk-count "matrix powers" over the sparse undirected graph give
    // σ(s,t) = #walks of length d(s,t) (minimal-length walks ARE paths),
    // so pair dependencies σ_sv·σ_vt/σ_st are ratios of exact BIGINTs.
    // Each ratio is quantized floor-ppm PER (s,t,v) TERM before the
    // BIGINT sum (the textrank/ml_confusion discipline — a raw double
    // sum over 25³ terms would be order-dependent). Hop cap 6 = the
    // fixture graph's diameter bound (asserted in the spec: every pair
    // reachable within 6). Everything after the cached edge aggregate is
    // |V|²-bounded joins on the ≤25-node nation domain; the twin unrolls
    // the same 6 walk powers as chained CTEs. At a billion-node design
    // point exact betweenness is inherently Ω(V·E) — the production
    // path is pivot SAMPLING over the same walk/dependency joins, which
    // changes the node set, not the plan shape.
    "graph_betweenness" -> ((s, d) => {
      val nation = t(s, d, "nation")
      val p = walkPairs(s, d)
      // three legs of the same pair table: fresh names break the
      // self-join attribute ambiguity
      val sv = p.toDF("ps", "v", "d1", "sig1")
      val vt = p.toDF("v", "pt", "d2", "sig2")
      val st = p.toDF("ps", "pt", "d", "sigma")
      val dep = sv.join(vt, Seq("v"))
        .filter(col("ps") < col("pt")) // each unordered pair once
        .join(st, Seq("ps", "pt"))
        .filter(col("d1") + col("d2") === col("d"))
        .groupBy(col("v").as("node"))
        .agg(sum(floor(lit(1e6) * col("sig1") * col("sig2")
          / col("sigma") + lit(0.5)).cast("long")).as("bc"))
      nation
        .select(col("n_name"), col("n_nationkey").cast("long").as("node"))
        .join(dep, Seq("node"), "left")
        .select(col("n_name"), col("node"),
          coalesce(col("bc"), lit(0L)).as("betweenness_ppm"))
        .orderBy(col("n_name"))
    }),

    // 3-truss (Cohen 2008): iteratively peel edges supported by fewer
    // than one triangle until fixpoint — the edge-level cohesion
    // companion of graph_kcore (a node survives k-core by degree; an
    // edge survives k-truss by shared neighbors). Per round: ONE
    // wedge self-join of the surviving symmetric edge list grouped per
    // (a, b) + one filtering left join — all integer counts, |E|-bounded
    // state, 4 rounds reach fixpoint here (spec re-peels in-test). The
    // twin unrolls the identical rounds. At scale the wedge join is the
    // standard triangle-enumeration shuffle (keyed on the shared
    // neighbor), same cost shape as graph_triangles.
    "graph_ktruss" -> ((s, d) => {
      var e = sparseEdges(s, d)
        .select(least(col("src"), col("dst")).cast("long").as("a"),
                greatest(col("src"), col("dst")).cast("long").as("b"))
        .distinct()
        .withColumn("sup", lit(0L))
        .ckpt(eager = false)
      for (i <- 1 to 4) {
        val sym = e.select(col("a").as("u"), col("b").as("v"))
          .union(e.select(col("b").as("u"), col("a").as("v")))
        val x = sym.toDF(s"xu$i", s"xv$i")
        val y = sym.toDF(s"yu$i", s"yv$i")
        val wedges = x.join(y,
            col(s"xv$i") === col(s"yv$i") && col(s"xu$i") < col(s"yu$i"))
          .groupBy(col(s"xu$i").as("wa"), col(s"yu$i").as("wb"))
          .agg(count(lit(1)).as("wsup"))
        e = e.join(wedges,
            col("a") === col("wa") && col("b") === col("wb"), "left")
          .select(col("a"), col("b"),
            coalesce(col("wsup"), lit(0L)).as("sup"))
          .filter(col("sup") >= 1)
          .ckpt(eager = false)
      }
      e.orderBy(col("a"), col("b"))
    }),

    "graph_triangles" -> ((s, d) => {
      val nation = t(s, d, "nation")
      val und = undirectedSparseEdges(s, d)
      val e1 = und.select(col("a").as("x"), col("b").as("y"))
      val e2 = und.select(col("a").as("y2"), col("b").as("z"))
      val wedges = e1.join(e2, col("y") === col("y2"))
        .select(col("x"), col("y"), col("z")) // x<y<z candidate wedge
      val tri = wedges.join(und,
        wedges("x") === und("a") && wedges("z") === und("b"))
        .select(col("x"), col("y"), col("z"))
      val corners = tri.select(explode(array(col("x"), col("y"), col("z")))
        .as("node"))
      corners.groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
        .join(broadcast(nation), col("node") === col("n_nationkey"))
        .select(col("n_name"), col("n_triangles"))
        .orderBy(col("n_name"))
    }),

    // local clustering coefficient: 2·tri(v) / (deg(v)·(deg(v)−1)) over
    // the same undirected sparsified graph as graph_triangles. Degree and
    // triangle counts are exact integers, so the final division is the
    // only FP op — same double on both engines.
    "graph_clustering_coeff" -> ((s, d) => {
      val nation = t(s, d, "nation")
      val und = undirectedSparseEdges(s, d)
      val deg = und.select(col("a").as("node"))
        .union(und.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val e1 = und.select(col("a").as("x"), col("b").as("y"))
      val e2 = und.select(col("a").as("y2"), col("b").as("z"))
      val wedges = e1.join(e2, col("y") === col("y2"))
        .select(col("x"), col("y"), col("z"))
      val tri = wedges.join(und,
        wedges("x") === und("a") && wedges("z") === und("b"))
        .select(col("x"), col("y"), col("z"))
      val tcnt = tri.select(explode(array(col("x"), col("y"), col("z")))
          .as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("tri"))
      deg.join(tcnt, Seq("node"), "left")
        .select(col("node"), col("deg"),
          coalesce(col("tri"), lit(0L)).as("tri"))
        .withColumn("coeff", when(col("deg") >= 2,
          round((col("tri") * 2).cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double"), 6))
          .otherwise(lit(0.0)))
        .join(broadcast(nation), col("node") === col("n_nationkey"))
        .select(col("n_name"), col("deg"), col("tri"), col("coeff"))
        .orderBy(col("n_name"))
    }),

    // Adamic-Adar link prediction: for NON-adjacent pairs, score
    // Σ_{w ∈ N(a)∩N(b)} 1/ln(deg w) — common neighbors discounted by
    // their popularity. One wedge self-join + an anti-join against the
    // edge set; the wedge middle always has degree ≥ 2 so ln never sees
    // 1. Top-10 by rounded score with a full (a, b) tiebreak.
    "graph_adamic_adar" -> ((s, d) => {
      val und = undirectedSparseEdges(s, d)
      val adj = und.select(col("a").as("u"), col("b").as("v"))
        .union(und.select(col("b").as("u"), col("a").as("v")))
      val deg = adj.groupBy(col("v").as("w")).agg(count(lit(1)).as("degw"))
      val wedges = adj.select(col("v").as("w"), col("u").as("x"))
        .join(adj.select(col("v").as("w2"), col("u").as("y")),
          col("w") === col("w2") && col("x") < col("y"))
        .select(col("x").as("a"), col("y").as("b"), col("w"))
      wedges
        .join(und.select(col("a"), col("b"), lit(1).as("adj")),
          Seq("a", "b"), "left_anti") // non-adjacent pairs only
        .join(deg, Seq("w"))
        .groupBy(col("a"), col("b"))
        .agg(round(sum(lit(1.0) / log(col("degw").cast("double"))), 6)
          .as("aa"), count(lit(1)).as("common"))
        .orderBy(col("aa").desc, col("a"), col("b"))
        .limit(10)
    }),

    // neighborhood-Jaccard link prediction — the set-overlap sibling of
    // graph_adamic_adar (AA weights rare common neighbors up; Jaccard
    // normalizes by the union of neighborhoods): for each non-adjacent
    // pair, |N(a) ∩ N(b)| / |N(a) ∪ N(b)| on the floor-ppm integer grid
    // (counts and degrees are exact BIGINTs — no FP anywhere, unlike
    // AA's 1/ln(deg) sum). Same wedge-join shape: candidate pairs exist
    // only through a shared neighbor, so the join volume is sum of
    // squared degrees, never |V|^2.
    "graph_node_jaccard" -> ((s, d) => {
      val und = undirectedSparseEdges(s, d)
      val adj = und.select(col("a").as("u"), col("b").as("v"))
        .union(und.select(col("b").as("u"), col("a").as("v")))
      val deg = adj.groupBy(col("u").as("w")).agg(count(lit(1)).as("degw"))
      val wedges = adj.select(col("v").as("w"), col("u").as("x"))
        .join(adj.select(col("v").as("w2"), col("u").as("y")),
          col("w") === col("w2") && col("x") < col("y"))
        .select(col("x").as("a"), col("y").as("b"))
      wedges
        .join(und.select(col("a"), col("b")), Seq("a", "b"), "left_anti")
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("common"))
        .join(deg.select(col("w").as("a"), col("degw").as("dega")), Seq("a"))
        .join(deg.select(col("w").as("b"), col("degw").as("degb")), Seq("b"))
        .select(col("a"), col("b"), col("common"),
          floor(lit(1e6) * col("common") /
            (col("dega") + col("degb") - col("common")) + lit(0.5))
            .cast("long").as("jaccard_ppm"))
        .orderBy(col("jaccard_ppm").desc, col("a"), col("b"))
        .limit(10)
    }),

    // Katz centrality over the directed sparse trade graph — attenuated
    // walk-count influence (pagerank without degree normalization:
    // x ← 1 + α·Aᵀx, so x(v) = Σ_k α^k·|walks of length k ending at v|).
    // α = 1/8 as an EXACT integral division on the 1e9 grid, so every
    // superstep is pure BIGINT arithmetic — zero FP anywhere, and the
    // 4-round trajectory is bit-identical on both engines with no
    // quantization step at all (one better than the ppr/hits floor-ppb
    // discipline). Scale shape: |V|-row state, one edge⋈state aggregate
    // per round over the cached sparse edge list. Unrolled-CTE twin.
    "graph_katz" -> ((s, d) => {
      val nation = t(s, d, "nation")
      val edges = sparseEdges(s, d)
        .select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
        .ckpt(eager = false) // one join per superstep
      val nodes = nation.select(col("n_nationkey").cast("long").as("node"))
      var x = nodes.select(col("node"), lit(1000000000L).as("x"))
      for (_ <- 1 to 4) {
        val contrib = edges.join(x, col("src") === col("node"))
          .groupBy(col("dst"))
          .agg(sum(expr("x div 8")).as("c"))
        x = nodes.join(contrib, col("node") === col("dst"), "left")
          .select(col("node"),
            (lit(1000000000L) + coalesce(col("c"), lit(0L))).as("x"))
      }
      x.join(broadcast(nation),
          col("node") === col("n_nationkey").cast("long"))
        .select(col("n_name"), col("node"), col("x").as("katz_ppb"))
        .orderBy(col("n_name"))
    }),

    // per-node eccentricity (+ the graph's radius/diameter readable off
    // the column): ecc(v) = max shortest-path distance to any node
    // reachable within the 6-hop cap — the same [[walkPairs]] table
    // graph_betweenness consumes (shared + cached), rolled up per source.
    // Isolated nodes report ecc 0 / n_within 0. All-integer.
    "graph_eccentricity" -> ((s, d) => {
      val nation = t(s, d, "nation")
      val p = walkPairs(s, d)
      nation.select(col("n_name"), col("n_nationkey").cast("long").as("node"))
        .join(p.select(col("s").as("node"), col("t"), col("d")),
          Seq("node"), "left")
        .groupBy(col("n_name"), col("node"))
        .agg(coalesce(max(col("d")), lit(0)).cast("long").as("ecc"),
          count(col("t")).as("n_within"))
        .orderBy(col("n_name"))
    }),

    // effective diameter (the Leskovec graph-evolution metric): the
    // smallest hop count d₉₀ covering ≥90% of REACHABLE ordered pairs,
    // plus exact diameter, pair count, and mean distance — the global
    // summary the per-node eccentricity table doesn't give. Rides the
    // SAME shared 6-hop [[walkPairs]] cache as betweenness/eccentricity/
    // harmonic (zero extra data-sized jobs); everything downstream is a
    // ≤6-row distance histogram. d₉₀ is the integer cross-mult
    // min d with 10·cum ≥ 9·total; the mean is one floor-ppm division.
    "graph_effective_diameter" -> ((s, d) => {
      val p = walkPairs(s, d)
      val byd = p.groupBy(col("d")).agg(count(lit(1)).as("n"))
      val wc = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = byd.withColumn("cum", sum(col("n")).over(wc))
      val tot = byd.agg(sum(col("n")).as("n_pairs"),
        sum(col("d") * col("n")).as("sumd"),
        max(col("d")).cast("long").as("diameter"))
      cum.crossJoin(broadcast(tot))
        .filter(col("cum") * 10 >= col("n_pairs") * 9)
        .agg(max(col("n_pairs")).as("n_pairs"),
          max(col("diameter")).as("diameter"),
          min(col("d")).cast("long").as("eff_diameter_90"),
          max(col("sumd")).as("sumd"))
        .selectExpr("n_pairs", "diameter", "eff_diameter_90",
          "CAST(floor(1e6 * sumd / n_pairs + 0.5) AS BIGINT)" +
            " AS mean_dist_ppm")
    }),

    // temporal (time-respecting) reachability: earliest month each
    // nation becomes reachable from nation 0 when a trade edge
    // (src → dst, month m) can only be traversed at arrival ≤ m —
    // the "when could information first flow here" question static
    // reachability gets wrong. Frontier loop over the MONTH-GRANULAR
    // edge aggregate (|nations|²·|months| states, bounded); each step is
    // one equi-join + min re-aggregation, converged via a 2-scalar probe.
    "graph_temporal_reach" -> ((s, d) => {
      // r15 (VERDICT r14 #6): the frontier loop paid 2 jobs per round
      // (eager ckpt + the 2-scalar convergence probe) for a ≤25-row
      // arrival table. The month-granular edge structure is
      // nation-domain-bounded — one row per (src, dst) with its sorted
      // month array (≤ |nation|² rows; month count is a fixed data-range
      // property) — so ONE bounded collect feeds a driver
      // label-correcting fixpoint: traverse edge (u,v,months) at the
      // first month ≥ arr(u). Same least fixpoint (min arrival over
      // time-respecting paths), all integer/timestamp mins — exact. The
      // data-sized work stays distributed in the (src, dst, months)
      // aggregate.
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val su = t(s, d, "supplier")
      val nation = t(s, d, "nation")
      val tedges = graft.core.Bounded.collect(
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(su, li("l_suppkey") === su("s_suppkey"))
          .select(c("c_nationkey").cast("long").as("src"),
            su("s_nationkey").cast("long").as("dst"),
            date_trunc("month", o("o_orderdate")).as("m"))
          // distinct FIRST (codegen hash aggregate over the corpus-sized
          // stream), so the object-buffer collect_list only sees the
          // ≤|nation|²·|months| deduped rows
          .distinct()
          .groupBy(col("src"), col("dst"))
          .agg(sort_array(collect_list(col("m"))).as("ms")),
        1024, "graph_temporal_reach edge months (nation-domain, <= 25^2)")
        .map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[java.sql.Timestamp](2).map(_.getTime).toArray))
      val arr = scala.collection.mutable.Map.empty[Long, Long]
      if (tedges.nonEmpty) {
        arr(0L) = tedges.iterator.flatMap(_._3).min
        var changed = true
        var iters = 0
        while (changed && iters < 26 * 32) {
          changed = false
          tedges.foreach { case (src, dst, ms) =>
            arr.get(src).foreach { a =>
              // first month >= a in the sorted array
              var lo = 0; var hi = ms.length
              while (lo < hi) {
                val mid = (lo + hi) >>> 1
                if (ms(mid) >= a) hi = mid else lo = mid + 1
              }
              if (lo < ms.length &&
                  arr.get(dst).forall(_ > ms(lo))) {
                arr(dst) = ms(lo); changed = true
              }
            }
          }
          iters += 1
        }
      }
      import s.implicits._
      s.createDataset(arr.toSeq.map { case (n, ts) =>
          (n, new java.sql.Timestamp(ts)) })
        .toDF("node", "arr")
        .join(broadcast(nation),
          col("node") === col("n_nationkey").cast("long"))
        .select(col("n_name"), to_date(col("arr")).as("first_reach_month"))
        .orderBy(col("n_name"))
    }),

    // degree assortativity: Pearson correlation of endpoint degrees over
    // the directed (both-orientation) edge list. With both orientations
    // Σj = Σk and Σj² = Σk², so r = (M·Σjk − (Σj)²) / (M·Σj² − (Σj)²) —
    // every sum an exact integer, one double expression at the end.
    "graph_assortativity" -> ((s, d) => {
      val und = undirectedSparseEdges(s, d)
      val deg = und.select(col("a").as("node"))
        .union(und.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val dir = und.select(col("a").as("u"), col("b").as("v"))
        .union(und.select(col("b").as("u"), col("a").as("v")))
      dir
        .join(deg.select(col("node").as("u"), col("deg").as("ju")), Seq("u"))
        .join(deg.select(col("node").as("v"), col("deg").as("kv")), Seq("v"))
        .agg(count(lit(1)).cast("double").as("m"),
          sum(col("ju") * col("kv")).cast("double").as("sjk"),
          sum(col("ju")).cast("double").as("sj"),
          sum(col("ju") * col("ju")).cast("double").as("sjj"))
        .selectExpr(
          "round((m*sjk - sj*sj) / (m*sjj - sj*sj), 6) + 0.0 AS assortativity")
    }),

    // weakly-connected components over the above-mean-weight trade graph.
    // Edge weights are EXACT integer revenue units (price-cents ×
    // (100 − disc%)) so the mean-weight edge cutoff — the part that decides
    // the graph's shape — is integer arithmetic and cannot ulp-flip between
    // engines. The vertex set is the 25-row nation table, so the kept
    // graph has ≤ C(25,2) = 300 edges BY CONSTRUCTION — the only
    // data-sized work is the trade-edge aggregate in exactEdges. The
    // bounded edge list is collected and union-found on the driver (same
    // bounded-action class as the BPE argmax), which replaces ~diameter
    // supersteps of join + min-agg + checkpoint; labeling each component
    // by its minimum member reproduces min-label semantics exactly. For
    // unbounded vertex sets the production CC is
    // [[graft.llm.Dedup.connectedComponentsFast]] (large-star/small-star,
    // O(log d) rounds — see docs/PLANS.md).
    "graph_components" -> ((s, d) => {
      val nation = t(s, d, "nation")
      val und = exactEdges(s, d).filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
                greatest(col("src"), col("dst")).as("b"), col("wu"))
        .groupBy(col("a"), col("b")).agg(sum(col("wu")).as("wu"))
      val tot = und.agg(sum(col("wu")).as("t"), count(lit(1)).as("n"))
      // keep edges strictly above the mean weight: wu · n > t, all-integer
      // (scalar-broadcast pattern: the build side is a 1-row aggregate)
      val kept = und.crossJoin(broadcast(tot))
        .filter(col("wu") * col("n") > col("t"))
        .select(col("a").cast("bigint").as("a"),
                col("b").cast("bigint").as("b"))
      val edges = graft.core.Bounded.collect(kept, 1024,
        "graph_components above-mean edges (nation-domain, <= 25^2)")
        .map(r => (r.getLong(0), r.getLong(1)))
      val uf = new graft.core.MinUnionFind
      edges.foreach { case (u, v) => uf.union(u, v) }
      val labeled = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(n => (n, uf.find(n))).toSeq
      import s.implicits._
      val compDf = s.createDataset(labeled).toDF("node", "comp")
      nation
        .select(col("n_name"), col("n_nationkey").cast("bigint").as("node"))
        .join(broadcast(compDf), Seq("node"), "left")
        .select(col("n_name"),
          coalesce(col("comp"), col("node")).as("comp"))
        .orderBy(col("n_name"))
    }),

    // MAXIMUM spanning tree (the strongest-trade backbone: the spanning
    // forest keeping the heaviest edges that connect all nations) over
    // the exact-integer trade graph. Edge order is the STRICT total
    // order (wu DESC, a, b), so the MST is unique and both engines must
    // select identical edges. The data-sized work is the exactEdges
    // aggregate; the graph itself is nation-domain (≤ C(25,2) = 300
    // edges BY CONSTRUCTION), so Kruskal runs on a bounded driver
    // collect — the graph_components adjudication. For unbounded vertex
    // sets the distributed form is Borůvka rounds: per-component min/max
    // edge (one keyed agg) + the large-star/small-star CC merge, O(log V)
    // rounds of the llm/Dedup.connectedComponentsFast machinery. The twin
    // certifies via the cycle property instead: an edge is in the maximum
    // spanning forest iff its endpoints are NOT connected using strictly
    // heavier-ordered edges alone (recursive reachability).
    "graph_mst" -> ((s, d) => {
      val und = exactEdges(s, d).filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
                greatest(col("src"), col("dst")).as("b"), col("wu"))
        .groupBy(col("a"), col("b")).agg(sum(col("wu")).as("wu"))
      val edges = graft.core.Bounded.collect(
          und.select(col("a").cast("bigint"), col("b").cast("bigint"),
            col("wu").cast("bigint")),
          1024, "graph_mst nation-domain edges (<= 25^2)")
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy { case (a, b, w) => (-w, a, b) }
      val uf = new graft.core.MinUnionFind
      val chosen = edges.filter { case (a, b, _) => uf.union(a, b) }
      import s.implicits._
      s.createDataset(chosen.toSeq).toDF("a", "b", "wu")
        .select(col("a"), col("b"), col("wu"),
          round(col("wu") / 10000.0, 2).as("revenue"))
        .orderBy(col("a"), col("b"))
    }))

  /** Exact-integer trade edges: revenue in 1/10000-dollar units
    * (price-cents × (100 − disc%)), both factors exact integers recovered
    * from the 2-decimal doubles, so edge weights — and any threshold
    * derived from them — are engine-order-independent. (At sfs far beyond
    * the test range the unit sums would want DECIMAL(38,0); bigint has
    * ~4 orders of headroom over sf100 here.) */
  private def exactEdges(s: SparkSession, d: String): DataFrame =
    exactCache.getOrElseUpdate(s, d,
      exactEdgesBuild(s, d).ckpt(eager = false))

  private def exactEdgesBuild(s: SparkSession, d: String): DataFrame =
    nationEdges(s, d)(li =>
      sum(round(li("l_extendedprice") * 100).cast("bigint") *
          (lit(100) - round(li("l_discount") * 100).cast("bigint")))
        .as("wu"))

  /** DuckDB replay of [[exactEdgesBuild]]: `eedges(src, dst, wu)`. */
  private val exactEdgesCte =
    """eedges AS (
      |    SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
      |           sum(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
      |               * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)))
      |             AS wu
      |    FROM lineitem l
      |    JOIN orders o   ON l.l_orderkey = o.o_orderkey
      |    JOIN customer c ON o.o_custkey  = c.c_custkey
      |    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
      |    GROUP BY 1, 2)""".stripMargin

  private val edgesCte =
    """edges AS (
      |    SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
      |           sum(l.l_extendedprice * (1.0 - l.l_discount)) AS w
      |    FROM lineitem l
      |    JOIN orders o   ON l.l_orderkey = o.o_orderkey
      |    JOIN customer c ON o.o_custkey  = c.c_custkey
      |    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
      |    GROUP BY 1, 2)""".stripMargin

  private val sparseCte =
    s"""$edgesCte,
      |  sparse AS (
      |    SELECT src, dst FROM (
      |      SELECT src, dst,
      |             row_number() OVER (PARTITION BY src
      |                                ORDER BY w DESC, dst) AS rn
      |      FROM edges WHERE src <> dst)
      |    WHERE rn <= 3)""".stripMargin

  /** DuckDB replay of [[undirectedSparseEdges]]: `und(a, b)`, a < b. */
  private val undCte =
    s"""$sparseCte,
      |  und AS (
      |    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |    FROM sparse)""".stripMargin

  /** `bi(u, v)`: both directions of every `und` edge, as BIGINT. */
  private val biCtes =
    s"""$undCte,
      |  bi AS (SELECT CAST(a AS BIGINT) AS u, CAST(b AS BIGINT) AS v
      |         FROM und
      |         UNION ALL
      |         SELECT CAST(b AS BIGINT), CAST(a AS BIGINT) FROM und)""".stripMargin

  /** `deg(node, deg)`: each node's degree in `und`. */
  private val undDegCtes =
    s"""$undCte,
      |  deg AS (
      |    SELECT node, count(*) AS deg FROM (
      |      SELECT a AS node FROM und UNION ALL SELECT b FROM und)
      |    GROUP BY node)""".stripMargin

  /** `adj(u, v)`: both directions of every `und` edge. */
  private val undAdjCtes =
    s"""$undCte,
      |  adj AS (
      |    SELECT a AS u, b AS v FROM und
      |    UNION ALL SELECT b, a FROM und)""".stripMargin

  /** PageRank twin: the 10 supersteps unroll to 10 chained CTEs (DuckDB,
    * like Postgres, disallows aggregates in a recursive term). Same math,
    * same double literals as the Spark loop. */
  private val pagerankTwin: String = {
    val nN = "(SELECT CAST(count(*) AS DOUBLE) FROM nation)"
    val iters = (1 to prIters).map { i =>
      s""",
      |  pr$i AS (
      |    SELECT nd.node, 0.15 / $nN + 0.85 * coalesce(c.c, 0.0) AS pr
      |    FROM nodes nd LEFT JOIN (
      |      SELECT e.dst, sum(p.pr * e.wn) AS c
      |      FROM en e JOIN pr${i - 1} p ON p.node = e.src
      |      GROUP BY e.dst) c ON c.dst = nd.node)""".stripMargin
    }.mkString
    s"""WITH $edgesCte,
      |  en AS (SELECT src, dst,
      |                w / sum(w) OVER (PARTITION BY src) AS wn FROM edges),
      |  nodes AS (SELECT n_nationkey AS node FROM nation),
      |  pr0 AS (SELECT node, 1.0 / $nN AS pr FROM nodes)$iters
      |SELECT n.n_name, round(p.pr, 6) AS pagerank
      |FROM pr$prIters p JOIN nation n ON n.n_nationkey = p.node
      |ORDER BY n.n_name""".stripMargin
  }

  /** Label-propagation twin: 3 unrolled mode-update rounds (the
    * pagerank-twin pattern), same symmetric sparse graph, same
    * (count DESC, label ASC) tiebreak. */
  /** The label-propagation CTE chain through `l3` — shared by the
    * graph_label_prop twin and the graph_modularity twin (which scores
    * the SAME communities). */
  private val labelPropCtes: String = {
    val rounds = (1 to 3).map { i =>
      s""",
      |  c$i AS (
      |    SELECT bi.u AS node, p.lbl, count(*) AS c
      |    FROM bi JOIN l${i - 1} p ON p.node = bi.v
      |    GROUP BY 1, 2),
      |  u$i AS (
      |    SELECT node, lbl FROM (
      |      SELECT node, lbl, row_number() OVER (PARTITION BY node
      |        ORDER BY c DESC, lbl) AS rn
      |      FROM c$i) WHERE rn = 1),
      |  l$i AS (
      |    SELECT p.node, coalesce(u.lbl, p.lbl) AS lbl
      |    FROM l${i - 1} p LEFT JOIN u$i u ON u.node = p.node)""".stripMargin
    }.mkString
    s"""$biCtes,
      |  l0 AS (SELECT CAST(n_nationkey AS BIGINT) AS node,
      |                CAST(n_nationkey AS BIGINT) AS lbl FROM nation)$rounds"""
      .stripMargin
  }

  private val labelPropTwin: String =
    s"""WITH $labelPropCtes
      |SELECT na.n_name, l.node, l.lbl AS community
      |FROM l3 l JOIN nation na ON na.n_nationkey = l.node
      |ORDER BY na.n_name""".stripMargin

  /** Modularity twin: Q of the l3 communities as an exact rational —
    * numerator Σ_c (4·m·L_c − D_c²) over denominator 4m², one floor-ppm
    * division at the end. */
  private val modularityTwin: String =
    s"""WITH $labelPropCtes,
      |  m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
      |  deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
      |          FROM bi GROUP BY 1),
      |  intra AS (
      |    SELECT la.lbl AS community, CAST(count(*) AS BIGINT) AS l_intra
      |    FROM und e
      |    JOIN l3 la ON la.node = CAST(e.a AS BIGINT)
      |    JOIN l3 lb ON lb.node = CAST(e.b AS BIGINT)
      |    WHERE la.lbl = lb.lbl
      |    GROUP BY 1),
      |  comm AS (
      |    SELECT l.lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes,
      |           CAST(sum(coalesce(d.deg, 0)) AS BIGINT) AS d_sum
      |    FROM l3 l LEFT JOIN deg d ON d.node = l.node
      |    GROUP BY 1),
      |  scored AS (
      |    SELECT c.community, c.n_nodes, coalesce(i.l_intra, 0) AS l_intra,
      |           c.d_sum,
      |           4 * m.m * coalesce(i.l_intra, 0) - c.d_sum * c.d_sum
      |             AS num,
      |           m.m AS m
      |    FROM comm c LEFT JOIN intra i ON i.community = c.community
      |    CROSS JOIN m)
      |SELECT community, n_nodes, CAST(l_intra AS BIGINT) AS l_intra,
      |       d_sum, CAST(num AS BIGINT) AS num,
      |       CAST(floor(1e6 * sum(num) OVER ()
      |         / CAST(4 * m * m AS DOUBLE) + 0.5) AS BIGINT) AS q_ppm
      |FROM scored""".stripMargin

  /** PPR twin: 5 unrolled seed-teleport rounds, integer-ppb mass with
    * per-edge floor quantization before the BIGINT neighbor sum (the
    * textrank-twin numerics). */
  private val pprTwin: String = {
    val iters = (1 to 5).map { i =>
      s""",
      |  pr$i AS (
      |    SELECT nd.node,
      |           CASE WHEN nd.node = 0 THEN 150000000 ELSE 0 END
      |           + CAST(floor(0.85 * coalesce(c.c, 0) + 0.5) AS BIGINT)
      |             AS pr
      |    FROM nodes nd LEFT JOIN (
      |      SELECT e.dst, CAST(sum(CAST(floor(p.pr * e.wn + 0.5)
      |             AS BIGINT)) AS BIGINT) AS c
      |      FROM en e JOIN pr${i - 1} p ON p.node = e.src
      |      GROUP BY e.dst) c ON c.dst = nd.node)""".stripMargin
    }.mkString
    s"""WITH ec AS (
      |    SELECT CAST(c.c_nationkey AS BIGINT) AS src,
      |           CAST(s.s_nationkey AS BIGINT) AS dst,
      |           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
      |                    (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
      |                AS BIGINT) AS wc
      |    FROM lineitem l
      |    JOIN orders o ON l.l_orderkey = o.o_orderkey
      |    JOIN customer c ON o.o_custkey = c.c_custkey
      |    JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |    GROUP BY 1, 2),
      |  ow AS (SELECT src AS osrc, CAST(sum(wc) AS BIGINT) AS outwc
      |         FROM ec GROUP BY 1),
      |  en AS (SELECT ec.src, ec.dst,
      |                CAST(ec.wc AS DOUBLE) / CAST(ow.outwc AS DOUBLE) AS wn
      |         FROM ec JOIN ow ON ow.osrc = ec.src),
      |  nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation),
      |  pr0 AS (SELECT node,
      |                 CAST(CASE WHEN node = 0 THEN 1000000000 ELSE 0 END
      |                      AS BIGINT) AS pr
      |          FROM nodes)$iters
      |SELECT n.n_name, p.node, p.pr AS ppr_ppb
      |FROM pr5 p JOIN nation n ON CAST(n.n_nationkey AS BIGINT) = p.node
      |ORDER BY n.n_name""".stripMargin
  }

  /** HITS twin: 4 unrolled auth/hub half-step pairs, pure integer —
    * BIGINT neighbor sums + HUGEINT ppb renormalization (≡ the engine's
    * decimal(38,0) integral division). */
  private val hitsTwin: String = {
    val rounds = (1 to 4).map { i =>
      s""",
      |  a${i}r AS (
      |    SELECT nd.node, coalesce(s.v, 0) AS raw,
      |           sum(coalesce(s.v, 0)) OVER () AS ssum
      |    FROM nodes nd LEFT JOIN (
      |      SELECT e.dst AS node, CAST(sum(h.hub) AS BIGINT) AS v
      |      FROM sparse e JOIN h${i - 1} h ON h.node = e.src
      |      GROUP BY 1) s ON s.node = nd.node),
      |  a$i AS (
      |    SELECT node, coalesce(CAST(CAST(1000000000 AS HUGEINT) * raw
      |           // nullif(ssum, 0) AS BIGINT), 0) AS auth
      |    FROM a${i}r),
      |  h${i}r AS (
      |    SELECT nd.node, coalesce(s.v, 0) AS raw,
      |           sum(coalesce(s.v, 0)) OVER () AS ssum
      |    FROM nodes nd LEFT JOIN (
      |      SELECT e.src AS node, CAST(sum(a.auth) AS BIGINT) AS v
      |      FROM sparse e JOIN a$i a ON a.node = e.dst
      |      GROUP BY 1) s ON s.node = nd.node),
      |  h$i AS (
      |    SELECT node, coalesce(CAST(CAST(1000000000 AS HUGEINT) * raw
      |           // nullif(ssum, 0) AS BIGINT), 0) AS hub
      |    FROM h${i}r)""".stripMargin
    }.mkString
    s"""WITH $sparseCte,
      |  nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation),
      |  h0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS hub FROM nodes)$rounds
      |SELECT n.n_name, h.node, h.hub AS hub_ppb, a.auth AS auth_ppb
      |FROM h4 h JOIN a4 a ON a.node = h.node
      |JOIN nation n ON CAST(n.n_nationkey AS BIGINT) = h.node
      |ORDER BY n.n_name""".stripMargin
  }

  /** k-core twin: 6 unrolled h-index refinement rounds, all-BIGINT. */
  private val kcoreTwin: String = {
    val rounds = (1 to 6).map { i =>
      s""",
      |  r$i AS (
      |    SELECT bi.u, p.h,
      |           row_number() OVER (PARTITION BY bi.u
      |             ORDER BY p.h DESC, bi.v) AS rn
      |    FROM bi JOIN h${i - 1} p ON p.node = bi.v),
      |  u$i AS (
      |    SELECT u AS node, max(least(rn, h)) AS hn FROM r$i GROUP BY 1),
      |  h$i AS (
      |    SELECT p.node, CAST(coalesce(u.hn, 0) AS BIGINT) AS h
      |    FROM h${i - 1} p LEFT JOIN u$i u ON u.node = p.node)""".stripMargin
    }.mkString
    s"""WITH $biCtes,
      |  deg AS (SELECT u AS node, count(*) AS dg FROM bi GROUP BY 1),
      |  h0 AS (
      |    SELECT CAST(n_nationkey AS BIGINT) AS node,
      |           CAST(coalesce(d.dg, 0) AS BIGINT) AS h
      |    FROM nation LEFT JOIN deg d
      |      ON d.node = CAST(n_nationkey AS BIGINT))$rounds
      |SELECT na.n_name, c.node, c.h AS coreness
      |FROM h6 c JOIN nation na ON na.n_nationkey = c.node
      |ORDER BY na.n_name""".stripMargin
  }

  /** Betweenness twin: 6 unrolled walk-power CTEs (integer path counts),
    * min-k fold to (d, σ), the same 3-way dependency join, per-term
    * floor-ppm quantization before the BIGINT sum. */
  /** Shared walk-power CTE prefix (ends at `p(s, t, d, sigma)`) — the
    * [[walkPairs]] replay, consumed by the betweenness and eccentricity
    * twins. */
  private val walkCtePrefix: String = {
    val powers = (2 to 6).map { k =>
      s""",
      |  w$k AS (
      |    SELECT w.s, b.v AS t, CAST(sum(w.c) AS BIGINT) AS c
      |    FROM w${k - 1} w JOIN bi b ON b.u = w.t GROUP BY 1, 2)""".stripMargin
    }.mkString
    val unions = (1 to 6).map(k =>
      s"SELECT s, t, c, $k AS k FROM w$k").mkString("\n      |  UNION ALL ")
    s"""$biCtes,
      |  w1 AS (SELECT u AS s, v AS t, CAST(1 AS BIGINT) AS c FROM bi)$powers,
      |  allw AS (
      |  $unions),
      |  p AS (
      |    SELECT s, t, min(k) AS d, min_by(c, k) AS sigma
      |    FROM allw WHERE s <> t GROUP BY 1, 2)""".stripMargin
  }

  private val betweennessTwin: String = {
    s"""WITH $walkCtePrefix,
      |  dep AS (
      |    SELECT sv.v AS node,
      |           CAST(sum(CAST(floor(1e6 * sv.sig1 * vt.sig2 / st.sigma
      |             + 0.5) AS BIGINT)) AS BIGINT) AS bc
      |    FROM (SELECT s, t AS v, d AS d1, sigma AS sig1 FROM p) sv
      |    JOIN (SELECT s AS v, t, d AS d2, sigma AS sig2 FROM p) vt
      |      ON vt.v = sv.v
      |    JOIN p st ON st.s = sv.s AND st.t = vt.t
      |    WHERE sv.s < vt.t AND sv.d1 + vt.d2 = st.d
      |    GROUP BY 1)
      |SELECT n.n_name, CAST(n.n_nationkey AS BIGINT) AS node,
      |       coalesce(dep.bc, CAST(0 AS BIGINT)) AS betweenness_ppm
      |FROM nation n LEFT JOIN dep ON dep.node = CAST(n.n_nationkey AS BIGINT)
      |ORDER BY n.n_name""".stripMargin
  }

  /** 3-truss twin: 4 unrolled peel rounds, identical wedge counting. */
  private val ktrussTwin: String = {
    val rounds = (1 to 4).map { i =>
      s""",
      |  sym$i AS (SELECT a AS u, b AS v FROM e${i - 1}
      |            UNION ALL SELECT b, a FROM e${i - 1}),
      |  w$i AS (
      |    SELECT x.u AS wa, y.u AS wb, CAST(count(*) AS BIGINT) AS wsup
      |    FROM sym$i x JOIN sym$i y ON x.v = y.v AND x.u < y.u
      |    GROUP BY 1, 2),
      |  e$i AS (
      |    SELECT e.a, e.b, coalesce(w.wsup, 0) AS sup
      |    FROM e${i - 1} e LEFT JOIN w$i w ON w.wa = e.a AND w.wb = e.b
      |    WHERE coalesce(w.wsup, 0) >= 1)""".stripMargin
    }.mkString
    s"""WITH $sparseCte,
      |  e0 AS (
      |    SELECT DISTINCT CAST(least(src, dst) AS BIGINT) AS a,
      |           CAST(greatest(src, dst) AS BIGINT) AS b
      |    FROM sparse)$rounds
      |SELECT a, b, CAST(sup AS BIGINT) AS sup FROM e4
      |ORDER BY a, b""".stripMargin
  }

  /** SimRank twin: 3 unrolled rounds, same ppm-integer recurrence
    * (4·Σ) // (5·da·db) — DuckDB `//` truncates toward zero (verified:
    * -7 // 2 = -3), exactly like Spark's `div`; here all operands are
    * positive anyway. */
  private val simrankTwin: String = {
    val rounds = (1 to 3).map { k =>
      s""",
      |  r$k AS (
      |    SELECT ia.node AS a, ib.node AS b,
      |           CAST(sum(p.sppm) AS BIGINT) AS ssum
      |    FROM s${k - 1} p
      |    JOIN inn ia ON ia.inn = p.a
      |    JOIN inn ib ON ib.inn = p.b
      |    WHERE ia.node <> ib.node
      |    GROUP BY 1, 2),
      |  s$k AS (
      |    SELECT CAST(n_nationkey AS BIGINT) AS a,
      |           CAST(n_nationkey AS BIGINT) AS b,
      |           CAST(1000000 AS BIGINT) AS sppm
      |    FROM nation
      |    UNION ALL
      |    SELECT a, b, sppm FROM (
      |      SELECT r.a, r.b,
      |             CAST((4 * r.ssum) // (5 * da.ideg * db.ideg)
      |               AS BIGINT) AS sppm
      |      FROM r$k r
      |      JOIN ideg da ON da.node = r.a
      |      JOIN ideg db ON db.node = r.b)
      |    WHERE sppm > 0)""".stripMargin
    }.mkString
    s"""WITH $sparseCte,
      |  inn AS (SELECT CAST(dst AS BIGINT) AS node,
      |                 CAST(src AS BIGINT) AS inn FROM sparse),
      |  ideg AS (SELECT node, CAST(count(*) AS BIGINT) AS ideg
      |           FROM inn GROUP BY 1),
      |  s0 AS (SELECT CAST(n_nationkey AS BIGINT) AS a,
      |                CAST(n_nationkey AS BIGINT) AS b,
      |                CAST(1000000 AS BIGINT) AS sppm FROM nation)$rounds
      |SELECT na.n_name AS name_a, nb.n_name AS name_b, s.a, s.b,
      |       s.sppm AS simrank_ppm
      |FROM s3 s
      |JOIN nation na ON CAST(na.n_nationkey AS BIGINT) = s.a
      |JOIN nation nb ON CAST(nb.n_nationkey AS BIGINT) = s.b
      |WHERE s.a < s.b
      |ORDER BY s.a, s.b""".stripMargin
  }

  val sql: Map[String, String] = Map(
    "graph_pagerank" -> pagerankTwin,
    "graph_label_prop" -> labelPropTwin,
    "graph_modularity" -> modularityTwin,
    "graph_simrank" -> simrankTwin,

    "graph_walk_sample" -> {
      val steps = (1 to 4).map { k =>
        s""",
        |  w$k AS (
        |    SELECT w.v0,
        |           coalesce(nb.dst, w.cur) AS cur,
        |           w.path || '->' || CAST(coalesce(nb.dst, w.cur)
        |             AS VARCHAR) AS path
        |    FROM w${k - 1} w
        |    LEFT JOIN outd o ON o.osrc = w.cur
        |    LEFT JOIN nb ON nb.src = w.cur AND nb.rn = 1 +
        |      CAST(('0x' || substr(md5('walk:' || w.v0 || ':' || $k ||
        |        ':' || w.cur), 1, 8)) AS BIGINT) % o.deg)""".stripMargin
      }.mkString
      s"""WITH $sparseCte,
        |  nb AS (
        |    SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
        |           CAST(row_number() OVER (PARTITION BY src ORDER BY dst)
        |             AS BIGINT) AS rn
        |    FROM sparse),
        |  outd AS (SELECT src AS osrc, CAST(max(rn) AS BIGINT) AS deg
        |           FROM nb GROUP BY 1),
        |  w0 AS (SELECT CAST(n_nationkey AS BIGINT) AS v0,
        |                CAST(n_nationkey AS BIGINT) AS cur,
        |                CAST(n_nationkey AS VARCHAR) AS path
        |         FROM nation)$steps
        |SELECT n.n_name, w.v0, w.cur AS end_node, w.path
        |FROM w4 w JOIN nation n ON CAST(n.n_nationkey AS BIGINT) = w.v0
        |ORDER BY n.n_name""".stripMargin
    },

    "graph_scc" ->
      s"""WITH RECURSIVE $sparseCte,
        |  e AS (SELECT CAST(src AS BIGINT) AS s, CAST(dst AS BIGINT) AS d
        |        FROM sparse),
        |  nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS node
        |            FROM nation),
        |  reach(s, d) AS (
        |    SELECT node, node FROM nodes
        |    UNION
        |    SELECT r.s, e.d FROM reach r JOIN e ON e.s = r.d),
        |  scc AS (
        |    SELECT a.s AS node, CAST(min(a.d) AS BIGINT) AS scc
        |    FROM reach a JOIN reach b ON b.s = a.d AND b.d = a.s
        |    GROUP BY 1)
        |SELECT n.n_name, c.node, c.scc
        |FROM scc c JOIN nation n ON CAST(n.n_nationkey AS BIGINT) = c.node
        |ORDER BY n.n_name""".stripMargin,
    "graph_kcore" -> kcoreTwin,
    "graph_betweenness" -> betweennessTwin,

    "graph_eccentricity" ->
      s"""WITH $walkCtePrefix
        |SELECT n.n_name, CAST(n.n_nationkey AS BIGINT) AS node,
        |       CAST(coalesce(max(p.d), 0) AS BIGINT) AS ecc,
        |       CAST(count(p.t) AS BIGINT) AS n_within
        |FROM nation n
        |LEFT JOIN p ON p.s = CAST(n.n_nationkey AS BIGINT)
        |GROUP BY n.n_name, n.n_nationkey
        |ORDER BY n.n_name""".stripMargin,

    "graph_ktruss" -> ktrussTwin,
    "graph_ppr" -> pprTwin,
    "graph_hits" -> hitsTwin,

    "graph_effective_diameter" ->
      s"""WITH $walkCtePrefix,
        |  byd AS (SELECT d, CAST(count(*) AS BIGINT) AS n
        |          FROM p GROUP BY 1),
        |  c AS (
        |    SELECT d, n,
        |           CAST(sum(n) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
        |             PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |    FROM byd),
        |  tot AS (
        |    SELECT CAST(sum(n) AS BIGINT) AS n_pairs,
        |           CAST(sum(d * n) AS BIGINT) AS sumd,
        |           CAST(max(d) AS BIGINT) AS diameter
        |    FROM byd)
        |SELECT t.n_pairs, t.diameter,
        |       CAST(min(c.d) AS BIGINT) AS eff_diameter_90,
        |       CAST(floor(1e6 * t.sumd / t.n_pairs + 0.5) AS BIGINT)
        |         AS mean_dist_ppm
        |FROM c CROSS JOIN tot t
        |WHERE c.cum * 10 >= t.n_pairs * 9
        |GROUP BY t.n_pairs, t.diameter, t.sumd""".stripMargin,

    // bounded recursive BFS: UNION ALL paths capped at 4 hops, min-hop
    // folded outside the recursion (path count stays ≤ 3^4 per source
    // thanks to the top-3 sparsification).
    "graph_reachability" ->
      s"""WITH RECURSIVE $sparseCte,
        |  reach(node, hops) AS (
        |    SELECT n_nationkey, 0 FROM nation WHERE n_nationkey = 0
        |    UNION ALL
        |    SELECT e.dst, r.hops + 1
        |    FROM reach r JOIN sparse e ON e.src = r.node
        |    WHERE r.hops < 4)
        |SELECT n.n_name, min(r.hops) AS hops
        |FROM reach r JOIN nation n ON n.n_nationkey = r.node
        |GROUP BY n.n_name
        |ORDER BY hops, n_name""".stripMargin,

    // bounded walk enumeration: min cost over all ≤4-edge walks ≡ 4
    // Bellman-Ford relaxation rounds (non-negative costs, so non-simple
    // walks never win); path count capped by the top-3 out-degree
    "graph_shortest_path" ->
      s"""WITH RECURSIVE $edgesCte,
        |  sparsec AS (
        |    SELECT src, dst, CAST(1.0 AS DOUBLE) / (w / ow) AS cost FROM (
        |      SELECT src, dst, w,
        |             sum(w) OVER (PARTITION BY src) AS ow,
        |             row_number() OVER (PARTITION BY src
        |                                ORDER BY w DESC, dst) AS rn
        |      FROM edges WHERE src <> dst)
        |    WHERE rn <= 3),
        |  walk(node, cost, depth) AS (
        |    SELECT n_nationkey, CAST(0.0 AS DOUBLE), 0 FROM nation
        |    WHERE n_nationkey = 0
        |    UNION ALL
        |    SELECT e.dst, w.cost + e.cost, w.depth + 1
        |    FROM walk w JOIN sparsec e ON e.src = w.node
        |    WHERE w.depth < 4)
        |SELECT n.n_name, round(min(w.cost), 6) AS cost
        |FROM walk w JOIN nation n ON n.n_nationkey = w.node
        |GROUP BY n.n_name
        |ORDER BY cost, n_name""".stripMargin,

    // hop-BFS via a depth-capped recursive walk (depth < 6 mirrors the
    // engine's 6-hop metric cap); 1/d summed as exact 60/d integers
    "graph_harmonic_centrality" ->
      s"""WITH RECURSIVE $undCte,
        |  bi AS (SELECT a AS s, b AS d FROM und
        |         UNION ALL SELECT b, a FROM und),
        |  walk(src, node, depth) AS (
        |    SELECT n_nationkey, n_nationkey, 0 FROM nation
        |    UNION ALL
        |    SELECT w.src, bi.d, w.depth + 1
        |    FROM walk w JOIN bi ON bi.s = w.node
        |    WHERE w.depth < 6),
        |  dist AS (
        |    SELECT src, node, min(depth) AS dd
        |    FROM walk GROUP BY src, node)
        |SELECT n.n_name,
        |       CAST(sum(CASE WHEN node <> src THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_reach,
        |       floor(CAST(sum(CASE WHEN node <> src THEN 60 // dd
        |                          ELSE 0 END) AS DOUBLE) * 1e6 / 60.0
        |             + 0.5) / 1e6 AS harmonic
        |FROM dist JOIN nation n ON n.n_nationkey = dist.src
        |GROUP BY n.n_name
        |ORDER BY n_name""".stripMargin,

    "graph_triangles" ->
      s"""WITH $undCte,
        |  tri AS (
        |    SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |    FROM und e1
        |    JOIN und e2 ON e2.a = e1.b
        |    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        |  corners AS (
        |    SELECT x AS node FROM tri UNION ALL
        |    SELECT y FROM tri UNION ALL
        |    SELECT z FROM tri)
        |SELECT n.n_name, count(*) AS n_triangles
        |FROM corners c JOIN nation n ON n.n_nationkey = c.node
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin,

    "graph_clustering_coeff" ->
      s"""WITH $undDegCtes,
        |  tri AS (
        |    SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |    FROM und e1
        |    JOIN und e2 ON e2.a = e1.b
        |    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        |  tcnt AS (
        |    SELECT node, count(*) AS tri FROM (
        |      SELECT x AS node FROM tri UNION ALL
        |      SELECT y FROM tri UNION ALL
        |      SELECT z FROM tri)
        |    GROUP BY node)
        |SELECT n.n_name, d.deg, coalesce(t.tri, 0) AS tri,
        |       CASE WHEN d.deg >= 2 THEN
        |         round(CAST(coalesce(t.tri, 0) * 2 AS DOUBLE)
        |               / CAST(d.deg * (d.deg - 1) AS DOUBLE), 6)
        |       ELSE 0.0 END AS coeff
        |FROM deg d
        |LEFT JOIN tcnt t ON t.node = d.node
        |JOIN nation n ON n.n_nationkey = d.node
        |ORDER BY n.n_name""".stripMargin,

    "graph_adamic_adar" ->
      s"""WITH $undAdjCtes,
        |  deg AS (SELECT v AS w, count(*) AS degw FROM adj GROUP BY v),
        |  wedges AS (
        |    SELECT p.u AS a, q.u AS b, p.v AS w
        |    FROM adj p JOIN adj q ON p.v = q.v AND p.u < q.u),
        |  nonadj AS (
        |    SELECT w.a, w.b, w.w FROM wedges w
        |    WHERE NOT EXISTS (SELECT 1 FROM und e
        |                      WHERE e.a = w.a AND e.b = w.b))
        |SELECT n.a, n.b,
        |       round(sum(1.0 / ln(CAST(d.degw AS DOUBLE))), 6) AS aa,
        |       count(*) AS common
        |FROM nonadj n JOIN deg d ON d.w = n.w
        |GROUP BY n.a, n.b
        |ORDER BY aa DESC, n.a, n.b
        |LIMIT 10""".stripMargin,

    "graph_node_jaccard" ->
      s"""WITH $undAdjCtes,
        |  deg AS (SELECT u AS w, count(*) AS degw FROM adj GROUP BY u),
        |  wedges AS (
        |    SELECT p.u AS a, q.u AS b
        |    FROM adj p JOIN adj q ON p.v = q.v AND p.u < q.u),
        |  nonadj AS (
        |    SELECT w.a, w.b, count(*) AS common FROM wedges w
        |    WHERE NOT EXISTS (SELECT 1 FROM und e
        |                      WHERE e.a = w.a AND e.b = w.b)
        |    GROUP BY w.a, w.b)
        |SELECT n.a, n.b, CAST(n.common AS BIGINT) AS common,
        |       CAST(floor(1e6 * n.common /
        |              (da.degw + db.degw - n.common) + 0.5) AS BIGINT)
        |         AS jaccard_ppm
        |FROM nonadj n
        |JOIN deg da ON da.w = n.a
        |JOIN deg db ON db.w = n.b
        |ORDER BY jaccard_ppm DESC, n.a, n.b
        |LIMIT 10""".stripMargin,

    "graph_katz" ->
      s"""WITH $sparseCte,
        |  e AS (SELECT CAST(src AS BIGINT) AS s, CAST(dst AS BIGINT) AS d
        |        FROM sparse),
        |  nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS node
        |            FROM nation),
        |  k0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS x FROM nodes),
        |  k1 AS (SELECT n.node,
        |    CAST(1000000000 + coalesce(c.cs, 0) AS BIGINT) AS x
        |    FROM nodes n LEFT JOIN (
        |      SELECT e.d AS node, CAST(sum(x.x // 8) AS BIGINT) AS cs
        |      FROM e JOIN k0 x ON x.node = e.s GROUP BY e.d) c
        |    ON c.node = n.node),
        |  k2 AS (SELECT n.node,
        |    CAST(1000000000 + coalesce(c.cs, 0) AS BIGINT) AS x
        |    FROM nodes n LEFT JOIN (
        |      SELECT e.d AS node, CAST(sum(x.x // 8) AS BIGINT) AS cs
        |      FROM e JOIN k1 x ON x.node = e.s GROUP BY e.d) c
        |    ON c.node = n.node),
        |  k3 AS (SELECT n.node,
        |    CAST(1000000000 + coalesce(c.cs, 0) AS BIGINT) AS x
        |    FROM nodes n LEFT JOIN (
        |      SELECT e.d AS node, CAST(sum(x.x // 8) AS BIGINT) AS cs
        |      FROM e JOIN k2 x ON x.node = e.s GROUP BY e.d) c
        |    ON c.node = n.node),
        |  k4 AS (SELECT n.node,
        |    CAST(1000000000 + coalesce(c.cs, 0) AS BIGINT) AS x
        |    FROM nodes n LEFT JOIN (
        |      SELECT e.d AS node, CAST(sum(x.x // 8) AS BIGINT) AS cs
        |      FROM e JOIN k3 x ON x.node = e.s GROUP BY e.d) c
        |    ON c.node = n.node),
        |  kfin AS (SELECT node, x FROM k4)
        |SELECT n.n_name, k.node, k.x AS katz_ppb
        |FROM kfin k JOIN nation n ON CAST(n.n_nationkey AS BIGINT) = k.node
        |ORDER BY n.n_name""".stripMargin,

    "graph_temporal_reach" ->
      """WITH RECURSIVE tedges AS (
        |    SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst,
        |           date_trunc('month', o.o_orderdate) AS m
        |    FROM lineitem l
        |    JOIN orders o   ON l.l_orderkey = o.o_orderkey
        |    JOIN customer c ON o.o_custkey  = c.c_custkey
        |    JOIN supplier s ON l.l_suppkey  = s.s_suppkey),
        |  reach(node, arr) AS (
        |    SELECT 0, min(m) FROM tedges
        |    UNION
        |    SELECT e.dst, e.m
        |    FROM reach r JOIN tedges e
        |      ON e.src = r.node AND e.m >= r.arr)
        |SELECT n.n_name, CAST(min(r.arr) AS DATE) AS first_reach_month
        |FROM reach r JOIN nation n ON n.n_nationkey = r.node
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin,

    "graph_assortativity" ->
      s"""WITH $undDegCtes,
        |  dir AS (
        |    SELECT a AS u, b AS v FROM und
        |    UNION ALL SELECT b, a FROM und),
        |  sums AS (
        |    SELECT CAST(count(*) AS DOUBLE) AS m,
        |           CAST(sum(dj.deg * dk.deg) AS DOUBLE) AS sjk,
        |           CAST(sum(dj.deg) AS DOUBLE) AS sj,
        |           CAST(sum(dj.deg * dj.deg) AS DOUBLE) AS sjj
        |    FROM dir e
        |    JOIN deg dj ON dj.node = e.u
        |    JOIN deg dk ON dk.node = e.v)
        |SELECT round((m*sjk - sj*sj) / (m*sjj - sj*sj), 6) + 0.0
        |         AS assortativity
        |FROM sums""".stripMargin,

    // reachability closure with UNION-dedup recursion: state is the set of
    // (node, seed-label) pairs, bounded by |nodes|², so the recursion
    // terminates at the transitive closure; min over reached labels ≡ the
    // min-label-propagation fixpoint.
    "graph_components" ->
      s"""WITH RECURSIVE $exactEdgesCte,
        |  und AS (
        |    SELECT least(src, dst) AS a, greatest(src, dst) AS b,
        |           sum(wu) AS wu
        |    FROM eedges WHERE src <> dst GROUP BY 1, 2),
        |  tot AS (SELECT sum(wu) AS t, count(*) AS n FROM und),
        |  kept AS (SELECT a, b FROM und, tot WHERE wu * n > t),
        |  bi AS (SELECT a AS s, b AS d FROM kept
        |         UNION ALL SELECT b, a FROM kept),
        |  reach(node, lbl) AS (
        |    SELECT n_nationkey, n_nationkey FROM nation
        |    UNION
        |    SELECT bi.d, r.lbl FROM reach r JOIN bi ON bi.s = r.node)
        |SELECT n.n_name, CAST(min(r.lbl) AS BIGINT) AS comp
        |FROM reach r JOIN nation n ON n.n_nationkey = r.node
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin,

    // cycle-property certificate: edge ∈ maximum spanning forest ⟺ its
    // endpoints are not connected by strictly earlier edges under the
    // (wu DESC, a, b) total order
    "graph_mst" ->
      s"""WITH RECURSIVE $exactEdgesCte,
        |  und AS (
        |    SELECT least(src, dst) AS a, greatest(src, dst) AS b,
        |           CAST(sum(wu) AS BIGINT) AS wu
        |    FROM eedges WHERE src <> dst GROUP BY 1, 2),
        |  bi AS (SELECT a, b, wu, a AS s, b AS d FROM und
        |         UNION ALL SELECT a, b, wu, b, a FROM und),
        |  reach(ea, eb, ew, node) AS (
        |    SELECT a, b, wu, a FROM und
        |    UNION
        |    SELECT r.ea, r.eb, r.ew, bi.d
        |    FROM reach r JOIN bi ON bi.s = r.node
        |    WHERE bi.wu > r.ew
        |       OR (bi.wu = r.ew AND (bi.a < r.ea
        |            OR (bi.a = r.ea AND bi.b < r.eb))))
        |SELECT u.a, u.b, u.wu, round(u.wu / 10000.0, 2) AS revenue
        |FROM und u
        |WHERE NOT EXISTS (SELECT 1 FROM reach r
        |                  WHERE r.ea = u.a AND r.eb = u.b AND r.node = u.b)
        |ORDER BY u.a, u.b""".stripMargin)
}
