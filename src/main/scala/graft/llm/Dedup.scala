package graft.llm
import graft.core.Ckpt._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables.{spread, t}
import graft.functions.PolyHash.{P, minhashPerms}

/** Approximate dedup family for 100 TB corpora (BASELINE.json north_star).
  * Exact anchors (md5 group, exact n-gram Jaccard) live in [[TextOps]];
  * this file holds the scale paths:
  *
  *  - native banded MinHash ([[minhashPairsNative]]): portable
  *    polynomial shingle hashes → 64-permutation min aggregate → r=2/b=32
  *    bucket join → exact verification on candidates only, so cost is
  *    O(near-dup pairs), not O(n²).
  *  - SimHash: in [[TextOps]] (`llm_simhash`); signature clustering here.
  *  - Embedding near-dup: cosine ≥ threshold via the LSH signature join
  *    from [[SimSearch]].
  *
  * As of r10 ALL of these are fully value-twinned in the DuckDB oracle:
  * the minhash/simhash families run on the portable polynomial hash and
  * the embedding family on the portable md5 hyperplane table, so the
  * oracle replays the production pipelines end to end. `DedupSpec`
  * additionally validates recall against the exact-Jaccard ground truth.
  */
object Dedup extends graft.Family {
  /** Native banded MinHash near-dup pairs: shingles → portable polynomial
    * hash → 64-permutation signature as one min aggregate (the
    * permutations are [[graft.functions.PolyHash.minhashPerms]]) →
    * r=2/b=32 banding → exact Jaccard verification restricted to
    * candidate pairs only. Two docs are candidates iff they
    * agree on both positions of some band: P(candidate) = 1 − (1−J²)^32.
    *
    * Why r = 2 matters at 100 TB: with r=1 every single agreeing position
    * makes a candidate — at J=0.1 (boilerplate-level similarity) 16 bands
    * admit a pair with p ≈ 0.81, so a boilerplate-heavy corpus degenerates
    * toward the quadratic all-pairs check. r=2 drops that to
    * 1 − (1−0.01)^32 ≈ 0.27 while b=32 keeps J=0.3 recall ≈ 0.96.
    *
    * This is the 100 TB shape: one aggregate to build signatures, one
    * equi-join on (band, bandkey) buckets, and the quadratic exact
    * check runs only on the candidate set instead of all pairs. */
  // per-(corpus, threshold) cache: llm_minhash_pairs (0.2) and
  // llm_dedup_apply (0.3) each consume the banded pair set, and bench
  // reps repeat it — the signature aggregate is the expensive stage
  private val minhashPairsCache = new graft.core.SessionCache[DataFrame]

  def minhashPairsNative(s: SparkSession, d: String,
                         threshold: Double = 0.2): DataFrame =
    minhashPairsCache.getOrElseUpdate(s, s"$d#$threshold",
      minhashPairsBuild(s, d, threshold).ckpt(eager = false))

  /** Per-shingle portable polynomial hash (the llm_simhash_poly kernel,
    * over shingle strings) — the compiled [[graft.functions.PolyHash]]
    * loop since r15 (same values, PolyHashSpec-pinned). */
  private def polyHash(c: org.apache.spark.sql.Column) =
    call_function("poly_hash", c)

  private def minhashPairsBuild(s: SparkSession, d: String,
                                threshold: Double): DataFrame = {
    // materialize the hashed shingle set ONCE: it feeds the signature agg
    // and both sides of the exact-verify join, and without a lineage cut
    // the planner replays the whole scan→generate→distinct subtree (and
    // its shuffle) at every reference — 0 ReusedExchange in the static plan
    val sh = TextOps.shingles(s, d)
      .withColumn("h", polyHash(col("shingle")))
      .select("doc_id", "h")
      .ckpt(eager = false)
    // 64-permutation signature as ONE hash aggregate (64 min columns +
    // n_sh): map-side partials carry a constant-width row per doc, and
    // every value is portable, so the twin replays it
    val minCols = minhashPerms.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(P))).as(s"mh$i") }
    val aggCols = minCols :+ count(lit(1)).as("n_sh")
    val sigs = sh.groupBy(col("doc_id"))
      .agg(aggCols.head, aggCols.tail: _*)
      .ckpt(eager = false)
    // r=2/b=32 banding: the two mins of a band pack injectively into one
    // BIGINT key (P < 2^30), so the bucket join is a plain equi-join and
    // — unlike an xxhash64 of the pair — the key is engine-portable
    val bandKeys = (0 until 32).map { i =>
      col(s"mh${2 * i}") * lit(1L << 30) + col(s"mh${2 * i + 1}") }
    val banded = sigs.select(col("doc_id"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "bk")))
    val cands = banded.select(col("doc_id").as("doc1"), col("band"), col("bk"))
      .join(banded.select(col("doc_id").as("doc2"), col("band"), col("bk")),
        Seq("band", "bk"))
      .filter(col("doc1") < col("doc2"))
      .select("doc1", "doc2").distinct()
    // exact verification on candidates only
    val common = cands
      .join(sh.select(col("doc_id").as("doc1"), col("h")), Seq("doc1"))
      .join(sh.select(col("doc_id").as("doc2"), col("h")), Seq("doc2", "h"))
      .groupBy(col("doc1"), col("doc2")).agg(count(lit(1)).as("common"))
    val n = sigs.select(col("doc_id"), col("n_sh"))
    common
      .join(n.select(col("doc_id").as("doc1"), col("n_sh").as("n1")), Seq("doc1"))
      .join(n.select(col("doc_id").as("doc2"), col("n_sh").as("n2")), Seq("doc2"))
      .withColumn("jaccard", col("common").cast("double") /
        (col("n1") + col("n2") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc1"), col("doc2"), col("jaccard"))
  }

  /** SimHash NEAR-duplicate pairs (hamming ≤ maxHamming), banked à la
    * Manku/Jain/Sarma: the signature splits into `banks` blocks; two
    * signatures within hamming h differ in at most h blocks, so at least
    * `banks − h` blocks are clean — and any `blocksPerKey`-subset of
    * clean blocks matches exactly. With banks − maxHamming ≥ blocksPerKey
    * the pigeonhole guarantees SOME key table agrees — candidate recall
    * is 1.0, not probabilistic, in every configuration.
    *
    * `blocksPerKey` is the SKEW knob (r10, from the sf1 probe): simhash
    * bits of same-language documents CORRELATE (common words vote the
    * same way), so single-block keys concentrate — at 50k docs the 4×15
    * banking put thousands of docs in the hot 15-bit buckets and the
    * candidate join went quadratic-in-the-bucket (8.8 s). Pair keys
    * (banks = 6, blocksPerKey = 2 → C(6,2) = 15 tables of 20-bit keys)
    * need 20 correlated bits to collide: candidates drop ~60× for 3.75×
    * more banked rows, and the probe flattens to ≈1.4 s at sf1. The
    * exact hamming check (`bit_count(s1 ^ s2)`, codegen'd) then removes
    * bucket false positives, so the OUTPUT is scheme-independent.
    * Shuffle carries only (id, signature, key) — no text. */
  def simhashNearDup(sim: DataFrame, maxHamming: Int = 3,
                     banks: Int = 4, sigBits: Int = 64,
                     blocksPerKey: Int = 1): DataFrame = {
    require(banks - maxHamming >= blocksPerKey,
      "pigeonhole needs banks - maxHamming >= blocksPerKey")
    require(sigBits % banks == 0, "banks must divide sigBits")
    val bankBits = sigBits / banks
    val mask = (1L << bankBits) - 1
    val combos = (0 until banks).combinations(blocksPerKey).toSeq
    val keys = combos.map(c =>
      c.map(b => expr(s"shiftrightunsigned(simhash, ${b * bankBits}) & $mask"))
        .reduce((hi, lo) => hi * lit(1L << bankBits) + lo))
    val banked = sim.select(col("doc_id"), col("simhash"),
      posexplode(array(keys: _*)).as(Seq("bank", "key")))
    val a = banked.select(col("doc_id").as("doc1"),
      col("simhash").as("s1"), col("bank"), col("key"))
    val b = banked.select(col("doc_id").as("doc2"),
      col("simhash").as("s2"), col("bank"), col("key"))
    // stateless multi-table dedup (the llm_ann_lsh first-shared-table
    // trick): a colliding pair matches EVERY table whose blocks are all
    // zero in s1^s2 — keep only the first such table, so each pair
    // survives exactly once and the distinct() exchange over the (pair ×
    // tables) collision set disappears. On a cluster-heavy corpus (the
    // sf1 probe: 6.5M true pairs at 50k docs, every one colliding in all
    // `banks` tables) that exchange WAS the query.
    // generated CASE chain, NOT a filter/forall HOF: higher-order
    // functions run interpreted per row, and this predicate evaluates on
    // every collision — the scalar CASE stays inside whole-stage codegen
    val firstMatch = expr("CASE " + combos.zipWithIndex.map { case (c, k) =>
      val zero = c.map(b =>
        s"(shiftrightunsigned(s1 ^ s2, ${b * bankBits}) & $mask) = 0")
        .mkString(" AND ")
      s"WHEN $zero THEN $k"
    }.mkString(" ") + " END")
    a.join(b, Seq("bank", "key"))
      .filter(col("doc1") < col("doc2"))
      .filter(col("bank") === firstMatch)
      .withColumn("hamming", expr("bit_count(s1 ^ s2)"))
      .filter(col("hamming") <= maxHamming)
      .select("doc1", "doc2", "hamming")
  }

  /** Reference connected components by iterative min-label propagation,
    * run until a fixed point (no label changes) instead of a fixed round
    * count: min-label needs O(graph diameter) rounds, and a chain of
    * near-dups longer than any fixed cap would silently split into two
    * components. Each round is one edge⋈label shuffle; `localCheckpoint`
    * truncates lineage so the plan does not grow per round; the
    * convergence probe is an `isEmpty` (LIMIT 1) over the checkpointed
    * step, not a full count. `maxIter` is a runaway backstop only.
    *
    * This is now the DIFFERENTIAL ORACLE: the production path is
    * [[connectedComponentsFast]] (large-star/small-star, O(log d) rounds);
    * DedupSpec asserts the two agree on every graph the suite builds. */
  def connectedComponents(vertices: DataFrame, pairs: DataFrame,
                          maxIter: Int = 64): DataFrame = {
    val edges = pairs.select(col("doc1"), col("doc2"))
      .union(pairs.select(col("doc2").as("doc1"), col("doc1").as("doc2")))
      .ckpt(eager = false)
    var labels = vertices.select(col("doc_id"), col("doc_id").as("label"))
      .ckpt(eager = false)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("doc2"), col("label").as("nbl")),
          Seq("doc2"))
        .groupBy(col("doc1")).agg(min(col("nbl")).as("nbr_min"))
        .select(col("doc1").as("doc_id"), col("nbr_min"))
      val stepped = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("label"),
          least(col("label"), coalesce(col("nbr_min"), col("label")))
            .as("new_label"))
        .ckpt(eager = false)
      converged = stepped.filter(col("new_label") < col("label")).isEmpty
      labels = stepped.select(col("doc_id"), col("new_label").as("label"))
      iter += 1
    }
    labels
  }

  /** One large-star round (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14 §3): for every node u with minimum
    * m = min({u} ∪ N(u)), re-point each STRICTLY LARGER neighbor v > u at
    * m. Connectivity is preserved (u–v is replaced by the path v–m–u) and
    * every emitted edge is oriented big→small with the small end a local
    * minimum — heights roughly halve per round. Input may be in either
    * orientation; it is symmetrized here. */
  private def largeStarStep(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val m = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(m, Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** One small-star round: input edges oriented u > v; for every node u
    * with m = min(N(u)) (all neighbors are smaller, so m is the overall
    * min), re-point every other small neighbor at m and keep (u, m).
    * Output stays oriented u > v. Together with [[largeStarStep]] this
    * contracts each component to a star rooted at its minimum id. */
  private def smallStarStep(e: DataFrame): DataFrame = {
    val m = e.groupBy(col("u")).agg(min(col("v")).as("m"))
    e.join(m, Seq("u"))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .union(m.select(col("u"), col("m").as("v")))
      .distinct()
  }

  /** DuckDB replay of the exact near-dup pair graph: the shingles of
    * [[TextOps.shingleCtes]], then `jp(doc1, doc2)`, every doc pair whose
    * shingle Jaccard is at least 0.2. */
  private val exactPairCtes: String = s"""${TextOps.shingleCtes()}, counts AS (
        SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
      ), jp AS (
        SELECT doc1, doc2 FROM (
          SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS common
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        ) p
        JOIN counts n1 ON doc1 = n1.doc_id
        JOIN counts n2 ON doc2 = n2.doc_id
        WHERE CAST(common AS DOUBLE) /
              CAST(n1.n_sh + n2.n_sh - common AS DOUBLE) >= 0.2
      )"""

  /** DuckDB replay of [[connectedComponentsFast]] over the pair set
    * `jp(doc1, doc2)`: the transitive closure `reach` (recursive), and
    * `comp(node, label)`, each node's component minimum. */
  private val componentCtes: String = """edges AS (
        SELECT doc1 AS src, doc2 AS dst FROM jp
        UNION ALL
        SELECT doc2, doc1 FROM jp
      ), reach(node, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, rr.r FROM reach rr JOIN edges e ON e.src = rr.node
      ), comp AS (
        SELECT node, min(r) AS label FROM reach GROUP BY node
      )"""

  /** PRODUCTION connected components: alternating large-star / small-star
    * (Kiveris et al. SoCC'14). Converges in O(log d) rounds where
    * min-label propagation needs O(d) — on a 100 TB corpus a single long
    * near-dup chain (crawl mirrors, versioned boilerplate) gives d in the
    * hundreds, i.e. hundreds of shuffle rounds for min-label vs ~8 here.
    * Per round: two keyed aggregates + two joins over the current edge
    * set only (labels never join the full vertex set until the end), with
    * `localCheckpoint` truncating lineage. Convergence = the edge set is
    * unchanged (count + order-independent xxhash64 xor, one 1-row agg —
    * bounded driver traffic like the min-label isEmpty probe; at the
    * star fixpoint both operators are identity so the signature is
    * stationary exactly at convergence). Same output contract as
    * [[connectedComponents]]: (doc_id, label = component minimum), every
    * vertex labeled, isolated vertices labeled themselves — the two are
    * interchangeable and DedupSpec proves it differentially. */
  def connectedComponentsFast(vertices: DataFrame, pairs: DataFrame,
                              maxIter: Int = 25): DataFrame = {
    val e = normalizedEdges(pairs)
    // r15: when the DISTINCT edge set fits the driver bound, label via a
    // min-rooted union-find on the driver instead of the star-superstep
    // rounds — each distributed round costs 4 shuffles + 1-row probes,
    // pure scheduling overhead on small-to-medium pair graphs (the
    // textrank/gbm_stumps probe-and-fallback pattern). Output contract is
    // unchanged: label = component-minimum id (min-rooted unions keep the
    // root the component min at every step, so find() IS the min), every
    // vertex labeled, isolated vertices labeled themselves. DedupSpec's
    // differential suite (fast ≡ min-label reference) covers this path;
    // the distributed form (ccFastLabels) remains the production path for
    // edge sets beyond ccDriverCap.
    val edgeTypesOk = e.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    val probe = if (edgeTypesOk) e.limit(ccDriverCap + 1).collect() else null
    if (probe != null && probe.length <= ccDriverCap) {
      val uf = new graft.core.MinUnionFind
      probe.foreach(row => uf.union(row.getLong(0), row.getLong(1)))
      val nodes = probe.iterator
        .flatMap(r => Iterator(r.getLong(0), r.getLong(1)))
        .toArray.distinct.sorted
      val s = vertices.sparkSession
      import s.implicits._
      val lab = s.createDataset(
          nodes.map(n => (n, uf.find(n))).toSeq)
        .toDF("doc_id", "cclab")
      vertices.select(col("doc_id"))
        .join(broadcast(lab), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cclab"), col("doc_id")).as("label"))
    } else ccFastFromEdges(e, vertices, maxIter)._1
  }

  /** Largest distinct edge set [[connectedComponentsFast]] labels on the
    * driver instead of by distributed star rounds. */
  private val ccDriverCap = 524288

  /** (doc1, doc2) → distinct big→small (u, v) edges, self-loops dropped —
    * the normalized form both CC kernels consume. */
  private def normalizedEdges(pairs: DataFrame): DataFrame =
    pairs
      .select(greatest(col("doc1"), col("doc2")).as("u"),
        least(col("doc1"), col("doc2")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .ckpt(eager = false)

  /** [[connectedComponentsFast]] plus the round count, for the O(log d)
    * convergence assertions in DedupSpec (always the DISTRIBUTED form —
    * round counts are meaningless on the driver path). */
  private[graft] def ccFastLabels(vertices: DataFrame, pairs: DataFrame,
                                  maxIter: Int = 25): (DataFrame, Int) =
    ccFastFromEdges(normalizedEdges(pairs), vertices, maxIter)

  private def ccFastFromEdges(edges: DataFrame, vertices: DataFrame,
                              maxIter: Int): (DataFrame, Int) = {
    def sig(df: DataFrame): (Long, Long) = {
      // bit_xor: order-independent AND overflow-free under ANSI mode
      // (a bigint SUM of 64-bit hashes would throw ARITHMETIC_OVERFLOW);
      // the edge set is distinct, so xor cannot cancel duplicates
      val r = df.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var e = edges
    var prev = sig(e)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // converged ⇔ BOTH operators leave the edge set unchanged (the
      // paper's criterion) — checking only the composition could in
      // principle miss an A→B→A oscillation. The large-star check is
      // deferred until the composition already looks stationary, so the
      // common (non-final) round pays ONE 1-row probe, not two.
      val ls = largeStarStep(e).ckpt(eager = false)
      e = smallStarStep(ls).ckpt(eager = false)
      val cur = sig(e)
      converged = cur == prev && sig(ls) == prev
      prev = cur
      iter += 1
    }
    // converged star: every non-root u carries exactly the edge (u, root)
    val lab = e.groupBy(col("u").as("doc_id")).agg(min(col("v")).as("label"))
    val labels = vertices.select(col("doc_id"))
      .join(lab, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("label"))
    (labels, iter)
  }

  /** Embedding near-duplicate pairs: hyperplane-LSH buckets → exact cosine
    * ≥ minCos within buckets only. Banding is tuned for the NEAR-DUP
    * regime, the opposite corner from ANN search: at cos ≥ 0.95 each
    * hyperplane agrees with p = 1 − arccos(0.95)/π ≈ 0.9, so LONG 8-bit
    * tables still collide (p⁸ ≈ 0.43, 1−(1−p⁸)⁸ ≈ 0.99 over 8 tables)
    * while slicing each table into 2⁸ buckets — candidate sets ~16× smaller
    * than the 4-bit ANN tuning. Exact cosine re-check ⇒ zero false
    * positives whatever the banding admits.
    *
    * SCALE REGIME (r10, from the sf1 probe): on near-random embeddings
    * sign-LSH bucket loads are uniform ≈ N/2^bits, so candidate volume is
    * N²·nTables/2^bits — the banding buys a CONSTANT, not an exponent,
    * unless true near-dup mass dominates the buckets. That is fine in
    * the high-threshold regime this operator is built for (cos ≥ 0.95:
    * per-plane agreement 0.9 lets bits grow with log N at held recall),
    * but a WEAK threshold (the fixture's cos 0.45, p ≈ 0.65) cannot
    * afford long keys at any table count — recall decays like
    * (1 − 0.65^bits)^nTables. For weak thresholds at corpus scale use
    * the IVF-cell bucketing instead (llm_semdedup with K ∝ n/100:
    * candidate volume N·(N/K) = O(100·N), linear by contract). The sf1
    * probe shows exactly this: 16×4 banding at cos 0.45 went 0.68 s →
    * 15.0 s across the 10× step while the cos-0.95 production tuning
    * stays bucket-sparse. */
  def embeddingNearDup(emb: DataFrame,
                       minCos: Double = 0.95,
                       nTables: Int = 8, bitsPerTable: Int = 8): DataFrame = {
    // the bucket self-join carries ONLY (sig, id) — 16 bytes/row — through
    // the shuffle; embeddings (~dim×4 bytes each) are joined back by id
    // for just the deduped candidate pairs. The earlier form shuffled both
    // sides' full arrays through every bucket row: nTables× more shuffle
    // bytes than one id-keyed array join on the (far smaller) pair set.
    //
    // Banding must be tuned to minCos: per-hyperplane agreement is
    // p = 1 − arccos(minCos)/π, per-table collision p^bits, recall
    // 1 − (1 − p^bits)^nTables. The 8×8 default targets cos ≥ 0.95
    // (p ≈ 0.9 → recall ≈ 0.99); a looser threshold needs shorter keys
    // and/or more tables (e.g. cos 0.45: p ≈ 0.65, 16×4 → recall ≈ 0.96).
    val sigd = SimSearch.signatures(emb, nTables = nTables,
        bitsPerTable = bitsPerTable)
      .ckpt(eager = false) // sigs computed once, reused by both join sides
    val buckets = sigd.select(col("vec_id"), explode(col("sigs")).as("sig"))
    val cands = buckets.select(col("vec_id").as("id1"), col("sig"))
      .join(buckets.select(col("vec_id").as("id2"), col("sig")), Seq("sig"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    cands
      .join(sigd.select(col("vec_id").as("id1"), col("embedding").as("v1")),
        Seq("id1"))
      .join(sigd.select(col("vec_id").as("id2"), col("embedding").as("v2")),
        Seq("id2"))
      .withColumn("cos", expr("cosine_similarity(v1, v2)"))
      .filter(col("cos") >= minCos)
      .select(col("id1"), col("id2"), col("cos"))
  }

  // per-corpus cache of the exact-Jaccard CC labeling (the er-family
  // amortization): llm_dedup_exact and llm_dedup_quality both consume
  // the same pair graph + star-star labels
  private val exactLabelsCache = new graft.core.SessionCache[DataFrame]
  private val minhashLabelsCache = new graft.core.SessionCache[DataFrame]

  private def exactJaccardLabels(s: SparkSession, d: String): DataFrame =
    exactLabelsCache.getOrElseUpdate(s, d, {
      val pairs = TextOps.defs("llm_ngram_jaccard")(s, d)
        .select(col("doc1"), col("doc2"))
      connectedComponentsFast(
          t(s, d, "documents").select(col("doc_id")), pairs)
        .ckpt(eager = false)
    })

  val defs: Map[String, Q] = Map(
    // near-dup pairs via native banded MinHash (Jaccard ≥ 0.2)
    "llm_minhash_pairs" -> ((s, d) => minhashPairsNative(s, d)),

    // LSH banding design table — the S-curve every MinHash deployment is
    // tuned from: with a 16-hash signature split into b bands of r rows,
    // P(candidate | similarity s) = 1 − (1 − s^r)^b, and the S-curve
    // midpoint sits at s ≈ (1/b)^(1/r). Emits the full (banding ×
    // similarity-grid) table plus the midpoint, so choosing b/r for a
    // target Jaccard threshold is a lookup, not a rerun. Pure expression
    // arithmetic (identical fp trees both engines, no rounding needed);
    // reads no table — the signature length is the input.
    "llm_lsh_tuning" -> ((s, _) => {
      import s.implicits._
      val grid = (for {
        (b, r) <- Seq((2, 8), (4, 4), (8, 2), (16, 1)); i <- 1 to 9
      } yield (b, r, i)).toDF("b", "r", "i")
      grid.select(col("b"), col("r"),
          (col("i") / 10.0).as("s"),
          (lit(1.0) - pow(lit(1.0) - pow(col("i") / 10.0, col("r")),
            col("b"))).as("p_candidate"),
          pow(lit(1.0) / col("b"), lit(1.0) / col("r")).as("s_mid"))
        .orderBy(col("b"), col("r"), col("s"))
    }),

    // duplicate clusters: connected doc groups sharing a SimHash signature.
    // members is emitted as a sorted comma-joined STRING (not array<bigint>):
    // the driver comparator sorts rows in pandas and arrays are unhashable
    // there — same canonicalization as agg_collect in Relational.scala.
    "llm_simhash_clusters" -> ((s, d) => {
      val sim = TextOps.defs("llm_simhash")(s, d)
      sim.groupBy(col("simhash"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"),
          concat_ws(",", array_sort(collect_list(col("doc_id"))))
            .as("members"))
        .filter(col("n_docs") > 1)
    }),

    // embedding near-dup over the table AS GIVEN — no data is planted here.
    // The synthetic embeddings are near-orthogonal (max pairwise cos ≈ 0.51
    // at every SF), so the production threshold 0.95 would honestly return
    // 0 rows; the driver entry runs the SAME operator at minCos = 0.45, a
    // threshold this corpus supports, so the rows>0 check measures real
    // bucket-join + exact-cosine behavior on real data. The cos ≥ 0.95
    // planted-duplicate recall test (≥ 0.9) lives in DedupSpec, where
    // fixtures belong.
    // 16 tables × 4-bit keys: recall ≈ 0.96 at cos 0.45 (see banding note
    // in [[embeddingNearDup]]); the 8×8 default would bucket-miss ~78% of
    // pairs this far from identical.
    // FULLY ORACLE-CHECKED as of r10: the planes are the portable md5
    // table, so the twin replays buckets AND verified pairs verbatim
    // (llm_embedding_neardup_exact below remains the axis-aligned anchor).
    "llm_embedding_neardup" -> ((s, d) =>
      embeddingNearDup(spread(t(s, d, "embeddings")), minCos = 0.45,
        nTables = 16, bitsPerTable = 4)),

    // SimHash near-dup pairs at hamming ≤ 3 (banked, recall-exact; see
    // [[simhashNearDup]]) — the near-match complement of the
    // identical-signature clusters above. sigBits = 60: the portable
    // signature's live bits (r9), so all four 15-bit banks carry real
    // key entropy instead of bank 3 straddling the always-clear top
    // nibble — same pigeonhole guarantee, better bucket balance.
    "llm_simhash_neardup" -> ((s, d) =>
      simhashNearDup(TextOps.defs("llm_simhash")(s, d), sigBits = 60)),

    // dedup EXECUTION (not just detection): exactly ONE survivor per
    // connected near-dup component — [[connectedComponents]] min-label
    // propagation over the candidate-pair graph, iterated to convergence.
    "llm_dedup_apply" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val labels = minhashLabelsCache.getOrElseUpdate(s, d, {
        val pairs = minhashPairsNative(s, d, threshold = 0.3)
          .select(col("doc1"), col("doc2"))
        connectedComponentsFast(docs.select(col("doc_id")), pairs)
          .ckpt(eager = false)
      })
      docs.join(labels.filter(col("doc_id") === col("label"))
          .select(col("doc_id")), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),

    // the ORACLE-CHECKABLE twin of llm_dedup_apply: same
    // [[connectedComponents]] min-label machinery, but over the exact
    // n-gram Jaccard pair graph (itself hash-green as llm_ngram_jaccard)
    // instead of MinHash candidates — so the component labels are
    // engine-independent and DuckDB can replay them with a recursive-CTE
    // transitive closure. This converts the CC/survivor semantics from a
    // rows-only check into a hash compare; llm_dedup_apply keeps the
    // scale path (banded MinHash pairs) that the oracle can't reproduce.
    "llm_dedup_exact" -> ((s, d) => {
      exactJaccardLabels(s, d)
        .select(col("doc_id"), col("label").as("survivor_id"),
          (col("doc_id") === col("label")).as("is_survivor"))
    }),

    // QUALITY-AWARE dedup execution: same connected components over the
    // exact-Jaccard pair graph as llm_dedup_exact, but the survivor of
    // each duplicate cluster is the highest-quality member (distinct-token
    // ratio, the llm_quality_score signal; doc_id tiebreak) instead of the
    // arbitrary min-id — what a production curation pipeline actually
    // keeps. Ratio is an exact-int division on both engines, so the
    // DuckDB twin is bit-identical and this stays hash-checkable.
    "llm_dedup_quality" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val labels = exactJaccardLabels(s, d)
      val q = docs.withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"),
          (size(array_distinct(col("toks"))).cast("double") /
            size(col("toks")).cast("double")).as("dr"))
      // checkpointed: both the survivor aggregate and the final join read
      // this frame — without the cut each leg re-parses every document's
      // token array AND replays the CC label join
      val labeled = labels.join(q, Seq("doc_id"))
        .ckpt(eager = false)
      // survivor per cluster = max_by over (dr, −doc_id): highest quality,
      // lowest doc_id tiebreak — one hash aggregate instead of the
      // row_number window (a partition-wide sort) + rn=1 filter + join,
      // same selection by construction
      val surv = labeled.groupBy(col("label"))
        .agg(expr("max_by(doc_id, struct(dr, -doc_id))").as("survivor_id"))
      labeled.join(surv, Seq("label"))
        .select(col("doc_id"), col("survivor_id"),
          (col("doc_id") === col("survivor_id")).as("is_survivor"))
    }),

    // the ORACLE-CHECKABLE twin of llm_embedding_neardup: bucket key =
    // the sign octant of the first 8 dimensions (deterministic axis-aligned
    // hyperplanes — the engine-independent special case of hyperplane LSH),
    // exact double-precision cosine within buckets only. Same
    // non-quadratic shape as the production path (equi-join on a coarse
    // key, exact verify on candidates), but every step is replayable in
    // DuckDB. Recall vs all-pairs is the sign-LSH collision rate — the
    // seeded random-hyperplane variant above remains the production path.
    "llm_embedding_neardup_exact" -> ((s, d) => {
      val bucketed = spread(t(s, d, "embeddings"))
        .select(col("vec_id"), col("embedding"),
          (0 until 8).map(i =>
            when(element_at(col("embedding"), i + 1) >= 0f, lit(1 << i))
              .otherwise(lit(0))).reduce(_ + _).as("bucket"))
      bucketed.select(col("vec_id").as("id1"), col("embedding").as("v1"),
          col("bucket"))
        .join(bucketed.select(col("vec_id").as("id2"),
          col("embedding").as("v2"), col("bucket")), Seq("bucket"))
        .filter(col("id1") < col("id2"))
        .withColumn("cos", expr("cosine_similarity(v1, v2)"))
        .filter(col("cos") >= 0.30)
        .select(col("id1"), col("id2"), col("cos"))
    }),

    // streaming ingest gate, batch twin: 10% of docs (doc_id % 10 = 9)
    // replay as the "incoming" side against the static (band, sig) index of
    // the other 90% — [[graft.streaming.DedupGate]] runs this IDENTICAL
    // stateless plan under readStream (DedupGateSpec: streamed ≡ this batch
    // result). Signatures use the portable polynomial hash, so unlike the
    // xxhash-based families above this one has a full DuckDB value twin.
    "llm_neardup_gate" -> ((s, d) => {
      import graft.streaming.DedupGate
      val docs = spread(t(s, d, "documents"))
      val index = DedupGate.corpusIndex(docs.filter(pmod(col("doc_id"), lit(10)) < 9))
      DedupGate.gate(docs.filter(pmod(col("doc_id"), lit(10)) === 9), index,
        minJaccard = 0.2)
    }),

    // the embedding-side streaming gate, batch twin: 10% of vectors replay
    // as the incoming stream against the sign-octant index of the rest —
    // same deterministic buckets as llm_embedding_neardup_exact, so the
    // whole gate (bucket join + exact cosine ≥ 0.3) is DuckDB-replayable.
    // DedupGateSpec runs the identical stateless plan under readStream.
    "llm_embed_gate" -> ((s, d) => {
      import graft.streaming.DedupGate
      val emb = spread(t(s, d, "embeddings"))
      DedupGate.embedGate(
        emb.filter(pmod(col("vec_id"), lit(10)) === 9),
        DedupGate.embedIndex(emb.filter(pmod(col("vec_id"), lit(10)) < 9)),
        minCos = 0.30)
    })
  )

  /** Generated replay of the PORTABLE banded-minhash pipeline (shingles →
    * polynomial hash → 64 affine mins → r=2/b=32 band keys → candidate
    * join → exact Jaccard), built from the SAME [[minhashPerms]] table the
    * engine aggregates with — the llm_neardup_gate twin generalized to 64
    * permutations. Ends with `jacc(doc1, doc2, jaccard)`. */
  private def minhashSigCtes: String = {
    val mins = minhashPerms.zipWithIndex.map { case ((a, b), i) =>
      s"min((h * $a + $b) % $P) AS mh$i" }.mkString(",\n               ")
    val bands = (0 until 32).map { i =>
      s"SELECT doc_id, $i AS band, mh${2 * i} * 1073741824 + mh${2 * i + 1} AS bk FROM m"
    }.mkString("\n        UNION ALL ")
    s"""${TextOps.shingleCtes("rawtoks", "toks")},
      ${TextOps.polyHashCtes("shingle")}, thash AS (
        SELECT t.doc_id,
               CAST(((7 * pn.v) % $P +
                     coalesce(s.tsum, 0) % $P) % $P AS BIGINT) AS h
        FROM toks t
        JOIN pow31 pn ON pn.i = length(t.shingle)
        LEFT JOIN csums s ON s.doc_id = t.doc_id AND s.shingle = t.shingle
      ), m AS (
        SELECT doc_id,
               $mins,
               count(*) AS n_sh
        FROM thash GROUP BY doc_id
      ), bands AS (
        $bands
      ), cand AS (
        SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk
        WHERE a.doc_id < b.doc_id
      ), cmn AS (
        SELECT c.doc1, c.doc2, count(*) AS n_common
        FROM cand c
        JOIN thash x ON x.doc_id = c.doc1
        JOIN thash y ON y.doc_id = c.doc2 AND y.h = x.h
        GROUP BY c.doc1, c.doc2
      ), jacc AS (
        SELECT co.doc1, co.doc2,
               CAST(co.n_common AS DOUBLE) /
                 CAST(n1.n_sh + n2.n_sh - co.n_common AS DOUBLE) AS jaccard
        FROM cmn co
        JOIN m n1 ON n1.doc_id = co.doc1
        JOIN m n2 ON n2.doc_id = co.doc2
      )"""
  }

  /** DuckDB replay of [[graft.streaming.DedupGate.signOctant]]:
    * `b(vec_id, v, bucket)`, each embedding as DOUBLE[] with the sign
    * octant of its first 8 dimensions. */
  private val signOctantCte: String = """b AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
             + 2 * (CASE WHEN embedding[2] >= 0 THEN 1 ELSE 0 END)
             + 4 * (CASE WHEN embedding[3] >= 0 THEN 1 ELSE 0 END)
             + 8 * (CASE WHEN embedding[4] >= 0 THEN 1 ELSE 0 END)
             + 16 * (CASE WHEN embedding[5] >= 0 THEN 1 ELSE 0 END)
             + 32 * (CASE WHEN embedding[6] >= 0 THEN 1 ELSE 0 END)
             + 64 * (CASE WHEN embedding[7] >= 0 THEN 1 ELSE 0 END)
             + 128 * (CASE WHEN embedding[8] >= 0 THEN 1 ELSE 0 END)
               AS bucket
        FROM embeddings
      )"""

  // The xxhash-based SimHash/random-hyperplane families stay rows-only
  // (their hashes are engine-specific); the banded MinHash production
  // pipeline runs on the portable polynomial hash and is hash-checked
  // end-to-end (llm_minhash_pairs / llm_dedup_apply below).
  val sql: Map[String, String] = Map(
    // full value replay of the hyperplane-LSH near-dup index (r10, the
    // llm_minhash_poly precedent extended to embeddings): portable md5
    // plane table → 16×4-bit signatures → bucket self-join → exact cosine
    // ≥ 0.45 — every step the production [[embeddingNearDup]] runs, so
    // bucket membership AND the verified pairs are a hash compare now
    "llm_embedding_neardup" -> s"""
      WITH ${SimSearch.hyperplaneSigCtes(nTables = 16, bits = 4)}, cand AS (
        SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
        FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
      ), cd AS (
        SELECT cand.id1, cand.id2,
               sum(q.x * c.x) / sqrt(sum(q.x * q.x) * sum(c.x * c.x)) AS cos
        FROM cand
        JOIN pos q ON q.vec_id = cand.id1
        JOIN pos c ON c.vec_id = cand.id2 AND c.i = q.i
        GROUP BY cand.id1, cand.id2
      )
      SELECT id1, id2, cos FROM cd WHERE cos >= 0.45""",

    // identical-signature clusters over the portable 60-bit simhash
    // (r9: hash-checked, was rows-only under xxhash64)
    "llm_simhash_clusters" -> s"""
      WITH ${TextOps.simhash60Ctes}
      SELECT simhash, count(*) AS n_docs, min(doc_id) AS keeper,
             string_agg(CAST(doc_id AS VARCHAR), ','
                        ORDER BY doc_id) AS members
      FROM sig GROUP BY simhash HAVING count(*) > 1""",

    // banked near-dup pairs: same 4×15-bit pigeonhole banks as
    // [[simhashNearDup]](sigBits = 60), exact hamming verify
    "llm_simhash_neardup" -> s"""
      WITH ${TextOps.simhash60Ctes},
      banked AS (
        SELECT doc_id, simhash, b.bank,
               (simhash >> (b.bank * 15)) & 32767 AS key
        FROM sig, generate_series(0, 3) b(bank)
      )
      -- first-matching-bank dedup instead of DISTINCT (mirrors the engine)
      SELECT a.doc_id AS doc1, c.doc_id AS doc2,
             CAST(bit_count(xor(a.simhash, c.simhash)) AS INTEGER)
               AS hamming
      FROM banked a JOIN banked c
        ON a.bank = c.bank AND a.key = c.key AND a.doc_id < c.doc_id
      WHERE bit_count(xor(a.simhash, c.simhash)) <= 3
        AND a.bank = list_filter([0, 1, 2, 3], b ->
              (xor(a.simhash, c.simhash) >> (b * 15)) & 32767 = 0)[1]""",

    // the production banded pipeline, replayed value-for-value: the
    // oracle checks WHICH pairs the r=2/b=32 banding catches, not just
    // their verified Jaccard
    "llm_minhash_pairs" -> s"""
      WITH RECURSIVE ${minhashSigCtes}
      SELECT doc1, doc2, jaccard FROM jacc WHERE jaccard >= 0.2""",

    // dedup EXECUTION: min-label connected components over the banded
    // pair graph at J >= 0.3, keep the label-owning survivor per
    // component (the llm_dedup_quality reach-CTE machinery over the
    // PRODUCTION pair set instead of the exact one)
    "llm_dedup_apply" -> s"""
      WITH RECURSIVE ${minhashSigCtes}, jp AS (
        SELECT doc1, doc2 FROM jacc WHERE jaccard >= 0.3
      ), $componentCtes
      SELECT d.doc_id, d.lang, d.source, d.n_chars
      FROM documents d
      LEFT JOIN comp c ON c.node = d.doc_id
      WHERE coalesce(c.label, d.doc_id) = d.doc_id""",

    "llm_lsh_tuning" -> """
      WITH bands AS (
        SELECT * FROM (VALUES (2, 8), (4, 4), (8, 2), (16, 1)) AS t(b, r)
      ), grid AS (
        SELECT b, r, i FROM bands
        CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS i)
      )
      SELECT b, r, i / 10.0 AS s,
             1.0 - pow(1.0 - pow(i / 10.0, r), b) AS p_candidate,
             pow(1.0 / b, 1.0 / r) AS s_mid
      FROM grid ORDER BY b, r, s""",

    "llm_dedup_exact" -> s"""
      WITH RECURSIVE $exactPairCtes, edges AS (
        SELECT doc1 AS src, doc2 AS dst FROM jp
        UNION ALL
        SELECT doc2, doc1 FROM jp
      ), reach(node, r) AS (
        -- transitive closure to a fixpoint (UNION dedups = termination);
        -- min reachable id per node = the component's min-label, exactly
        -- what iterative min-label propagation converges to
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, rr.r FROM reach rr JOIN edges e ON e.src = rr.node
      ), comp AS (
        SELECT node, min(r) AS survivor FROM reach GROUP BY node
      )
      SELECT d.doc_id,
             coalesce(c.survivor, d.doc_id) AS survivor_id,
             coalesce(c.survivor, d.doc_id) = d.doc_id AS is_survivor
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node""",

    "llm_embedding_neardup_exact" -> s"""
      WITH $signOctantCte
      SELECT id1, id2, cos FROM (
        SELECT a.vec_id AS id1, b2.vec_id AS id2,
               list_cosine_similarity(a.v, b2.v) AS cos
        FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
      ) WHERE cos >= 0.30""",

    // value twin of the DedupGate batch replay: shingles via the same
    // lead-window pattern as llm_ngram_jaccard, per-shingle portable
    // poly hash (llm_minhash_poly CTE shape), band explode via UNION ALL,
    // the same stateless first-matching-band pair-dedup, and exact
    // shingle-Jaccard verification computed relationally.
    "llm_neardup_gate" -> s"""
      WITH RECURSIVE ${TextOps.shingleCtes("rawtoks", "toks")},
      ${TextOps.polyHashCtes("shingle")}, thash AS (
        SELECT t.doc_id, t.shingle,
               CAST(((7 * pn.v) % 1000000007 +
                     coalesce(s.tsum, 0) % 1000000007) % 1000000007 AS BIGINT)
                 AS h
        FROM toks t
        JOIN pow31 pn ON pn.i = length(t.shingle)
        LEFT JOIN csums s ON s.doc_id = t.doc_id AND s.shingle = t.shingle
      ), m AS (
        SELECT doc_id,
               min(h) AS mh0,
               min((h * 31 + 7) % 1000000007) AS mh1,
               min((h * 131 + 13) % 1000000007) AS mh2,
               min((h * 1031 + 101) % 1000000007) AS mh3,
               min((h * 8191 + 19) % 1000000007) AS mh4,
               min((h * 131071 + 29) % 1000000007) AS mh5,
               min((h * 524287 + 37) % 1000000007) AS mh6,
               min((h * 2097143 + 43) % 1000000007) AS mh7,
               count(*) AS n_sh
        FROM thash GROUP BY doc_id
      ), bands AS (
        SELECT doc_id, 0 AS band, mh0 AS sig FROM m
        UNION ALL SELECT doc_id, 1, mh1 FROM m
        UNION ALL SELECT doc_id, 2, mh2 FROM m
        UNION ALL SELECT doc_id, 3, mh3 FROM m
        UNION ALL SELECT doc_id, 4, mh4 FROM m
        UNION ALL SELECT doc_id, 5, mh5 FROM m
        UNION ALL SELECT doc_id, 6, mh6 FROM m
        UNION ALL SELECT doc_id, 7, mh7 FROM m
      ), cand AS (
        SELECT n.doc_id AS new_id, c.doc_id AS corpus_id, n.band
        FROM bands n JOIN bands c ON n.band = c.band AND n.sig = c.sig
        WHERE n.doc_id % 10 = 9 AND c.doc_id % 10 < 9
      ), firstmatch AS (
        SELECT cd.new_id, cd.corpus_id FROM cand cd
        JOIN m a ON a.doc_id = cd.new_id
        JOIN m b ON b.doc_id = cd.corpus_id
        WHERE cd.band = CASE WHEN a.mh0 = b.mh0 THEN 0
                             WHEN a.mh1 = b.mh1 THEN 1
                             WHEN a.mh2 = b.mh2 THEN 2
                             WHEN a.mh3 = b.mh3 THEN 3
                             WHEN a.mh4 = b.mh4 THEN 4
                             WHEN a.mh5 = b.mh5 THEN 5
                             WHEN a.mh6 = b.mh6 THEN 6 ELSE 7 END
      ), common AS (
        SELECT f.new_id, f.corpus_id, count(*) AS n_common
        FROM firstmatch f
        JOIN toks x ON x.doc_id = f.new_id
        JOIN toks y ON y.doc_id = f.corpus_id AND y.shingle = x.shingle
        GROUP BY f.new_id, f.corpus_id
      )
      SELECT f.new_id, f.corpus_id AS dup_of,
             CAST(co.n_common AS DOUBLE) /
               CAST(na.n_sh + nb.n_sh - co.n_common AS DOUBLE) AS jaccard
      FROM firstmatch f
      JOIN common co ON co.new_id = f.new_id AND co.corpus_id = f.corpus_id
      JOIN m na ON na.doc_id = f.new_id
      JOIN m nb ON nb.doc_id = f.corpus_id
      WHERE CAST(co.n_common AS DOUBLE) /
              CAST(na.n_sh + nb.n_sh - co.n_common AS DOUBLE) >= 0.2""",

    "llm_dedup_quality" -> s"""
      WITH RECURSIVE $exactPairCtes, $componentCtes, q AS (
        SELECT doc_id,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
                 CAST(len(string_split(text, ' ')) AS DOUBLE) AS dr
        FROM documents
      ), labeled AS (
        SELECT d.doc_id, coalesce(c.label, d.doc_id) AS label, q.dr
        FROM documents d
        LEFT JOIN comp c ON d.doc_id = c.node
        JOIN q ON q.doc_id = d.doc_id
      ), ranked AS (
        SELECT doc_id, label,
               row_number() OVER (PARTITION BY label
                 ORDER BY dr DESC, doc_id) AS rn
        FROM labeled
      )
      SELECT l.doc_id, s.doc_id AS survivor_id,
             l.doc_id = s.doc_id AS is_survivor
      FROM labeled l
      JOIN ranked s ON s.label = l.label AND s.rn = 1""",

    "llm_embed_gate" -> s"""
      WITH $signOctantCte
      SELECT n.vec_id AS new_id, c.vec_id AS match_id,
             list_cosine_similarity(n.v, c.v) AS cos
      FROM b n JOIN b c ON n.bucket = c.bucket
      WHERE n.vec_id % 10 = 9 AND c.vec_id % 10 < 9
        AND n.vec_id <> c.vec_id
        AND list_cosine_similarity(n.v, c.v) >= 0.30"""
  )
}
