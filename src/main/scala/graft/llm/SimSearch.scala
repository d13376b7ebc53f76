package graft.llm
import graft.core.Ckpt._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables.{spread, t}

/** Similarity search over `embeddings(vec_id, embedding: array<float>,
  * label)` (BASELINE.json north_star).
  *
  * Two paths, per the brief:
  *  - brute-force cosine top-k: candidates ⋈ broadcast(queries) with the
  *    codegen'd [[graft.functions.CosineSimilarity]] kernel — the exact
  *    baseline. Scale shape: the fact side streams, queries broadcast, so
  *    the only shuffle is the final per-query top-k (tiny).
  *  - LSH-bucketed ANN: deterministic random-hyperplane signatures (seeded
  *    hash, not an RNG — resumable/reproducible at any parallelism), join
  *    on bucket, exact cosine within bucket. The 100 TB path: candidate
  *    pairs drop from O(N·Q) to O(N·Q / 2^bits) expected.
  */
object SimSearch extends graft.Family {
  /** Deterministic multi-table random-hyperplane signatures (the OR-of-ANDs
    * LSH construction: a neighbor is a candidate if it shares the FULL
    * signature in ANY table — recall grows with nTables, candidate-set
    * size shrinks with bitsPerTable). Same plane matrix on every executor,
    * no RNG state to ship, reproducible across retries/repartitions.
    *
    * Adds `sigs: array<bigint>` of length nTables; `sigs[t]` also encodes t
    * in the high bits so a single explode+equi-join keys on (table, bucket).
    *
    * The signature kernel is the fused codegen expression
    * [[graft.functions.HyperplaneSigs]] — one pass over the embedding for
    * all nTables×bits planes. The previous formulation (one `dot_product` +
    * `when` chain per plane, 96 tree nodes at the ANN tuning) re-read the
    * array per plane and was ~60% of llm_ann_lsh's runtime.
    */
  def signatures(df: DataFrame, nTables: Int = 24, bitsPerTable: Int = 4,
                 dim: Int = 64): DataFrame = {
    df.withColumn("sigs", call_function("hyperplane_sigs",
      col("embedding"), lit(nTables), lit(bitsPerTable), lit(dim)))
  }

  /** A fitted IVF index: per-vector cell assignments + the (tiny, always
    * broadcast) centroid table. */
  case class IvfIndex(assigned: DataFrame, centroids: DataFrame, k: Int)

  /** IVF coarse-quantizer fit, integer-exact (r10): the llm_kmeans_iterate
    * Lloyd machinery ([[Semantic.kmeansFit]] — first-k seed,
    * 6-decimal-rounded cosine argmax assign, floor-1e-6-grid integer
    * M-step) applied as the ANN coarse quantizer: broadcast ≤k-row
    * centroid state, one assign + one (cell, dim) aggregate per round, and
    * every step replayable verbatim in DuckDB — which is what gives
    * llm_ann_ivf / llm_ann_pq real value twins instead of rows-only
    * checks. Sizing at scale: k ≈ √N cells balances the two candidate-set
    * terms (nProbe/k of the corpus scanned per query vs k centroid
    * comparisons per query); the k = 16 default is sized for the test
    * fixtures. The fit is an INDEX BUILD, amortized over every search. */
  def ivfFitPortable(emb: DataFrame, k: Int = 16,
                     rounds: Int = 3): IvfIndex = {
    val (assigned, cents) = Semantic.kmeansFit(emb, k, rounds)
    // cell ids are seed vec_ids (< k) — cast to INT, the public IvfIndex
    // cell type
    IvfIndex(
      emb.join(assigned.select(col("vec_id"), col("cell").cast("int").as("cell")),
          Seq("vec_id"))
        .select(col("vec_id"), col("embedding"), col("cell"))
        .ckpt(eager = false),
      cents.select(col("cell").cast("int").as("cell"),
        col("cvec").as("centroid")), k)
  }

  // one fit per (corpus, k) per JVM: Verify/perfbench/tests reuse the index so
  // repeated queries time SEARCH, not repeated k-means training
  private val ivfCache = new graft.core.SessionCache[IvfIndex]

  def ivfIndexFor(s: SparkSession, d: String, k: Int): IvfIndex =
    ivfCache.getOrElseUpdate(s, s"$d#$k",
      ivfFitPortable(t(s, d, "embeddings"), k))

  /** IVF search: query → its nProbe closest cells (vs the broadcast
    * centroid table), exact cosine re-rank over just those cells' vectors.
    * nProbe trades recall against candidate-set size; 8-of-16 cells
    * recalls ≥ 0.7 of exact top-5 on the near-random fixture
    * (SimSearchSpec). With really-clustered embeddings (and k ≈ √N at
    * scale) the same recall needs far fewer probes. */
  def ivfSearch(index: IvfIndex, queryPred: Column,
                nProbe: Int, topK: Int = 5): DataFrame = {
    val qCells = ivfProbes(index, queryPred, nProbe)
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    index.assigned
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"), col("cell"))
      .join(broadcast(qCells), Seq("cell"))
      .filter(col("cid") =!= col("qid"))
      .withColumn("sim", expr("cosine_similarity(qvec, cvec)"))
      .select(col("qid"), col("cid"), col("sim"))
      .dropDuplicates("qid", "cid")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
  }

  /** `(qid, qvec, cell)`: each query vector (an indexed vector matching
    * `queryPred`) with its `nProbe` closest cells against the broadcast
    * centroid table. The probe ranking is on round(csim, 6) — the
    * assignTo discipline: a 1-ulp cross-engine summation difference
    * cannot flip the probe set except exactly at a rounding boundary, so
    * the DuckDB twin replays it. */
  private def ivfProbes(index: IvfIndex, queryPred: Column,
                        nProbe: Int): DataFrame =
    index.assigned.filter(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .crossJoin(broadcast(index.centroids))
      .withColumn("csim", expr("cosine_similarity(qvec, centroid)"))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(round(col("csim"), 6).desc, col("cell"))))
      .filter(col("crn") <= nProbe)
      .select(col("qid"), col("qvec"), col("cell"))

  /** The retrieval split of the embeddings: the query vectors
    * (vec_id < 20) as `(qid, qvec)` and every vector as a candidate
    * `(cid, cvec)`, each with its label (`qlabel` / `clabel`) when
    * `labels` is set. */
  private def querySplit(emb: DataFrame, labels: Boolean = false)
      : (DataFrame, DataFrame) = {
    def side(id: String, vec: String, label: String): Seq[Column] =
      Seq(col("vec_id").as(id), col("embedding").as(vec)) ++
        (if (labels) Seq(col("label").as(label)) else Nil)
    (emb.filter(col("vec_id") < 20).select(side("qid", "qvec", "qlabel"): _*),
      emb.select(side("cid", "cvec", "clabel"): _*))
  }

  /** `pos(vec_id, x, i)`: one row per embedding element, at its 1-based
    * index — the positional form the DuckDB dot-product twins join on. */
  private val embPosCte: String = """pos AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
      )"""

  /** DuckDB replay of the [[querySplit]] pairing: `dots(qid, cid, dot,
    * qq, cc)`, the dot product and squared norms of every query
    * (vec_id < 20) with every other vector. */
  private val queryDotCtes: String = s"""$embPosCte, dots AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
               sum(q.x * c.x) AS dot,
               sum(q.x * q.x) AS qq,
               sum(c.x * c.x) AS cc
        FROM pos q
        JOIN pos c ON q.i = c.i AND c.vec_id <> q.vec_id
        WHERE q.vec_id < 20
        GROUP BY q.vec_id, c.vec_id
      )"""

  /** Every (query, candidate) pair's cosine over the full vectors (`simf`)
    * and over their first 16 dims (`simt`, the Matryoshka truncation). */
  private def fullAndTruncatedSims(emb: DataFrame): DataFrame = {
    val (queries, cands) = querySplit(emb)
    cands.join(broadcast(queries), col("cid") =!= col("qid"))
      .withColumn("simf", expr("cosine_similarity(qvec, cvec)"))
      .withColumn("simt",
        expr("cosine_similarity(slice(qvec, 1, 16), slice(cvec, 1, 16))"))
      .select(col("qid"), col("cid"), col("simf"), col("simt"))
  }

  /** DuckDB replay of [[fullAndTruncatedSims]], ranked:
    * `ranked(qid, cid, rf, rt)`, each candidate's rank per query by the
    * full (`rf`) and the 16-dim truncated (`rt`) cosine. */
  private val truncRankCtes: String = s"""$embPosCte, dots AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
               sum(q.x * c.x) AS dot,
               sum(q.x * q.x) AS qq,
               sum(c.x * c.x) AS cc,
               sum(CASE WHEN q.i <= 16 THEN q.x * c.x ELSE 0 END) AS dott,
               sum(CASE WHEN q.i <= 16 THEN q.x * q.x ELSE 0 END) AS qqt,
               sum(CASE WHEN q.i <= 16 THEN c.x * c.x ELSE 0 END) AS cct
        FROM pos q
        JOIN pos c ON q.i = c.i AND c.vec_id <> q.vec_id
        WHERE q.vec_id < 20
        GROUP BY q.vec_id, c.vec_id
      ), ranked AS (
        SELECT qid, cid,
               row_number() OVER (PARTITION BY qid
                 ORDER BY dot / sqrt(qq * cc) DESC, cid) AS rf,
               row_number() OVER (PARTITION BY qid
                 ORDER BY dott / sqrt(qqt * cct) DESC, cid) AS rt
        FROM dots
      )"""

  /** A fitted product-quantization index: per-vector code arrays + the
    * (m × ksub rows, always-broadcast) sub-codebook table. */
  case class PqIndex(codes: DataFrame, codebooks: DataFrame,
                     m: Int, dsub: Int, ksub: Int)

  /** Product-quantization fit, integer-exact (r10; the third ANN family
    * next to hyperplane LSH and IVF): the embedding splits into m
    * sub-vectors of dsub dims, each sub-space gets its own ksub-cell
    * codebook, and a vector compresses to m small codes (m=8 × ksub=16 →
    * 8 nibbles ≈ 16× smaller than float32). Per sub-space Lloyd in
    * squared-L2 — seed codebook = the
    * sub-vectors of vec_id < ksub, assignment = argmin of
    * round(d2, 6) (ties → lowest code; d2 accumulated in double from
    * exact float promotions), M-step = the floor-1e-6-grid integer mean
    * cast back to float. All m sub-spaces fit in ONE relational program
    * (the (sub) key rides every join/aggregate), so the plan is two
    * aggregates per round regardless of m, and every step is replayable
    * verbatim in DuckDB — the llm_ann_pq twin. */
  def pqFitPortable(emb: DataFrame, m: Int = 8,
                    ksub: Int = 16, dim: Int = 64, rounds: Int = 3): PqIndex = {
    val dsub = dim / m
    val sv = emb.select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${m - 1})," +
          s" j -> slice(embedding, j * $dsub + 1, $dsub))"))
      .as(Seq("sub", "subvec")))
      .ckpt(eager = false) // every assign + M-step reads this
    var books = sv.filter(col("vec_id") < ksub)
      .select(col("sub"), col("vec_id").cast("int").as("code"),
        col("subvec").as("centroid"))
    def assign(cb: DataFrame): DataFrame = sv.join(broadcast(cb), Seq("sub"))
      .withColumn("d2", expr(
        "aggregate(zip_with(subvec, centroid, (x, c) ->" +
          " (CAST(x AS DOUBLE) - CAST(c AS DOUBLE))" +
          " * (CAST(x AS DOUBLE) - CAST(c AS DOUBLE)))," +
          " CAST(0.0 AS DOUBLE), (a, v) -> a + v)"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(round(col("d2"), 6).as("d6"), col("code").as("code")))
        .getField("code").as("code"))
    var assigned = assign(books)
    for (_ <- 2 to rounds) {
      val means = assigned.join(sv, Seq("vec_id", "sub"))
        .select(col("sub"), col("code"),
          posexplode(col("subvec")).as(Seq("si", "x")))
        .groupBy(col("sub"), col("code"), col("si"))
        .agg(sum(floor(col("x") * 1e6 + 0.5).cast("decimal(38,0)")).as("sx"),
          count(lit(1)).as("cn"))
        .select(col("sub"), col("code"), col("si"),
          (col("sx").cast("double") / (col("cn").cast("double") * 1e6))
            .as("mx"))
        .groupBy(col("sub"), col("code"))
        .agg(transform(array_sort(collect_list(struct(col("si"), col("mx")))),
          c => c.getField("mx").cast("float")).as("centroid"))
      books = means.ckpt()
      assigned = assign(books)
    }
    val codes = assigned.groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(sub, code)))," +
        " p -> p.code)").as("codes"))
    PqIndex(codes.ckpt(eager = false), books, m, dsub, ksub)
  }

  // one fit per corpus per JVM (same amortization story as ivfCache)
  private val pqCache = new graft.core.SessionCache[PqIndex]

  def pqIndexFor(s: SparkSession, d: String): PqIndex =
    pqCache.getOrElseUpdate(s, d, pqFitPortable(t(s, d, "embeddings")))

  /** IVF-PQ composition — the scale-shape ANN index (VERDICT r8 directive):
    * IVF coarse cells bound WHERE a query looks (its nProbe closest of k
    * cells), PQ-ADC orders candidates INSIDE the probed cells from the
    * 8-byte code rows, and the exact cosine re-rank touches a CONSTANT
    * pool of ADC survivors (default 32·topK — independent of corpus size;
    * sized from the measured ADC ordering loss, see the inline note).
    * Contrast with a flat PQ scan, whose re-rank pool had to grow to
    * max(8·k, 6% of the corpus) per query to hold recall on unclustered
    * data — an O(N) per-query cost that made the flat llm_ann_pq the r8
    * board's slowest query (4.15 s). Here every per-query stage is bounded
    * by the probed-cell population (~nProbe/k of the corpus; nProbe·√N
    * rows at the k ≈ √N production sizing), and the ADC join reads codes,
    * never embeddings.
    * Recall floor (llm_ann_pq_recall, oracle-checked): ≥ 0.6 of exact
    * top-5 — the IVF cell ceiling minus the ADC ordering loss that the
    * constant re-rank pool recovers. */
  def ivfPqSearch(ivf: IvfIndex, pq: PqIndex, queryPred: Column,
                  nProbe: Int, topK: Int = 5, pool: Int = 0): DataFrame = {
    val m = pq.m; val dsub = pq.dsub
    // default pool: 32·topK — CONSTANT in corpus size (the r8 fix). Sized
    // from the measured ADC ordering loss of the m=8/ksub=16 codebook on
    // the near-random fixture (RecallProbe, sf0.1: IVF ceiling 0.84;
    // pool 40 → 0.48, 80 → 0.63, 160 → 0.73): the exact re-rank of 160
    // rows costs microseconds while holding the 0.6 contract with margin.
    val rerank = if (pool > 0) pool else topK * 32
    val queries = ivf.assigned.filter(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val qCells = queries.crossJoin(broadcast(ivf.centroids))
      .withColumn("csim", expr("cosine_similarity(qvec, centroid)"))
      // probe ranking on round(csim, 6) — the assignTo discipline: a 1-ulp
      // cross-engine summation difference cannot flip the probe set except
      // exactly at a rounding boundary, so the DuckDB twin replays it
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(round(col("csim"), 6).desc, col("cell"))))
      .filter(col("crn") <= nProbe)
      .select(col("qid"), col("cell"))
    val lut = queries.select(col("qid"), posexplode(expr(
        s"transform(sequence(0, ${m - 1})," +
          s" j -> slice(qvec, j * $dsub + 1, $dsub))"))
        .as(Seq("sub", "qsub")))
      .join(broadcast(pq.codebooks), Seq("sub"))
      .withColumn("contrib", expr("dot_product(qsub, centroid)"))
      .select(col("qid"), col("sub"), col("code"), col("contrib"))
    // candidate pairs exist ONLY inside probed cells — the IVF gate; the
    // ×m code explosion happens after the gate, so only probed-cell code
    // rows fan out, and the (qid, cid) ADC sum map-side combines
    val cand = ivf.assigned.select(col("vec_id").as("cid"), col("cell"))
      .join(broadcast(qCells), Seq("cell"))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"))
    // ADC ranking on round(adc_dot, 6) — the probe-ranking discipline:
    // the m-term LUT sum is the only re-associable float here, and the
    // rounding makes the pool cut engine-exact for the DuckDB twin
    val wAdc = Window.partitionBy(col("qid"))
      .orderBy(round(col("adc_dot"), 6).desc, col("cid"))
    val survivors = cand
      .join(pq.codes.select(col("vec_id").as("cid"), col("codes")),
        Seq("cid"))
      .select(col("qid"), col("cid"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(lut), Seq("qid", "sub", "code"))
      .groupBy(col("qid"), col("cid"))
      .agg(sum(col("contrib")).as("adc_dot"))
      .withColumn("arn", row_number().over(wAdc))
      .filter(col("arn") <= rerank)
      .select(col("qid"), col("cid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    survivors
      .join(broadcast(queries), Seq("qid"))
      .join(ivf.assigned
        .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
        Seq("cid"))
      .withColumn("sim", expr("cosine_similarity(qvec, cvec)"))
      .select(col("qid"), col("cid"), col("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
  }

  /** Corpus-level recall of an ANN result against the exact top-k ground
    * truth, as a 1-row contract frame: (n_queries, recall_ok). Both inputs
    * carry (qid, cid); recall = |ann ∩ exact| / |exact|. */
  private def annRecall(ann: DataFrame, exact: DataFrame,
                        floor: Double): DataFrame = {
    val hits = exact.select(col("qid"), col("cid"))
      .join(ann.select(col("qid"), col("cid"), lit(1).as("hit")),
        Seq("qid", "cid"), "left")
    hits.agg(
        countDistinct(col("qid")).as("n_queries"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") /
          count(lit(1)).cast("double")).as("recall"))
      .select(col("n_queries"), (col("recall") >= floor).as("recall_ok"))
  }

  /** Greedy MMR selection (Carbonell & Goldstein, SIGIR'98) over a
    * per-query candidate pool: pick 5 of the pool maximizing the
    * all-integer 7·r − 3·max-sim-to-selected (λ = 0.7 over floor-micro
    * quantized scores). Pool columns: (qid, cid, cvec, r). Every stage
    * after the pool is bounded by pool² rows per query; every argmax uses
    * the composite key score·10⁸ − cid — no FP comparison anywhere.
    * Shared by llm_mmr_rerank (brute-cosine pool) and llm_mmr_rerank_ann
    * (IVF-probed pool — the corpus-scale pool stage, executed). */
  private def mmrGreedySelect(pool0: DataFrame): DataFrame = {
    val pool = pool0.ckpt(eager = false)
    val pw = pool.select(col("qid"), col("cid").as("c1"),
        col("cvec").as("v1"))
      .join(pool.select(col("qid"), col("cid").as("c2"),
        col("cvec").as("v2")), Seq("qid"))
      .filter(col("c1") =!= col("c2"))
      .withColumn("s", expr(
        "CAST(floor(1e6 * cosine_similarity(v1, v2) + 0.5) AS BIGINT)"))
      .select(col("qid"), col("c1"), col("c2"), col("s"))
      .ckpt(eager = false)
    val p = pool.select(col("qid"), col("cid"), col("r"))
    var sel = p.groupBy(col("qid"))
      .agg(expr("max_by(struct(cid, r), r * 100000000 - cid)").as("m"))
      .select(col("qid"), col("m.cid").as("cid"), col("m.r").as("r"),
        lit(1).as("pick"))
    for (k <- 2 to 5) {
      val cand = p.join(sel.select(col("qid"), col("cid")),
        Seq("qid", "cid"), "left_anti")
      val pen = pw
        .join(sel.select(col("qid"), col("cid").as("c2")),
          Seq("qid", "c2"))
        .groupBy(col("qid"), col("c1").as("cid"))
        .agg(max(col("s")).as("pen"))
      val pick = cand.join(pen, Seq("qid", "cid"))
        .withColumn("score", lit(7L) * col("r") - lit(3L) * col("pen"))
        .groupBy(col("qid"))
        .agg(expr("max_by(struct(cid, r), score * 100000000 - cid)")
          .as("m"))
        .select(col("qid"), col("m.cid").as("cid"), col("m.r").as("r"),
          lit(k).as("pick"))
      sel = sel.union(pick).ckpt(eager = false)
    }
    sel.select(col("qid"), col("pick"), col("cid"),
        col("r").as("rel_micro"))
      .orderBy(col("qid"), col("pick"))
  }

  val defs: Map[String, Q] = Map(
    // exact brute-force cosine top-5 per query vector
    "llm_cosine_topk" -> ((s, d) => {
      val (queries, cands) = querySplit(t(s, d, "embeddings"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("cid"))
      cands.join(broadcast(queries), col("cid") =!= col("qid"))
        .withColumn("sim", expr("cosine_similarity(qvec, cvec)"))
        .select(col("qid"), col("cid"), col("sim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
    }),

    // MMR diversified re-ranking (Carbonell & Goldstein, SIGIR'98): the
    // standard retrieval post-processor — greedily pick 5 of the top-8
    // cosine candidates per query maximizing λ·relevance −
    // (1−λ)·max-similarity-to-already-selected (λ = 0.7), so near-dup
    // hits don't crowd the result list. DETERMINISM: relevance and
    // pairwise similarities are floor-micro quantized BIGINTs, the greedy
    // score is the all-integer 7·r − 3·pen, and every argmax uses the
    // composite key score·10⁸ − cid (max score, then lowest cid) — no FP
    // comparison anywhere in the selection. Scale shape: the pool stage
    // is the broadcast-query brute-force (→ ANN index at corpus scale,
    // like search); everything after is bounded by pool² = 64 rows per
    // query. Twin: 4 unrolled greedy steps over the same integer scores.
    "llm_mmr_rerank" -> ((s, d) => {
      val (queries, cands) = querySplit(t(s, d, "embeddings"))
      val wp = Window.partitionBy(col("qid"))
        .orderBy(col("r").desc, col("cid"))
      val pool = cands.join(broadcast(queries), col("cid") =!= col("qid"))
        .withColumn("r", expr(
          "CAST(floor(1e6 * cosine_similarity(qvec, cvec) + 0.5) AS BIGINT)"))
        .withColumn("rn", row_number().over(wp)).filter(col("rn") <= 8)
        .select(col("qid"), col("cid"), col("cvec"), col("r"))
      mmrGreedySelect(pool)
    }),

    // MMR with the pool stage routed through the IVF index — the
    // corpus-scale variant of llm_mmr_rerank, executing what its brute
    // twin only documents: candidates come from the query's 8 probed
    // cells (never the whole corpus), the floor-micro relevance ranks
    // the probed set, and the same integer greedy runs over the top-8
    // pool. llm_mmr_rerank_ann_recall scores the selections against the
    // exact-pool ground truth (oracle-checked floor).
    "llm_mmr_rerank_ann" -> ((s, d) => {
      val ivf = ivfIndexFor(s, d, k = 16)
      val qCells = ivfProbes(ivf, col("vec_id") < 20, 8)
      val wp = Window.partitionBy(col("qid"))
        .orderBy(col("r").desc, col("cid"))
      val pool = ivf.assigned
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"),
          col("cell"))
        .join(broadcast(qCells), Seq("cell"))
        .filter(col("cid") =!= col("qid"))
        .withColumn("r", expr(
          "CAST(floor(1e6 * cosine_similarity(qvec, cvec) + 0.5) AS BIGINT)"))
        .withColumn("rn", row_number().over(wp)).filter(col("rn") <= 8)
        .select(col("qid"), col("cid"), col("cvec"), col("r"))
      mmrGreedySelect(pool)
    }),

    // hard-negative mining for contrastive training: for each query
    // vector, the top-3 most-similar vectors carrying a DIFFERENT label
    // — the near-miss negatives a retrieval/embedding trainer pairs with
    // its positives. Same broadcast-query brute-force shape as
    // llm_cosine_topk (queries broadcast, facts stream, embedding
    // projected away before the top-k shuffle); at corpus scale the
    // candidate stage swaps to the ANN index exactly like search does.
    "llm_hard_negatives" -> ((s, d) => {
      val (queries, cands) = querySplit(t(s, d, "embeddings"), labels = true)
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("cid"))
      cands.join(broadcast(queries),
          col("cid") =!= col("qid") && col("clabel") =!= col("qlabel"))
        .withColumn("sim", expr("cosine_similarity(qvec, cvec)"))
        .select(col("qid"), col("qlabel"), col("cid"), col("clabel"),
          col("sim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
    }),

    // retrieval evaluation: precision@5 of exact cosine retrieval
    // against the embedding labels — the quality number every ANN/
    // retrieval pipeline reports. Same broadcast-query top-k shape as
    // llm_cosine_topk, rolled up to one exact ratio per query.
    "ml_precision_at_k" -> ((s, d) => {
      val (queries, cands) = querySplit(t(s, d, "embeddings"), labels = true)
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("cid"))
      cands.join(broadcast(queries), col("cid") =!= col("qid"))
        .withColumn("sim", expr("cosine_similarity(qvec, cvec)"))
        .select(col("qid"), col("qlabel"), col("cid"), col("clabel"),
          col("sim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .groupBy(col("qid"), col("qlabel"))
        .agg(sum(when(col("clabel") === col("qlabel"), 1L).otherwise(0L))
          .as("hits"))
        .select(col("qid"), col("qlabel"), col("hits"),
          round(col("hits").cast("double") / 5.0, 6).as("p_at_5"))
    }),

    // NDCG@5 of exact cosine retrieval against the embedding labels —
    // the graded-rank companion of ml_precision_at_k (precision treats
    // rank 1 and rank 5 hits the same; NDCG discounts by position).
    // NUMERICS: the discount table g(r) = floor(1e6/log2(r+1) + 0.5) is
    // a 5-entry integer table (one log2 per rank on identical tiny-int
    // operands, never summed as FP), so DCG and IDCG are exact BIGINT
    // sums and NDCG a floor-ppm integer ratio. IDCG caps the ideal list
    // at min(5, R) where R = the query's total relevant candidates —
    // counted on the SAME per-query partition the rank window already
    // shuffles, so no extra pass. Scale shape = llm_cosine_topk.
    "ml_ndcg" -> ((s, d) => {
      val (queries, cands) = querySplit(t(s, d, "embeddings"), labels = true)
      val wQ = Window.partitionBy(col("qid"))
      val wRank = wQ.orderBy(col("sim").desc, col("cid"))
      cands.join(broadcast(queries), col("cid") =!= col("qid"))
        .withColumn("sim", expr("cosine_similarity(qvec, cvec)"))
        .withColumn("rel",
          when(col("clabel") === col("qlabel"), 1L).otherwise(0L))
        .select(col("qid"), col("qlabel"), col("cid"), col("rel"),
          col("sim"))
        .withColumn("rtot", sum(col("rel")).over(wQ))
        .withColumn("rn", row_number().over(wRank))
        .filter(col("rn") <= 5)
        .withColumn("g",
          floor(lit(1e6) / log2(col("rn") + 1) + lit(0.5)).cast("long"))
        .groupBy(col("qid"), col("qlabel"))
        .agg(sum(col("rel") * col("g")).as("dcg_g"),
          sum(when(col("rn") <= col("rtot"), col("g")).otherwise(0L))
            .as("idcg_g"))
        .withColumn("ndcg_ppm",
          when(col("idcg_g") > 0,
            floor(lit(1e6) * col("dcg_g") / col("idcg_g") + lit(0.5))
              .cast("long")).otherwise(lit(0L)))
    }),

    // greedy k-center coreset selection (Gonzalez 1985) over the
    // embedding corpus — the diverse-subset primitive a curation
    // pipeline uses to seed clustering / pick exemplars: start from the
    // min-id vector, then 4 rounds of "add the candidate farthest from
    // the selected set" (= minimal max-cosine, ties → min id). Each
    // round streams the corpus against a ≤5-row broadcast of the
    // selected vectors (O(k·N) total — the scale shape; the twin's full
    // O(N²) similarity matrix is the oracle's brute force). Similarities
    // are quantized floor-ppm PER PAIR before the max/argmin, so the
    // selection trajectory is engine-exact; the 1-row argmin probes are
    // the bounded gdFit-style driver collects.
    "llm_coreset_kcenter" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .ckpt(eager = false) // read once per round
      val seed = emb.agg(min(col("vec_id"))).head().getLong(0)
      var selected = Seq((1L, seed, -1L))
      for (r <- 2 to 5) {
        val ids = selected.map(_._2)
        val selDf = emb.filter(col("vec_id").isin(ids: _*))
          .select(col("vec_id").as("sid"), col("embedding").as("svec"))
        val pick = emb.filter(!col("vec_id").isin(ids: _*))
          .join(broadcast(selDf), col("vec_id") =!= col("sid"))
          .withColumn("sim_ppm",
            floor(lit(1e6) * expr("cosine_similarity(embedding, svec)")
              + lit(0.5)).cast("long"))
          .groupBy(col("vec_id")).agg(max(col("sim_ppm")).as("ms"))
          .orderBy(col("ms"), col("vec_id")).limit(1).head()
        selected = selected :+ ((r.toLong, pick.getLong(0), pick.getLong(1)))
      }
      selected.toDF("rank", "vec_id", "maxsim_ppm")
    }),

    // k-NN label vote: majority label among top-10 exact neighbors
    "llm_knn_label" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val cands = emb.select(col("vec_id").as("cid"), col("embedding").as("cvec"),
        col("label").as("clabel"))
      val wTop = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
      val top10 = cands.join(broadcast(queries), col("cid") =!= col("qid"))
        .withColumn("sim", expr("cosine_similarity(qvec, cvec)"))
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 10)
      val wVote = Window.partitionBy(col("qid"))
        .orderBy(col("votes").desc, col("clabel"))
      top10.groupBy(col("qid"), col("clabel"))
        .agg(count(lit(1)).as("votes"))
        .withColumn("vrn", row_number().over(wVote))
        .filter(col("vrn") === 1)
        .select(col("qid"), col("clabel").as("predicted_label"), col("votes"))
    }),

    // ANN via IVF (inverted-file) coarse quantization — [[ivfIndexFor]]
    // (fit, cached per corpus) + [[ivfSearch]]. The driver entry measures
    // SEARCH: the one-time k-means fit is an index build, amortized over
    // every query against the corpus, exactly as a real vector store
    // amortizes index construction (perfbench's set-up pays the fit).
    // FULLY ORACLE-CHECKED as of r10: the fit is the portable
    // integer-exact Lloyd loop ([[ivfFitPortable]]), so the DuckDB twin
    // replays fit → probe → re-rank end to end.
    "llm_ann_ivf" -> ((s, d) =>
      ivfSearch(ivfIndexFor(s, d, k = 16),
        queryPred = col("vec_id") < 20, nProbe = 8)),

    // ANN via deterministic multi-table hyperplane LSH. Candidates = union
    // over tables of same-bucket vectors; exact cosine re-rank within.
    // FULLY ORACLE-CHECKED as of r10: the plane matrix is the portable
    // md5-derived integer table ([[graft.functions.HyperplaneSigs]]), so
    // the DuckDB twin replays signatures → bucket join → exact cosine
    // verbatim (the llm_minhash_poly precedent) and the whole index is a
    // hash compare, not a rows-only count. Recall vs brute force is
    // additionally pinned by llm_ann_lsh_recall + ScalaTest.
    "llm_ann_lsh" -> ((s, d) => {
      val emb = signatures(spread(t(s, d, "embeddings")))
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("sigs").as("qsigs"), explode(col("sigs")).as("sig"))
      val cands = emb
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"),
          col("sigs").as("csigs"), explode(col("sigs")).as("sig"))
      val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
      cands.join(broadcast(queries), Seq("sig"))
        .filter(col("cid") =!= col("qid"))
        // stateless multi-table dedup (the DedupGate first-band trick): the
        // table index lives in each sig's high bits, so the LOWEST matching
        // sig identifies a collision pair's first shared table — keep the
        // row only in that table. One surviving row per pair with no
        // dropDuplicates exchange, and the cosine kernel runs once per
        // pair instead of once per collision.
        .filter(col("sig") === array_min(zip_with(col("qsigs"), col("csigs"),
          (a, b) => when(a === b, a))))
        .withColumn("sim", expr("cosine_similarity(qvec, cvec)"))
        .select(col("qid"), col("cid"), col("sim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
    }),

    // the ANN RECALL CONTRACTS, made oracle-checkable: corpus-level recall
    // of each approximate index against the exact brute-force top-5 (the
    // same ground truth the ScalaTest anchors use), emitted as
    // (n_queries, recall_ok). DuckDB's twin computes the query count and
    // literal TRUE — so an index regression that drops recall below the
    // documented floor hash-fails the driver check rather than hiding
    // behind a rows-only row count. Deterministic: planes/centroid seeds
    // and tiebreaks are fixed, so recall is a pure function of the data.
    // ANN via IVF-PQ — [[ivfIndexFor]] coarse cells (shared with
    // llm_ann_ivf) + [[pqIndexFor]] codes + [[ivfPqSearch]] ADC within
    // probed cells and a constant re-rank pool. Completes the ANN
    // family: brute force (exact), LSH (bucketing), IVF (coarse cells),
    // IVF-PQ (compressed-domain scan inside probed cells).
    // FULLY ORACLE-CHECKED as of r10: both the IVF coarse fit and the
    // per-sub-space PQ codebooks come from the portable integer-exact
    // Lloyd loops ([[ivfFitPortable]]/[[pqFitPortable]]), and the probe +
    // ADC rankings round to 6 decimals — so the DuckDB twin replays
    // fit -> probe -> ADC -> re-rank end to end.
    "llm_ann_pq" -> ((s, d) =>
      ivfPqSearch(ivfIndexFor(s, d, k = 16), pqIndexFor(s, d),
        queryPred = col("vec_id") < 20, nProbe = 8)),

    "llm_ann_lsh_recall" -> ((s, d) => annRecall(
      defs("llm_ann_lsh")(s, d), defs("llm_cosine_topk")(s, d), 0.8)),

    "llm_ann_ivf_recall" -> ((s, d) => annRecall(
      defs("llm_ann_ivf")(s, d), defs("llm_cosine_topk")(s, d), 0.7)),

    // how much of the exact-pool MMR selection the IVF-pooled variant
    // reproduces — the executed corpus-scale contract for the "pool = ANN
    // index at scale" claim. The floor reflects the 8-of-16-cell probe
    // ceiling compounded through the greedy (a pool miss can cascade into
    // later picks), measured with margin on the near-random fixture.
    "llm_mmr_rerank_ann_recall" -> ((s, d) => annRecall(
      defs("llm_mmr_rerank_ann")(s, d), defs("llm_mmr_rerank")(s, d), 0.5)),

    "llm_ann_pq_recall" -> ((s, d) => annRecall(
      defs("llm_ann_pq")(s, d), defs("llm_cosine_topk")(s, d), 0.6)),

    // Matryoshka-truncation retrieval eval (the MRL question: how much
    // of exact top-5 retrieval survives keeping only the FIRST 16 of 64
    // dims — the dimension/cost knob an embedding-serving stack tunes):
    // one broadcast-query pass computes full AND truncated cosines (the
    // truncated kernel runs on slice(·,1,16) — same codegen expression,
    // quarter the work), two per-query rank windows, and a per-query
    // overlap rollup. Fully value-twinned: DuckDB replays both rankings
    // from the same positional dot products (truncation = a CASE on the
    // dim index), so the overlap accounting is hash-checked, not a
    // rows-only contract. Scale shape = llm_cosine_topk (queries
    // broadcast, facts stream, only (qid,cid,sim) crosses the shuffle).
    "llm_mrl_truncation" -> ((s, d) => {
      val joined = fullAndTruncatedSims(t(s, d, "embeddings"))
      val wf = Window.partitionBy(col("qid"))
        .orderBy(col("simf").desc, col("cid"))
      val wt = Window.partitionBy(col("qid"))
        .orderBy(col("simt").desc, col("cid"))
      joined
        .withColumn("rf", row_number().over(wf))
        .withColumn("rt", row_number().over(wt))
        .groupBy(col("qid"))
        .agg(
          sum(when(col("rf") <= 5 && col("rt") <= 5, 1L).otherwise(0L))
            .as("n_overlap"),
          min(when(col("rf") === 1, col("cid"))).as("top1_full"),
          min(when(col("rt") === 1, col("cid"))).as("top1_trunc"))
        .withColumn("overlap_ppm",
          floor(lit(1e6) * col("n_overlap") / 5 + 0.5).cast("long"))
    }),

    // reciprocal-rank fusion of two retrieval rankings (the standard way
    // a serving stack combines lexical + dense — or here, full-dim and
    // Matryoshka-truncated dense — retrieval without score calibration):
    // each list contributes floor-exact 1e9 div (60 + rank) for ranks
    // ≤ 50 (the usual RRF k = 60 and a top-50 list cut), summed and
    // re-ranked. The rankings reuse the llm_mrl_truncation machinery
    // (one broadcast-query cosine pass, deterministic cid tiebreaks);
    // past the rank windows EVERYTHING is integral division + BIGINT
    // sums, so the fusion arithmetic is engine-exact by construction.
    // Scale shape = llm_cosine_topk: queries broadcast, facts stream,
    // only (qid, cid, sim) crosses the shuffle.
    "llm_rrf_fusion" -> ((s, d) => {
      val joined = fullAndTruncatedSims(t(s, d, "embeddings"))
      val wf = Window.partitionBy(col("qid"))
        .orderBy(col("simf").desc, col("cid"))
      val wt = Window.partitionBy(col("qid"))
        .orderBy(col("simt").desc, col("cid"))
      val wr = Window.partitionBy(col("qid"))
        .orderBy(col("rrf_x1e9").desc, col("cid"))
      joined
        .withColumn("rf", row_number().over(wf))
        .withColumn("rt", row_number().over(wt))
        .withColumn("rrf_x1e9",
          when(col("rf") <= 50, expr("1000000000 div (60 + rf)"))
            .otherwise(0L) +
          when(col("rt") <= 50, expr("1000000000 div (60 + rt)"))
            .otherwise(0L))
        .withColumn("fused_rank", row_number().over(wr))
        .filter(col("fused_rank") <= 5)
        .select(col("qid"), col("cid"),
          col("rf").cast("long").as("rank_full"),
          col("rt").cast("long").as("rank_trunc"),
          col("rrf_x1e9"),
          col("fused_rank").cast("long").as("fused_rank"))
    }),

    // per-vector L2 norm + min/max component (embedding hygiene audit: a
    // zero or exploding norm is a broken upstream encoder). One sequential
    // fold per row inside codegen — a narrow scan projection, no shuffle,
    // and the parquet reader only materializes the embedding column.
    // Degenerate-row semantic (ADVICE r4): an empty array or one carrying
    // a NULL element is a broken row → l2_norm NULL, encoded explicitly on
    // BOTH sides (Spark's fold would say 0.0/NULL, DuckDB's list_sum
    // NULL/skip — the engines disagree unless the CASE pins it).
    "llm_embed_norm" -> ((s, d) => {
      t(s, d, "embeddings").selectExpr(
        "vec_id", "label",
        "size(embedding) AS n_dims",
        "CASE WHEN size(embedding) = 0" +
          " OR exists(embedding, x -> x IS NULL) THEN CAST(NULL AS DOUBLE)" +
          " ELSE sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE)," +
          " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) END" +
          " AS l2_norm",
        "CAST(array_min(embedding) AS DOUBLE) AS min_comp",
        "CAST(array_max(embedding) AS DOUBLE) AS max_comp")
    }),

    // per-label centroids (class prototypes / IVF seeding): posexplode to
    // (label, dim, x) then one hash aggregate keyed on (label, dim) —
    // partial aggregation collapses the dim-fold row expansion map-side,
    // so the shuffle carries only |labels|×dims rows at any corpus size.
    "llm_embed_centroid" -> ((s, d) => {
      t(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim"))
        .agg(count(lit(1)).as("n"),
          avg(col("x").cast("double")).as("centroid"))
    }),

    // int8 scalar quantization round-trip (embedding compression for
    // ANN serving: 4× smaller than float32, 8× than float64): per-vector
    // min/max affine codes q = round((x-vmin)/scale) with the
    // reconstruction-error CONTRACT max|x-x̂| ≤ scale/2 emitted as an
    // oracle-checked boolean. All element-wise HOFs inside codegen on a
    // narrow scan — zero shuffle at any corpus size. Every arithmetic
    // step is order-independent double math (no accumulation
    // reordering), so Spark and DuckDB agree bit-for-bit; the one
    // accumulated value (code_sum) is exact integer arithmetic. The
    // vmax = vmin degenerate vector pins scale = 0 → all-zero codes,
    // error 0 on both engines.
    "llm_embed_quantize" -> ((s, d) => {
      t(s, d, "embeddings")
        .filter(size(col("embedding")) > 0)
        .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS e")
        .selectExpr("vec_id", "e", "size(e) AS n_dims",
          "array_min(e) AS vmin", "array_max(e) AS vmax")
        .selectExpr("vec_id", "e", "n_dims", "vmin", "vmax",
          "CASE WHEN vmax = vmin THEN CAST(0.0 AS DOUBLE)" +
            " ELSE (vmax - vmin) / 255.0 END AS scale")
        .selectExpr("vec_id", "e", "n_dims", "vmin", "vmax", "scale",
          "CASE WHEN scale = 0.0 THEN transform(e, x -> 0)" +
            " ELSE transform(e, x ->" +
            " CAST(floor((x - vmin) / scale + 0.5) AS INT)) END AS codes")
        .selectExpr("vec_id", "n_dims", "vmin", "vmax", "scale",
          "aggregate(codes, 0L, (acc, q) -> acc + q) AS code_sum",
          "aggregate(zip_with(e, codes," +
            " (x, q) -> abs(x - (vmin + q * scale)))," +
            " CAST(0.0 AS DOUBLE), (acc, v) -> greatest(acc, v))" +
            " AS max_abs_err")
        .withColumn("within_bound",
          col("max_abs_err") <= col("scale") * lit(0.5) + lit(1e-12))
    })
  )

  /** DuckDB replay of the portable hyperplane signature pipeline
    * ([[graft.functions.HyperplaneSigs]]): plane components from the same
    * md5("plane:p:i") % 1000 − 500 formula (integer-valued, so each
    * product x·comp is exact in double on both engines), per-(vector,
    * plane) dots, and per-(vector, table) packed signature keys
    * sig = t·2^bits + Σ 1<<j over non-negative dots. Ends with
    * `sigs(vec_id, sig)`; prepend to a candidate join + exact cosine.
    * Shared by llm_ann_lsh here and llm_embedding_neardup (Dedup). */
  private[llm] def hyperplaneSigCtes(nTables: Int, bits: Int): String = {
    val nPlanes = nTables * bits
    s"""planes AS (
        SELECT p.p, d.i,
               CAST(CAST(('0x' || substr(md5('plane:' || p.p || ':' || d.i),
                 1, 4)) AS BIGINT) % 1000 - 500 AS DOUBLE) AS comp
        FROM range(0, $nPlanes) p(p), range(0, 64) d(i)
      ), pos AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) - 1 AS i
        FROM embeddings
      ), pdots AS (
        -- fold the exact per-dim products in INDEX ORDER (list ORDER BY i
        -- + list_aggregate, which DuckDB folds sequentially) so the dot is
        -- bit-identical to the engine kernel's i=0..n-1 loop
        -- (HyperplaneSigs.nullSafeEval) — an unordered GROUP BY sum could
        -- flip the sign of a near-zero dot and with it bucket membership
        SELECT s.vec_id, pl.p,
               list_aggregate(list(s.x * pl.comp ORDER BY s.i), 'sum')
                 AS dot
        FROM pos s JOIN planes pl ON pl.i = s.i
        GROUP BY s.vec_id, pl.p
      ), sigs AS (
        SELECT vec_id,
               (p // $bits) * ${1 << bits}
                 + sum(CASE WHEN dot >= 0 THEN 1 << (p % $bits) ELSE 0 END)
                 AS sig
        FROM pdots GROUP BY vec_id, p // $bits
      )"""
  }

  /** IVF probe replay shared by the llm_ann_ivf / llm_ann_pq twins:
    * cosine of each query (vec_id < 20) to the fitted c3 centroids, probe
    * set = top-8 cells by round(csim, 6) — [[ivfSearch]]'s window verbatim.
    * Requires [[Semantic.lloydCtes]] (v, c3) upstream; ends with
    * `qcells(qid, cell)`. */
  private def ivfProbeCtes: String = """qsims AS (
        SELECT v.vec_id AS qid, c.cell,
               sum(v.x * c.cx) / sqrt(sum(v.x * v.x) * sum(c.cx * c.cx))
                 AS csim
        FROM v JOIN c3 c ON v.i = c.i
        WHERE v.vec_id < 20
        GROUP BY v.vec_id, c.cell
      ), qcells AS (
        SELECT qid, cell FROM (
          SELECT qid, cell,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY round(csim, 6) DESC, cell ASC) AS crn
          FROM qsims) WHERE crn <= 8
      )"""

  /** One PQ assign stage of the llm_ann_pq twin: codebook CTE `cb` →
    * assignment CTE `an`, mirroring [[pqFitPortable]]'s argmin of
    * round(d2, 6) with lowest-code ties, term for term. */
  private def pqAssignStage(cb: String, an: String): String = s"""
      pd_$an AS (
        SELECT s.vec_id, s.sub, cb.code,
               sum((s.x - cb.cx) * (s.x - cb.cx)) AS d2
        FROM sv s JOIN $cb cb ON cb.sub = s.sub AND cb.si = s.si
        GROUP BY s.vec_id, s.sub, cb.code
      ), $an AS (
        SELECT vec_id, sub, code FROM (
          SELECT vec_id, sub, code,
                 row_number() OVER (PARTITION BY vec_id, sub
                   ORDER BY round(d2, 6) ASC, code ASC) AS rn
          FROM pd_$an) WHERE rn = 1
      )"""

  /** One integer-exact PQ M-step of the llm_ann_pq twin: assignment CTE
    * `an` → codebook CTE `cb` (the Semantic.meanStage arithmetic on the
    * (sub, code, si) key). */
  private def pqMeanStage(an: String, cb: String): String = s"""
      $cb AS (
        SELECT a.sub, a.code, s.si,
               CAST(CAST(
                 CAST(sum(CAST(floor(s.x * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
                   / (count(*) * 1e6) AS REAL) AS DOUBLE) AS cx
        FROM $an a JOIN sv s ON s.vec_id = a.vec_id AND s.sub = a.sub
        GROUP BY a.sub, a.code, s.si
      )"""

  /** Shared tail of the MMR twins, downstream of a `scores(qid, cid, dot,
    * qq, cc)` CTE: each query's top-8 `pool(qid, cid, r)` by floor-micro
    * cosine, pairwise pool similarities (index-ordered folds over
    * `vecCte(vec_id, i, x)`), then the 4 unrolled greedy steps with the
    * composite argmax key score·10⁸ − cid. */
  private def mmrGreedySqlTail(scores: String, vecCte: String): String = {
    val steps = (2 to 5).map { k =>
      s""", pen$k AS (
        SELECT w.qid, w.c1 AS cid, max(w.s) AS pen
        FROM pw w JOIN sel${k - 1} z ON z.qid = w.qid AND z.cid = w.c2
        GROUP BY 1, 2
      ), pick$k AS (
        SELECT p.qid,
               arg_max(p.cid,
                 (7 * p.r - 3 * n.pen) * 100000000 - p.cid) AS cid,
               arg_max(p.r,
                 (7 * p.r - 3 * n.pen) * 100000000 - p.cid) AS r,
               $k AS pick
        FROM pool p
        JOIN pen$k n ON n.qid = p.qid AND n.cid = p.cid
        WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} z
                          WHERE z.qid = p.qid AND z.cid = p.cid)
        GROUP BY p.qid
      ), sel$k AS (
        SELECT qid, cid, r, pick FROM sel${k - 1}
        UNION ALL SELECT qid, cid, r, pick FROM pick$k
      )"""
    }.mkString
    s""", pool AS MATERIALIZED (
        SELECT qid, cid, r FROM (
          SELECT qid, cid,
                 CAST(floor(1e6 * dot / sqrt(qq * cc) + 0.5) AS BIGINT)
                   AS r,
                 row_number() OVER (PARTITION BY qid ORDER BY
                   CAST(floor(1e6 * dot / sqrt(qq * cc) + 0.5) AS BIGINT)
                     DESC, cid) AS rn
          FROM $scores) WHERE rn <= 8
      ), prs AS (
        SELECT p1.qid, p1.cid AS c1, p2.cid AS c2
        FROM pool p1 JOIN pool p2
          ON p1.qid = p2.qid AND p1.cid <> p2.cid
      ), cdots AS MATERIALIZED (
        -- same index-ordered fold discipline as the pool scores
        SELECT u, v,
               CAST(floor(1e6 * dot / sqrt(uu * vv) + 0.5) AS BIGINT) AS s
        FROM (
          SELECT up.u, up.v,
                 list_aggregate(list(a.x * b.x ORDER BY a.i), 'sum') AS dot,
                 list_aggregate(list(a.x * a.x ORDER BY a.i), 'sum') AS uu,
                 list_aggregate(list(b.x * b.x ORDER BY a.i), 'sum') AS vv
          FROM (SELECT DISTINCT least(c1, c2) AS u, greatest(c1, c2) AS v
                FROM prs) up
          JOIN $vecCte a ON a.vec_id = up.u
          JOIN $vecCte b ON b.vec_id = up.v AND b.i = a.i
          GROUP BY 1, 2)
      ), pw AS MATERIALIZED (
        SELECT pr.qid, pr.c1, pr.c2, cd.s
        FROM prs pr
        JOIN cdots cd ON cd.u = least(pr.c1, pr.c2)
                     AND cd.v = greatest(pr.c1, pr.c2)
      ), sel1 AS (
        SELECT qid, arg_max(cid, r * 100000000 - cid) AS cid,
               arg_max(r, r * 100000000 - cid) AS r, 1 AS pick
        FROM pool GROUP BY qid
      )$steps
      SELECT qid, pick, cid, r AS rel_micro
      FROM sel5 ORDER BY qid, pick"""
  }

  val sql: Map[String, String] = Map(
    // full value replay of the IVF-PQ index (r10): IVF fit + probe as in
    // the llm_ann_ivf twin, the per-sub-space PQ Lloyd fit unrolled with
    // integer-exact M-steps, ADC = one LUT join + sum per candidate with
    // the pool cut on round(adc_dot, 6), and the constant 160-row exact
    // re-rank — every stage mirrors ivfPqSearch term for term
    "llm_ann_pq" -> s"""
      WITH ${Semantic.lloydCtes}, $ivfProbeCtes, sv AS (
        SELECT vec_id, CAST((i - 1) // 8 AS INT) AS sub,
               (i - 1) % 8 AS si, x
        FROM v
      ), pb1 AS (
        SELECT sub, CAST(vec_id AS INT) AS code, si, x AS cx
        FROM sv WHERE vec_id < 16
      ), ${pqAssignStage("pb1", "pa1")},
      ${pqMeanStage("pa1", "pb2")},
      ${pqAssignStage("pb2", "pa2")},
      ${pqMeanStage("pa2", "pb3")},
      ${pqAssignStage("pb3", "pa3")},
      lut AS (
        SELECT s.vec_id AS qid, cb.sub, cb.code, sum(s.x * cb.cx) AS contrib
        FROM sv s JOIN pb3 cb ON cb.sub = s.sub AND cb.si = s.si
        WHERE s.vec_id < 20
        GROUP BY s.vec_id, cb.sub, cb.code
      ), adc AS (
        SELECT qc.qid, a.vec_id AS cid, sum(l.contrib) AS adc_dot
        FROM qcells qc
        JOIN a3 a ON a.cell = qc.cell AND a.vec_id <> qc.qid
        JOIN pa3 pc ON pc.vec_id = a.vec_id
        JOIN lut l ON l.qid = qc.qid AND l.sub = pc.sub AND l.code = pc.code
        GROUP BY qc.qid, a.vec_id
      ), pool AS (
        SELECT qid, cid FROM (
          SELECT qid, cid,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY round(adc_dot, 6) DESC, cid ASC) AS arn
          FROM adc) WHERE arn <= 160
      ), pqcd AS (
        SELECT pool.qid, pool.cid,
               sum(q.x * c.x) / sqrt(sum(q.x * q.x) * sum(c.x * c.x)) AS sim
        FROM pool
        JOIN v q ON q.vec_id = pool.qid
        JOIN v c ON c.vec_id = pool.cid AND c.i = q.i
        GROUP BY pool.qid, pool.cid
      )
      SELECT qid, cid, sim, rn FROM (
        SELECT qid, cid, sim,
               row_number() OVER (PARTITION BY qid
                 ORDER BY sim DESC, cid) AS rn
        FROM pqcd
      ) WHERE rn <= 5""",
    // full value replay of the hyperplane-LSH index (r10): signatures from
    // the portable plane table, bucket equi-join, exact cosine re-rank —
    // the sign of each plane dot is the only float decision, and its
    // products are exact integers×floats summed in-order on both engines
    "llm_ann_lsh" -> s"""
      WITH ${hyperplaneSigCtes(nTables = 24, bits = 4)}, cand AS (
        SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
        FROM sigs q JOIN sigs c ON q.sig = c.sig AND c.vec_id <> q.vec_id
        WHERE q.vec_id < 20
      ), cd AS (
        SELECT cand.qid, cand.cid,
               sum(q.x * c.x) / sqrt(sum(q.x * q.x) * sum(c.x * c.x)) AS sim
        FROM cand
        JOIN pos q ON q.vec_id = cand.qid
        JOIN pos c ON c.vec_id = cand.cid AND c.i = q.i
        GROUP BY cand.qid, cand.cid
      )
      SELECT qid, cid, sim, rn FROM (
        SELECT qid, cid, sim,
               row_number() OVER (PARTITION BY qid
                 ORDER BY sim DESC, cid) AS rn
        FROM cd
      ) WHERE rn <= 5""",

    // full value replay of the IVF index (r10): the 3-round Lloyd fit is
    // the llm_kmeans_iterate twin body (integer-exact M-steps, 6-decimal
    // rounded argmax assigns), probe ranking replays ivfSearch's
    // round(csim, 6) window, and the survivor re-rank is the
    // llm_cosine_topk arithmetic over probed-cell candidates only
    "llm_ann_ivf" -> s"""
      WITH ${Semantic.lloydCtes}, $ivfProbeCtes, ivfcand AS (
        SELECT q.qid, a.vec_id AS cid
        FROM qcells q JOIN a3 a ON a.cell = q.cell AND a.vec_id <> q.qid
      ), ivfcd AS (
        SELECT ivfcand.qid, ivfcand.cid,
               sum(q.x * c.x) / sqrt(sum(q.x * q.x) * sum(c.x * c.x)) AS sim
        FROM ivfcand
        JOIN v q ON q.vec_id = ivfcand.qid
        JOIN v c ON c.vec_id = ivfcand.cid AND c.i = q.i
        GROUP BY ivfcand.qid, ivfcand.cid
      )
      SELECT qid, cid, sim, rn FROM (
        SELECT qid, cid, sim,
               row_number() OVER (PARTITION BY qid
                 ORDER BY sim DESC, cid) AS rn
        FROM ivfcd
      ) WHERE rn <= 5""",

    "llm_embed_quantize" -> """
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings WHERE len(embedding) > 0
      ), mm AS (
        SELECT vec_id, e, len(e) AS n_dims,
               list_min(e) AS vmin, list_max(e) AS vmax
        FROM e
      ), sc AS (
        SELECT *, CASE WHEN vmax = vmin THEN 0.0
                       ELSE (vmax - vmin) / 255.0 END AS scale
        FROM mm
      ), cd AS (
        SELECT *, CASE WHEN scale = 0.0 THEN list_transform(e, x -> 0)
                       ELSE list_transform(e, x ->
                         CAST(floor((x - vmin) / scale + 0.5) AS INT))
                  END AS codes
        FROM sc
      ), err AS (
        SELECT *, list_max(list_transform(list_zip(e, codes),
                    p -> abs(p[1] - (vmin + p[2] * scale)))) AS max_abs_err
        FROM cd
      )
      SELECT vec_id, CAST(n_dims AS INT) AS n_dims, vmin, vmax, scale,
             CAST(list_sum(codes) AS BIGINT) AS code_sum, max_abs_err,
             max_abs_err <= scale * 0.5 + 1e-12 AS within_bound
      FROM err""",

    // recall contracts: DuckDB pins the query count; TRUE is the floor
    // the Spark-side recall booleans must meet
    "llm_ann_lsh_recall" -> """
      SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
             TRUE AS recall_ok
      FROM embeddings WHERE vec_id < 20""",

    "llm_ann_ivf_recall" -> """
      SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
             TRUE AS recall_ok
      FROM embeddings WHERE vec_id < 20""",

    "llm_ann_pq_recall" -> """
      SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
             TRUE AS recall_ok
      FROM embeddings WHERE vec_id < 20""",

    // both rankings replayed from one positional dot-product aggregate;
    // truncation to the first 16 dims is a CASE on the dim index (adding
    // exact 0.0 terms cannot move a double sum, so the 16-term truncated
    // cosine is the same arithmetic the sliced kernel runs)
    "llm_mrl_truncation" -> s"""
      WITH $truncRankCtes
      SELECT qid,
             CAST(sum(CASE WHEN rf <= 5 AND rt <= 5 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_overlap,
             min(CASE WHEN rf = 1 THEN cid END) AS top1_full,
             min(CASE WHEN rt = 1 THEN cid END) AS top1_trunc,
             CAST(floor(1e6 * sum(CASE WHEN rf <= 5 AND rt <= 5
                                       THEN 1 ELSE 0 END) / 5 + 0.5)
                  AS BIGINT) AS overlap_ppm
      FROM ranked GROUP BY qid""",

    // both source rankings replayed exactly as in the mrl twin; the
    // fusion itself is pure integral arithmetic (1e9 // (60+rank))
    "llm_rrf_fusion" -> s"""
      WITH $truncRankCtes, scored AS (
        SELECT qid, cid, rf, rt,
               CAST(CASE WHEN rf <= 50 THEN 1000000000 // (60 + rf)
                         ELSE 0 END
                  + CASE WHEN rt <= 50 THEN 1000000000 // (60 + rt)
                         ELSE 0 END AS BIGINT) AS rrf_x1e9
        FROM ranked
      )
      SELECT qid, cid, rank_full, rank_trunc, rrf_x1e9, fused_rank FROM (
        SELECT qid, cid, CAST(rf AS BIGINT) AS rank_full,
               CAST(rt AS BIGINT) AS rank_trunc, rrf_x1e9,
               CAST(row_number() OVER (PARTITION BY qid
                 ORDER BY rrf_x1e9 DESC, cid) AS BIGINT) AS fused_rank
        FROM scored
      ) WHERE fused_rank <= 5""",

    // same arithmetic, positional unnest join, all in double
    "llm_cosine_topk" -> s"""
      WITH $queryDotCtes
      SELECT qid, cid, sim, rn FROM (
        SELECT qid, cid, dot / sqrt(qq * cc) AS sim,
               row_number() OVER (PARTITION BY qid
                 ORDER BY dot / sqrt(qq * cc) DESC, cid) AS rn
        FROM dots
      ) WHERE rn <= 5""",

    // 4 unrolled greedy steps over the same floor-micro integer scores;
    // argmax via the composite key score·10⁸ − cid on both engines
    // (mmrGreedySqlTail, shared with the IVF-pooled variant)
    "llm_mmr_rerank" -> s"""
      WITH pos AS MATERIALIZED (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
      ), dots AS (
        -- index-ordered sequential folds (list ORDER BY i +
        -- list_aggregate) so every dot/norm is bit-identical to the
        -- engine kernel's i = 0..n-1 loop: the greedy selection compares
        -- QUANTIZED scores, where an unordered GROUP BY sum could flip a
        -- floor boundary and cascade through all later picks
        SELECT q.vec_id AS qid, c.vec_id AS cid,
               list_aggregate(list(q.x * c.x ORDER BY q.i), 'sum') AS dot,
               list_aggregate(list(q.x * q.x ORDER BY q.i), 'sum') AS qq,
               list_aggregate(list(c.x * c.x ORDER BY q.i), 'sum') AS cc
        FROM pos q JOIN pos c ON q.i = c.i AND c.vec_id <> q.vec_id
        WHERE q.vec_id < 20
        GROUP BY 1, 2
      )${mmrGreedySqlTail("dots", "pos")}""",

    // the IVF-pooled MMR variant: same Lloyd-fit + probe replay as the
    // llm_ann_ivf twin, candidates restricted to the 8 probed cells, and
    // the identical greedy tail over the IVF-pooled top-8
    "llm_mmr_rerank_ann" -> s"""
      WITH ${Semantic.lloydCtes}, $ivfProbeCtes, ivfd AS (
        -- index-ordered folds (see llm_mmr_rerank): the pool ranks on a
        -- FLOOR-quantized score, so the summation order must replicate
        -- the engine kernel exactly
        SELECT qc.qid, a.vec_id AS cid,
               list_aggregate(list(q.x * c.x ORDER BY q.i), 'sum') AS dot,
               list_aggregate(list(q.x * q.x ORDER BY q.i), 'sum') AS qq,
               list_aggregate(list(c.x * c.x ORDER BY q.i), 'sum') AS cc
        FROM qcells qc
        JOIN a3 a ON a.cell = qc.cell AND a.vec_id <> qc.qid
        JOIN v q ON q.vec_id = qc.qid
        JOIN v c ON c.vec_id = a.vec_id AND c.i = q.i
        GROUP BY 1, 2
      )${mmrGreedySqlTail("ivfd", "v")}""",

    "llm_mmr_rerank_ann_recall" -> """
      SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
             TRUE AS recall_ok
      FROM embeddings WHERE vec_id < 20""",

    "llm_hard_negatives" -> s"""
      WITH $queryDotCtes
      SELECT qid, qlabel, cid, clabel, sim, rn FROM (
        SELECT d.qid, ql.label AS qlabel, d.cid, cl.label AS clabel,
               dot / sqrt(qq * cc) AS sim,
               row_number() OVER (PARTITION BY d.qid
                 ORDER BY dot / sqrt(qq * cc) DESC, d.cid) AS rn
        FROM dots d
        JOIN embeddings ql ON ql.vec_id = d.qid
        JOIN embeddings cl ON cl.vec_id = d.cid
        WHERE ql.label <> cl.label
      ) WHERE rn <= 3""",

    "ml_precision_at_k" -> s"""
      WITH $queryDotCtes, top5 AS (
        SELECT qid, cid FROM (
          SELECT qid, cid,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY dot / sqrt(qq * cc) DESC, cid) AS rn
          FROM dots
        ) WHERE rn <= 5
      )
      SELECT t.qid, q.label AS qlabel,
             CAST(sum(CASE WHEN c.label = q.label THEN 1 ELSE 0 END)
               AS BIGINT) AS hits,
             round(CAST(sum(CASE WHEN c.label = q.label THEN 1 ELSE 0 END)
               AS DOUBLE) / 5.0, 6) AS p_at_5
      FROM top5 t
      JOIN embeddings q ON q.vec_id = t.qid
      JOIN embeddings c ON c.vec_id = t.cid
      GROUP BY t.qid, q.label""",

    "llm_coreset_kcenter" -> {
      val rounds = (2 to 5).map { k =>
        s""",
        |  m$k AS (
        |    SELECT s.cid, max(s.sim_ppm) AS ms
        |    FROM simmat s JOIN sel${k - 1} t ON t.id = s.qid
        |    WHERE s.cid NOT IN (SELECT id FROM sel${k - 1})
        |    GROUP BY s.cid),
        |  pick$k AS (SELECT cid AS id, ms FROM m$k ORDER BY ms, cid LIMIT 1),
        |  sel$k AS (SELECT id FROM sel${k - 1}
        |            UNION ALL SELECT id FROM pick$k)""".stripMargin
      }.mkString
      s"""WITH pos AS (
        |    SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |           generate_subscripts(embedding, 1) AS i
        |    FROM embeddings),
        |  dots AS (
        |    SELECT q.vec_id AS qid, c.vec_id AS cid,
        |           sum(q.x * c.x) AS dot, sum(q.x * q.x) AS qq,
        |           sum(c.x * c.x) AS cc
        |    FROM pos q JOIN pos c ON q.i = c.i AND c.vec_id <> q.vec_id
        |    GROUP BY q.vec_id, c.vec_id),
        |  simmat AS (
        |    SELECT qid, cid,
        |           CAST(floor(1e6 * (dot / sqrt(qq * cc)) + 0.5) AS BIGINT)
        |             AS sim_ppm
        |    FROM dots),
        |  sel1 AS (SELECT min(vec_id) AS id FROM embeddings),
        |  pick1 AS (SELECT id, CAST(-1 AS BIGINT) AS ms FROM sel1)$rounds
        |SELECT CAST(1 AS BIGINT) AS rank, id AS vec_id, ms AS maxsim_ppm
        |FROM pick1
        |UNION ALL SELECT 2, id, ms FROM pick2
        |UNION ALL SELECT 3, id, ms FROM pick3
        |UNION ALL SELECT 4, id, ms FROM pick4
        |UNION ALL SELECT 5, id, ms FROM pick5""".stripMargin
    },

    "ml_ndcg" -> s"""
      WITH $queryDotCtes, scored AS (
        SELECT d.qid, q.label AS qlabel, d.cid,
               CASE WHEN c.label = q.label THEN 1 ELSE 0 END AS rel,
               row_number() OVER (PARTITION BY d.qid
                 ORDER BY d.dot / sqrt(d.qq * d.cc) DESC, d.cid) AS rn,
               sum(CASE WHEN c.label = q.label THEN 1 ELSE 0 END)
                 OVER (PARTITION BY d.qid) AS rtot
        FROM dots d
        JOIN embeddings q ON q.vec_id = d.qid
        JOIN embeddings c ON c.vec_id = d.cid
      ), gained AS (
        SELECT qid, qlabel, rel, rn, rtot,
               CAST(floor(1e6 / log2(rn + 1) + 0.5) AS BIGINT) AS g
        FROM scored WHERE rn <= 5
      ), rolled AS (
        SELECT qid, qlabel,
               CAST(sum(rel * g) AS BIGINT) AS dcg_g,
               CAST(sum(CASE WHEN rn <= rtot THEN g ELSE 0 END)
                    AS BIGINT) AS idcg_g
        FROM gained GROUP BY qid, qlabel
      )
      SELECT qid, qlabel, dcg_g, idcg_g,
             CASE WHEN idcg_g > 0
                  THEN CAST(floor(1e6 * dcg_g / idcg_g + 0.5) AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS ndcg_ppm
      FROM rolled""",

    "llm_knn_label" -> s"""
      WITH $embPosCte, dots AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
               sum(q.x * c.x) / sqrt(sum(q.x * q.x) * sum(c.x * c.x)) AS sim
        FROM pos q
        JOIN pos c ON q.i = c.i AND c.vec_id <> q.vec_id
        WHERE q.vec_id < 50
        GROUP BY q.vec_id, c.vec_id
      ), top10 AS (
        SELECT qid, cid, sim,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
        FROM dots
      ), votes AS (
        SELECT t.qid, e.label AS clabel, count(*) AS votes
        FROM top10 t JOIN embeddings e ON t.cid = e.vec_id
        WHERE t.rn <= 10
        GROUP BY t.qid, e.label
      )
      SELECT qid, clabel AS predicted_label, votes FROM (
        SELECT qid, clabel, votes,
               row_number() OVER (PARTITION BY qid
                 ORDER BY votes DESC, clabel) AS vrn
        FROM votes
      ) WHERE vrn = 1""",

    "llm_embed_norm" -> """
      SELECT vec_id, label,
             CAST(len(embedding) AS INT) AS n_dims,
             CASE WHEN len(embedding) = 0
                    OR len(list_filter(embedding, x -> x IS NULL)) > 0
                  THEN CAST(NULL AS DOUBLE)
                  ELSE sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) END
               AS l2_norm,
             CAST(list_min(embedding) AS DOUBLE) AS min_comp,
             CAST(list_max(embedding) AS DOUBLE) AS max_comp
      FROM embeddings""",

    "llm_embed_centroid" -> """
      SELECT label, CAST(i - 1 AS INT) AS dim, count(*) AS n,
             avg(CAST(x AS DOUBLE)) AS centroid
      FROM (
        SELECT label, unnest(embedding) AS x,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings
      )
      GROUP BY label, i
      """
  )
}
