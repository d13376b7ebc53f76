package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PolyHash.{P, minhashPerms}

/** Streaming near-duplicate gate: admit a stream of NEW documents only
  * after checking them against a static, LSH-bucketed index of the
  * existing corpus — the incremental-ingest half of corpus dedup (the
  * batch half lives in [[graft.llm.Dedup]]). Reference scope: the
  * reference engine dedups nothing; this is the driver-mandated
  * LLM-pipeline surface (BASELINE.json north_star) extended to the
  * streaming ingest path a production training-data pipeline runs.
  *
  * Design constraints that shaped it:
  *   - The 3-gram shingle set, its portable polynomial hashes, and the
  *     4-permutation minhash signature are all SCALAR projections (array
  *     HOFs), not aggregates, so the same expressions run identically in
  *     batch and in a `readStream` plan with NO state store and NO
  *     watermark.
  *   - A candidate pair can collide in several bands; instead of
  *     `dropDuplicates` (a stateful shuffle, and a state store under
  *     streaming) each joined row recomputes the FIRST band where the two
  *     signatures agree and survives only if it IS that band — a
  *     stateless, deterministic pair-dedup.
  *   - Exact shingle-Jaccard verification happens on the joined row (both
  *     sides carry their distinct-shingle arrays), the same similarity the
  *     exact anchor `llm_ngram_jaccard` measures; the minhash bands only
  *     bound the candidate set (r=1, b=4 ⇒ P(candidate) = 1-(1-J)^4).
  *
  * 100 TB shape: the index is (band, sig)-keyed — build it once with
  * [[corpusIndex]], persist bucketed by (band, sig), and the per-batch
  * work is one equi-join of the (small) micro-batch against it. Carrying
  * `sh` in the index trades index size for verification locality; at
  * extreme scale store only (band, sig, doc_id) and re-join the shingle
  * arrays for the ≤|candidates| survivors.
  */
object DedupGate {

  /** Affine permutations (min over `h*a+c mod P` of the per-shingle
    * polynomial hash): the first 8 of the portable family, the first four
    * shared with `llm_minhash_poly`, so a J=0.2 pair is a candidate with
    * p = 1-(1-J)^8 ≈ 0.83 (4 bands would catch only 59%). Every `a` keeps
    * `h*a` < 2^63 (h < P ≈ 1e9, a ≤ 2e6). */
  private val perms = minhashPerms.take(8)

  /** Distinct 3-gram word shingles of `textCol` as a scalar expression —
    * same shingle text ("tok1 tok2 tok3" on the raw split, no empty-token
    * filtering) as the lead-window formulation the DuckDB twins use. */
  private def shinglesCol(textCol: String): Column = {
    val toks = split(col(textCol), " ")
    array_distinct(
      when(size(toks) >= 3,
        transform(sequence(lit(1), size(toks) - 2), i =>
          concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
            element_at(toks, i + 2))))
        .otherwise(array().cast("array<string>")))
  }

  /** Portable per-shingle polynomial hash, lifted over the shingle array.
    * r15: the per-character interpreted HOF fold became the compiled
    * [[graft.functions.PolyHash]] loop — same values (PolyHashSpec), one
    * eval per shingle instead of a lambda tree per character; this was
    * the dominant cost of the cold corpusIndex build (VERDICT r14 #4). */
  private val shingleHashes: Column = transform(col("sh"), s =>
    call_function("poly_hash", s))

  /** Adds `sh` (distinct shingles) plus the 8-permutation minhash
    * signature `mh0..mh7` as pure scalar expressions (docs under 3 tokens
    * have no shingles, get NULL signatures, and can never match a band). */
  def withSignature(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val sig = perms.zipWithIndex.map { case ((a, c), i) =>
      array_min(transform(col("hs"), h => pmod(h * a + c, lit(P))))
        .as(s"mh$i")
    }
    docs.withColumn("sh", shinglesCol(textCol))
      .withColumn("hs", shingleHashes)
      .select(Seq(col("*")) ++ sig: _*)
      .drop("hs")
  }

  /** `stack(b, 0, mh0, 1, mh1, …)` — one (band, sig) row per permutation. */
  private def bandStack: Column =
    expr(s"stack(${perms.size}, " +
      perms.indices.map(i => s"$i, mh$i").mkString(", ") + ")")
      .as(Seq("band", "sig"))

  /** One index row per (band, sig): the static side of the gate join.
    * Persist with `.write.bucketBy(n, "band", "sig")` at scale. */
  def corpusIndex(corpus: DataFrame, textCol: String = "text"): DataFrame =
    withSignature(corpus, textCol)
      .select(Seq(col("doc_id").as("corpus_id"), col("sh").as("corpus_sh")) ++
        perms.indices.map(i => col(s"mh$i").as(s"c$i")) :+ bandStack: _*)

  /** The gate: candidates via the (band, sig) equi-join, stateless
    * first-match pair-dedup, exact shingle-Jaccard verify ≥ `minJaccard`.
    * `incoming` may be batch or streaming; the plan is append-safe. */
  def gate(incoming: DataFrame, index: DataFrame,
           minJaccard: Double, textCol: String = "text"): DataFrame = {
    val stream = withSignature(incoming, textCol)
      .select(Seq(col("doc_id").as("new_id"), col("sh").as("new_sh")) ++
        perms.indices.map(i => col(s"mh$i").as(s"n$i")) :+ bandStack: _*)
    val firstSharedBand = perms.indices.init.foldRight(
      lit(perms.size - 1): Column) { (i, rest) =>
      when(col(s"n$i") === col(s"c$i"), i).otherwise(rest)
    }
    stream.join(index, Seq("band", "sig"))
      .filter(col("new_id") =!= col("corpus_id"))
      // keep the row only in the first band the two signatures share
      .filter(col("band") === firstSharedBand)
      .withColumn("jaccard",
        size(array_intersect(col("new_sh"), col("corpus_sh"))).cast("double") /
          size(array_union(col("new_sh"), col("corpus_sh"))).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("new_id"), col("corpus_id").as("dup_of"), col("jaccard"))
  }

  /** Static side of the fuzzy-identity gate: canonical records keyed by
    * the first-character blocking key. Persist bucketed by `blk` at
    * scale; production blocking would widen to phonetic/prefix buckets —
    * the key is a scalar expression either way. */
  def fuzzyIndex(canon: DataFrame): DataFrame =
    canon.select(col("rid").as("canon_id"), col("name").as("canon_name"),
      substring(col("name"), 1, 1).as("blk"))

  /** Streaming record-linkage gate: incoming records matched against the
    * canonical index by blocked equi-join + the native `jaro_winkler`
    * codegen kernel. The blocking key and the score are scalar
    * expressions, so the identical plan runs batch or `readStream`
    * append-mode with no state store — the ER counterpart of [[gate]].
    * The threshold compares the 6-decimal-rounded score, matching the
    * batch/oracle twins' engine-exact cut. */
  def fuzzyGate(incoming: DataFrame, index: DataFrame,
                minJw: Double): DataFrame = {
    incoming
      .select(col("rid").as("new_id"), col("name").as("new_name"),
        substring(col("name"), 1, 1).as("blk"))
      .join(index, Seq("blk"))
      .withColumn("jw", round(expr("jaro_winkler(new_name, canon_name)"), 6))
      .filter(col("jw") >= minJw)
      .select(col("new_id"), col("canon_id"), col("jw"))
  }

  /** Sign-octant bucket of an embedding's first 8 dimensions — the
    * deterministic (engine-independent) axis-aligned special case of
    * hyperplane LSH, shared with `llm_embedding_neardup_exact`. A scalar
    * expression, so it buckets batch and streaming rows identically. */
  def signOctant(embedding: Column): Column =
    (0 until 8).map(i =>
      when(element_at(embedding, i + 1) >= 0f, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)

  /** Static side of the embedding gate: one row per corpus vector keyed by
    * its octant bucket. Persist partitioned by `bucket` at scale. */
  def embedIndex(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id").as("corpus_id"),
      col("embedding").as("cvec"), signOctant(col("embedding")).as("bucket"))

  /** Streaming similarity alert: incoming vectors that are ≥ `minCos` to
    * any indexed corpus vector. One bucket per vector ⇒ no multi-band
    * collisions to dedup — a single stateless equi-join + exact cosine,
    * append-safe under readStream like [[gate]]. */
  def embedGate(incoming: DataFrame, index: DataFrame,
                minCos: Double): DataFrame = {
    incoming
      .select(col("vec_id").as("new_id"), col("embedding").as("qvec"),
        signOctant(col("embedding")).as("bucket"))
      .join(index, Seq("bucket"))
      .filter(col("new_id") =!= col("corpus_id"))
      .withColumn("cos", expr("cosine_similarity(qvec, cvec)"))
      .filter(col("cos") >= minCos)
      .select(col("new_id"), col("corpus_id").as("match_id"), col("cos"))
  }
}
