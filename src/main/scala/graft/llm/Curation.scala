package graft.llm

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables.{spread, t}

/** Corpus-curation operators a production training-data pipeline runs
  * between raw crawl and tokenizer (round-6 additions alongside
  * [[TextOps]] / [[Dedup]]): positional winnowing fingerprints, exact
  * substring-overlap detection, per-source admission caps, and data-mixture
  * weight design. All four are oracle-backed (DuckDB twins below).
  */
object Curation extends graft.Family {
  /** 31-polynomial rolling-hash over a fixed k=8 char gram starting at
    * lambda/column position `p` (1-based), mod 1e9+7 — the same
    * engine-portable hash family as llm_fingerprint, unrolled to the fixed
    * width so the DuckDB twin is a plain arithmetic expression (no
    * recursion, no list_reduce). */
  private val pow31 = Seq(27512614111L, 887503681L, 28629151L, 923521L,
    29791L, 961L, 31L, 1L)
  private def gramHash(pos: String): String =
    pow31.zipWithIndex.map { case (pw, i) =>
      s"CAST(ascii(substring(text, $pos + $i, 1)) AS BIGINT) * $pw"
    }.mkString("(", " + ", ") % 1000000007")

  val defs: Map[String, Q] = Map(
    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken MOSS selection):
    // hash every k=8 char gram, keep the MIN of each w=4 gram window —
    // guarantees any shared substring of length ≥ k+w-1 = 11 yields a
    // shared fingerprint, at ~2/(w+1) the density of full shingling. The
    // whole pipeline is array HOFs on the scan — per-doc gram hashes,
    // window minima, distinct — so it SHUFFLES NOTHING: per-doc stats ride
    // the parquet scan exactly like llm_repetition. (The DuckDB twin
    // expresses the same selection relationally: explode + window min.)
    "llm_winnow_fingerprint" -> ((s, d) => {
      spread(t(s, d, "documents"))
        // a doc needs one full window: k + w - 1 = 11 chars
        .filter(length(col("text")) >= 11)
        .selectExpr("doc_id",
          s"transform(sequence(1, length(text) - 7), p -> ${gramHash("p")}) AS hs")
        .selectExpr("doc_id",
          "array_distinct(transform(sequence(1, size(hs) - 3), i -> array_min(slice(hs, i, 4)))) AS fps")
        .select(col("doc_id"),
          size(col("fps")).cast("long").as("n_fp"),
          array_min(col("fps")).as("fp_min"),
          array_max(col("fps")).as("fp_max"),
          expr("aggregate(fps, CAST(0 AS BIGINT), (a, x) -> a + x) % 1000000007")
            .as("fp_modsum"))
    }),

    // Exact substring-overlap pairs (the Lee et al. "Deduplicating
    // Training Data" signal, bucketed): every L=24 char window (stride 1)
    // becomes an index key; docs sharing ≥ 3 distinct windows are emitted
    // with their overlap count. Scale shape (r14): ONE wide shuffle — the
    // window stream aggregates straight into `bounded_collect_set(doc_id,
    // 10)` (functions/BoundedCollectSet.scala), whose per-group buffer
    // saturates at df = 11, so the document-frequency cutoff (2..10) that
    // keeps boilerplate windows from fanning out into pairs is enforced in
    // CONSTANT memory per group during the aggregate itself, not by the
    // old count→join-back→self-join machinery (4 shuffles of the window
    // stream → 1). Pair fan-out runs as
    // codegen generators over the ≤10-element sorted doc lists — the same
    // posexplode + sliced-explode kernel as exactAnchorFrames. At 100 TB
    // the group key would be xxhash64(w) (8 bytes vs 24) — the string key
    // here keeps the oracle exact.
    "llm_substring_dup" -> ((s, d) => {
      val grouped = spread(t(s, d, "documents"))
        .filter(length(col("text")) >= 24)
        .withColumn("p", explode(sequence(lit(1), length(col("text")) - 23)))
        .selectExpr("doc_id", "substring(text, p, 24) AS w")
        .groupBy(col("w"))
        .agg(expr("bounded_collect_set(doc_id, 10)").as("docs"))
        .filter(size(col("docs")).between(2, 10))
      grouped
        .select(col("docs"), posexplode(col("docs")).as(Seq("i", "doc_a")))
        .select(col("doc_a"), explode(expr(
          "slice(docs, i + 2, size(docs) - i - 1)")).as("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
    }),

    // Per-source admission cap (the CommonCrawl per-domain cap): keep the
    // top 5 docs per source by length (doc_id tiebreak), report per-source
    // admission accounting. One window over the bounded source partition +
    // one aggregate that reuses its clustering.
    "llm_domain_cap" -> ((s, d) => {
      val rk = row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id")))
      spread(t(s, d, "documents"))
        .withColumn("rk", rk)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rk") <= 5, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("rk") <= 5, col("n_chars")).otherwise(0L))
            .as("chars_kept"))
    }),

    // Safety / blocklist filtering (the word-list gate every curation
    // pipeline runs before model-based toxicity scoring): per-doc hit
    // counts against a term blocklist plus a density-threshold keep flag.
    // Pure array HOFs on the scan — zero shuffle, like the winnowing
    // pipeline. The 3-term literal list stands in for the real artifact;
    // at production size (10k+ terms) the list ships as a broadcast map
    // or Bloom filter (graft_bloom_agg exists for exactly that shape) —
    // the per-doc plan is identical either way.
    "llm_blocklist_filter" -> ((s, d) => {
      val bl = "array('slow', 'merge', 'stream')"
      spread(t(s, d, "documents"))
        .selectExpr("doc_id", "split(text, ' ') AS toks")
        .selectExpr("doc_id",
          "size(toks) AS n_tokens",
          s"size(filter(toks, t -> array_contains($bl, t))) AS n_hits",
          s"size(array_intersect(array_distinct(toks), $bl)) AS n_blocked_terms")
        .selectExpr("doc_id", "n_tokens", "n_hits", "n_blocked_terms",
          "round(CAST(n_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS hit_frac",
          "CAST(n_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) < 0.05 AS keep")
    }),

    // Data-mixture design: per-source token counts → sqrt-scaled sampling
    // weights (the standard temperature-style flattening, tau = 2) and the
    // implied epochs over each source at a 1M-token training budget. The
    // global normalizer is a provably-1-row aggregate broadcast into a
    // cross join — the scalar-broadcast pattern the plan audit enforces.
    "llm_mixture_weights" -> ((s, d) => {
      val per = spread(t(s, d, "documents"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      val tot = per.agg(
        sum(sqrt(col("n_tokens").cast("double"))).as("tot_w"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(sqrt(col("n_tokens").cast("double")) / col("tot_w"), 6)
            .as("weight"),
          round(lit(1000000.0) * sqrt(col("n_tokens").cast("double")) /
            col("tot_w") / col("n_tokens").cast("double"), 6).as("epochs"))
    }),

    // Green-list watermark detection (Kirchenbauer et al. 2023, unigram
    // variant): a fixed pseudorandom vocabulary partition (token is
    // "green" iff its salted-md5 prefix ≡ 0 mod 4, γ = 1/4 — the portable
    // hash construction llm_split_assign uses), per-doc green-token count,
    // and the one-proportion z statistic z = (g − γn)/√(nγ(1−γ)) =
    // (4g − n)/√(3n). Model-generated text biased toward the green list
    // shows z ≫ 0; the flag threshold is the paper's z > 4. All selection
    // arithmetic is exact-integer (4g − n, 3n) with ONE correctly-rounded
    // sqrt + division on output, so the flag cannot ulp-flip between
    // engines. Scan-side HOFs only — zero shuffle, the llm_blocklist
    // shape; at 100 TB this rides the document scan for free.
    "llm_watermark_detect" -> ((s, d) => {
      val green = "tk -> CAST(conv(substring(md5(concat('wm:', tk)), 1, 4)," +
        " 16, 10) AS BIGINT) % 4 = 0"
      spread(t(s, d, "documents"))
        .selectExpr("doc_id", "split(text, ' ') AS toks")
        .selectExpr("doc_id",
          "CAST(size(toks) AS BIGINT) AS n_tokens",
          s"CAST(size(filter(toks, $green)) AS BIGINT) AS n_green")
        .select(col("doc_id"), col("n_tokens"), col("n_green"),
          (round((lit(4L) * col("n_green") - col("n_tokens")).cast("double")
            / sqrt((lit(3L) * col("n_tokens")).cast("double")), 6) + lit(0.0))
            .as("z_green"),
          ((lit(4L) * col("n_green") - col("n_tokens")).cast("double")
            / sqrt((lit(3L) * col("n_tokens")).cast("double")) > 4.0)
            .as("flagged"))
    }),

    // leave-one-source-out data valuation: how much does the corpus
    // quality mean move if source i is removed? The Shapley-style
    // first-order readout a curation pipeline uses to rank sources for
    // up/down-sampling — and it needs NO per-source re-scan: with
    // per-doc scores quantized floor-ppm BEFORE summation, the LOO mean
    // is exactly (S − sᵢ)/(N − nᵢ) from ONE grouped aggregate plus the
    // 1-row corpus total (the scalar-broadcast pattern). delta > 0 ⟺
    // removing the source RAISES corpus quality (the source drags).
    "llm_loo_source_value" -> ((s, d) => {
      val scored = spread(t(s, d, "documents"))
        .withColumn("toks", split(col("text"), " "))
        .select(col("source"),
          floor(lit(1e6) * size(array_distinct(col("toks")))
            / size(col("toks")) + lit(0.5)).cast("long").as("q_ppm"))
      val per = scored.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("q_ppm")).as("s_ppm"))
      val tot = per.agg(sum(col("n_docs")).as("nn"),
        sum(col("s_ppm")).as("ss"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"),
          floor(col("s_ppm") / col("n_docs") + lit(0.5)).cast("long")
            .as("mean_ppm"),
          floor((col("ss") - col("s_ppm"))
            / (col("nn") - col("n_docs")) + lit(0.5)).cast("long")
            .as("loo_mean_ppm"),
          (floor((col("ss") - col("s_ppm"))
             / (col("nn") - col("n_docs")) + lit(0.5)).cast("long")
           - floor(col("ss") / col("nn") + lit(0.5)).cast("long"))
            .as("delta_ppm"))
    }))

  val sql: Map[String, String] = Map(
    "llm_winnow_fingerprint" -> s"""
      WITH grams AS (
        SELECT doc_id, CAST(p AS INT) AS p, length(text) - 7 AS ng,
               ${gramHash("CAST(p AS INT)")} AS h
        FROM documents, UNNEST(range(1, length(text) - 6)) AS t(p)
        WHERE length(text) >= 11
      ), wmins AS (
        SELECT doc_id, p, ng,
               min(h) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        FROM grams
      ), fps AS (
        SELECT DISTINCT doc_id, fp FROM wmins WHERE p <= ng - 3
      )
      SELECT doc_id, count(*) AS n_fp,
             CAST(min(fp) AS BIGINT) AS fp_min,
             CAST(max(fp) AS BIGINT) AS fp_max,
             CAST(sum(fp) % 1000000007 AS BIGINT) AS fp_modsum
      FROM fps GROUP BY doc_id""",

    "llm_substring_dup" -> """
      WITH wins AS (
        SELECT DISTINCT doc_id, substr(text, CAST(p AS INT), 24) AS w
        FROM documents, UNNEST(range(1, length(text) - 22)) AS t(p)
        WHERE length(text) >= 24
      ), rare AS (
        SELECT w FROM wins GROUP BY w HAVING count(*) BETWEEN 2 AND 10
      )
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM wins a JOIN rare USING (w) JOIN wins b USING (w)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= 3""",

    "llm_domain_cap" -> """
      WITH ranked AS (
        SELECT source, n_chars,
               row_number() OVER (PARTITION BY source
                 ORDER BY n_chars DESC, doc_id) AS rk
        FROM documents
      )
      SELECT source, count(*) AS n_docs,
             CAST(sum(CASE WHEN rk <= 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             CAST(sum(CASE WHEN rk <= 5 THEN n_chars ELSE 0 END) AS BIGINT)
               AS chars_kept
      FROM ranked GROUP BY source""",

    "llm_blocklist_filter" -> """
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      )
      SELECT doc_id,
             len(ts) AS n_tokens,
             len(list_filter(ts,
               t -> list_contains(['slow', 'merge', 'stream'], t))) AS n_hits,
             len(list_intersect(list_distinct(ts),
               ['slow', 'merge', 'stream'])) AS n_blocked_terms,
             round(CAST(len(list_filter(ts,
                 t -> list_contains(['slow', 'merge', 'stream'], t)))
               AS DOUBLE) / CAST(len(ts) AS DOUBLE), 6) AS hit_frac,
             CAST(len(list_filter(ts,
                 t -> list_contains(['slow', 'merge', 'stream'], t)))
               AS DOUBLE) / CAST(len(ts) AS DOUBLE) < 0.05 AS keep
      FROM toks""",

    "llm_watermark_detect" -> """
      WITH g AS (
        SELECT doc_id, len(ts) AS n,
               len(list_filter(ts, tk ->
                 CAST(('0x' || substr(md5('wm:' || tk), 1, 4)) AS BIGINT)
                   % 4 = 0)) AS gc
        FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
      )
      SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(gc AS BIGINT) AS n_green,
             round(CAST(4 * gc - n AS DOUBLE) / sqrt(CAST(3 * n AS DOUBLE)), 6)
               + 0.0 AS z_green,
             CAST(4 * gc - n AS DOUBLE) / sqrt(CAST(3 * n AS DOUBLE)) > 4.0
               AS flagged
      FROM g""",

    "llm_loo_source_value" -> """
      WITH scored AS (
        SELECT source,
               CAST(floor(1e6 * len(list_distinct(string_split(text, ' ')))
                 / len(string_split(text, ' ')) + 0.5) AS BIGINT) AS q_ppm
        FROM documents
      ), per AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(q_ppm) AS BIGINT) AS s_ppm
        FROM scored GROUP BY source
      ), tot AS (
        SELECT CAST(sum(n_docs) AS BIGINT) AS nn,
               CAST(sum(s_ppm) AS BIGINT) AS ss FROM per
      )
      SELECT source, n_docs,
             CAST(floor(s_ppm / n_docs + 0.5) AS BIGINT) AS mean_ppm,
             CAST(floor((ss - s_ppm) / (nn - n_docs) + 0.5) AS BIGINT)
               AS loo_mean_ppm,
             CAST(floor((ss - s_ppm) / (nn - n_docs) + 0.5) AS BIGINT)
             - CAST(floor(ss / nn + 0.5) AS BIGINT) AS delta_ppm
      FROM per, tot""",

    "llm_mixture_weights" -> """
      WITH per AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
      )
      SELECT source, n_docs, n_tokens,
             round(sqrt(CAST(n_tokens AS DOUBLE)) /
                   sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER (), 6) AS weight,
             round(1000000.0 * sqrt(CAST(n_tokens AS DOUBLE)) /
                   sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER () /
                   CAST(n_tokens AS DOUBLE), 6) AS epochs
      FROM per""")
}
