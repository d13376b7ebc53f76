package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (BASELINE.json north_star): image, audio
  * and video payloads read as opaque `binary` columns through Spark's
  * `binaryFile` source, and six kernels over them — asset manifest, frame
  * sampling, audio RMS and activity segmentation, shot boundaries and the
  * patch grid.
  *
  * This container has no image/audio codecs, so every kernel works on the
  * raw bytes in place of decoded frames, samples or pixels. Each kernel
  * has a DuckDB twin over the committed fixture assets in [[fixtureDir]].
  */
object Multimodal extends graft.Family {
  /** Asset inventory profile: (file_name, fmt, byte_len, sha) per binary
    * asset — the manifest/integrity pass every multimodal ingest runs
    * before decode. Hash is sha256 over the UPPERCASE-HEX rendering of the
    * payload (not the raw bytes) because that is the strongest digest both
    * the engine and the DuckDB oracle can compute over blobs — DuckDB 1.0's
    * sha256 only accepts VARCHAR, and its BLOB→VARCHAR cast escapes
    * non-printable bytes; `hex()` is uppercase in both engines, making the
    * digest cross-checkable byte-for-byte. */
  def fileMeta(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile").load(dir).select(
      regexp_extract(col("path"), "([^/]+)$", 1).as("file_name"),
      regexp_extract(col("path"), "\\.([A-Za-z0-9]+)$", 1).as("fmt"),
      length(col("content")).cast(LongType).as("byte_len"),
      sha2(hex(col("content")), 256).as("sha_hex"))


  /** Committed deterministic fixture assets (LCG byte streams — see
    * fixtures/multimodal/) so the binary-column contract has a
    * hash-checkable oracle row like every other operator family.
    * The DuckDB twins in [[sql]] read the same directory. */
  val fixtureDir: String = graft.core.Tables.fixture("multimodal")

  // The mm kernels are parameterized by the asset DIRECTORY so a caller
  // can run them over any asset set (perfbench runs them on its own copy
  // of the fixture); the defs stay pinned to fixtureDir, which the DuckDB
  // twins read.

  // frame sampling with a hash-checkable contract: every 4th 256-byte
  // chunk of each payload (the stub stand-in for decoded video frames)
  // emits (offset, sha) — chunking runs over the UPPERCASE-HEX
  // rendering of the blob because that is the only byte-slicing
  // surface both engines share (DuckDB 1.0 has no BLOB substring);
  // 2 hex chars ≡ 1 payload byte, so offsets stay byte-addressed.
  // The explode is the row-per-frame fan-out a real decoder feeds.
  def frameSample(s: SparkSession, dir: String): DataFrame = {
      val a = s.read.format("binaryFile").load(dir).select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("file_name"),
        hex(col("content")).as("hx"),
        length(col("content")).cast(LongType).as("bl"))
      a.withColumn("n_chunks",
          greatest(lit(1L), expr("bl DIV 256")))
        .withColumn("frame_idx",
          explode(expr("filter(sequence(0, n_chunks - 1), i -> i % 4 = 0)")))
        .select(col("file_name"), col("frame_idx").cast(LongType).as("frame_idx"),
          (col("frame_idx") * 256).cast(LongType).as("byte_offset"),
          sha2(expr("substring(hx, CAST(frame_idx * 512 + 1 AS INT), 512)"),
            256).as("chunk_sha"))
  }

  // audio-frame energy: interpret each payload as little-endian int16
  // PCM (the universal raw-audio contract), window into 1024-sample
  // frames, and emit per-window sample counts + EXACT integer
  // sum-of-squares energy plus a floor-ppm RMS (one sqrt on an
  // identical integer ratio — never summed). Samples decode off the
  // shared UPPERCASE-HEX rendering (the mm_frame_sample surface):
  // 4 hex chars ≡ 1 sample, big-endian hex pair order swapped to
  // little-endian before sign correction. The explode is the
  // row-per-sample fan-out a real audio featurizer consumes; at scale
  // it is one narrow map stage + a (file, window)-keyed aggregate.
  def audioRms(s: SparkSession, dir: String): DataFrame = {
      val a = s.read.format("binaryFile").load(dir).select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("file_name"),
        hex(col("content")).as("hx"),
        (length(col("content")).cast(LongType) / 2).cast(LongType)
          .as("n_samples"))
      // n_samples = 0 guard (ADVICE r9): Spark's sequence(0, -1) DESCENDS
      // and would emit a bogus window for an empty payload while DuckDB's
      // range(0, 0) is empty — pin "no samples → no rows" on both engines
      a.filter(col("n_samples") > 0)
        .withColumn("i", explode(expr("sequence(0L, n_samples - 1)")))
        .withColumn("v", expr(
          "CAST(conv(substring(hx, CAST(i * 4 + 1 AS INT), 4), 16, 10) AS BIGINT)"))
        .withColumn("u", (col("v") % 256) * 256 + expr("v div 256"))
        .withColumn("smp",
          when(col("u") >= 32768L, col("u") - 65536L).otherwise(col("u")))
        .groupBy(col("file_name"), expr("i div 1024").as("win"))
        .agg(count(lit(1)).as("n"),
          sum(col("smp") * col("smp")).as("energy"))
        .withColumn("rms_ppm",
          floor(lit(1e6) * sqrt(col("energy") / col("n")) + lit(0.5))
            .cast("long"))
  }

  /** DuckDB replay of [[audioRms]] up to its window table over the
    * fixture: the s16le samples `sgn(file_name, i, smp)` and their
    * 1024-sample windows `agg(file_name, win, n, energy)`. */
  private val audioWindowCtes: String = s"""a AS (
        SELECT regexp_extract(filename, '([^/]+)$$', 1) AS file_name,
               hex(content) AS hx,
               CAST(octet_length(content) // 2 AS BIGINT) AS n_samples
        FROM read_blob('$fixtureDir/*')
      ), smp AS (
        SELECT file_name,
               CAST(unnest(range(0, n_samples)) AS BIGINT) AS i, hx
        FROM a WHERE n_samples > 0
      ), dec AS (
        SELECT file_name, i,
               CAST(('0x' || substr(hx, CAST(i * 4 + 1 AS BIGINT), 4))
                 AS BIGINT) AS v
        FROM smp
      ), sgn AS (
        SELECT file_name, i,
               CASE WHEN (v % 256) * 256 + (v // 256) >= 32768
                    THEN (v % 256) * 256 + (v // 256) - 65536
                    ELSE (v % 256) * 256 + (v // 256) END AS smp
        FROM dec
      ), agg AS (
        SELECT file_name, CAST(i // 1024 AS BIGINT) AS win,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(smp * smp) AS BIGINT) AS energy
        FROM sgn GROUP BY 1, 2
      )"""

  // energy-gated activity segmentation (the VAD shape: which spans of
  // the audio carry signal?) over the audioRms window table: a
    // window is "active" iff its mean-square exceeds half the file's
    // overall mean-square — an EXACT integer comparison via
    // cross-multiplication (2·energy_w·N_file > E_file·n_w, computed in
    // decimal(38,0) ≡ HUGEINT; never a ratio, never an sqrt) — and
    // adjacent active windows merge into segments by gaps-and-islands
    // (win − row_number over active windows). Output: one row per
    // contiguous active segment with its exact total energy. Scale: the
    // per-file totals and islands run over the WINDOW table (seconds of
    // audio per row), not samples.
  def audioVad(s: SparkSession, dir: String): DataFrame = {
      val w = audioRms(s, dir)
        .select(col("file_name"), col("win"), col("n"), col("energy"))
      val wf = org.apache.spark.sql.expressions.Window
        .partitionBy(col("file_name"))
      val act = w
        .withColumn("te", sum(col("energy")).over(wf))
        .withColumn("tn", sum(col("n")).over(wf))
        .filter(col("energy").cast("decimal(38,0)") * 2 * col("tn") >
          col("te").cast("decimal(38,0)") * col("n"))
      val wo = org.apache.spark.sql.expressions.Window
        .partitionBy(col("file_name")).orderBy(col("win"))
      act
        .withColumn("grp", col("win") - row_number().over(wo))
        .groupBy(col("file_name"), col("grp"))
        .agg(min(col("win")).as("seg_start"), max(col("win")).as("seg_end"),
          count(lit(1)).as("n_windows"), sum(col("energy")).as("seg_energy"))
        .select(col("file_name"), col("seg_start"), col("seg_end"),
          col("n_windows"), col("seg_energy"))
  }

  // patch-grid plumbing: image dims come from the decode stub
  // (deterministic arithmetic on byte length — a real decoder would
  // fill meta.width/height), then each asset explodes into its 32×32
  // patch coordinates with edge clipping — the row-per-patch shape a
  // vision featurizer consumes.
  def patchGrid(s: SparkSession, dir: String): DataFrame = {
      val a = s.read.format("binaryFile").load(dir).select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("file_name"),
        length(col("content")).cast(LongType).as("bl"))
      a.withColumn("w", (lit(64L) + col("bl") % 193).cast(LongType))
        .withColumn("h", (lit(64L) + (col("bl") * 7) % 157).cast(LongType))
        .withColumn("px", explode(expr("sequence(0L, (w - 1) DIV 32)")))
        .withColumn("py", explode(expr("sequence(0L, (h - 1) DIV 32)")))
        .select(col("file_name"), col("w"), col("h"), col("px"), col("py"),
          (col("px") * 32).as("x0"), (col("py") * 32).as("y0"),
          least(lit(32L), col("w") - col("px") * 32).as("pw"),
          least(lit(32L), col("h") - col("py") * 32).as("ph"))
  }

  // shot-boundary detection (the video curation cut finder): per-frame
  // feature = EXACT integer byte-sum of each full 256-byte chunk (the
  // decode stub standing in for a frame histogram), frame differencing
  // via lag, and a cut wherever a frame-to-frame change exceeds 2× the
  // file's mean change — the threshold comparison is the cross-
  // multiplied integer diff·n > 2·Σdiff, so no ratio can ulp-flip.
  // Per-file summary output (n_frames, cuts, scenes) so every video
  // contributes a row even when no cut fires. Scale: one narrow
  // byte-explode map stage + (file, chunk)-keyed aggregate, identical
  // shape to mm_audio_rms; the per-file windows run over FRAME rows.
  def shotBoundary(s: SparkSession, dir: String): DataFrame = {
      val a = s.read.format("binaryFile").load(dir)
        .filter(col("path").endsWith(".vid"))
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file_name"),
          hex(col("content")).as("hx"),
          length(col("content")).cast(LongType).as("bl"))
      val frames = a.filter(col("bl") >= 512) // need ≥ 2 full frames
        .withColumn("nb", expr("(bl DIV 256) * 256"))
        .withColumn("i", explode(expr("sequence(0L, nb - 1)")))
        .withColumn("bv", expr("CAST(conv(substring(hx," +
          " CAST(i * 2 + 1 AS INT), 2), 16, 10) AS BIGINT)"))
        .groupBy(col("file_name"), expr("i div 256").as("f"))
        .agg(sum(col("bv")).as("fsum"))
      val wo = org.apache.spark.sql.expressions.Window
        .partitionBy(col("file_name")).orderBy(col("f"))
      val wf = org.apache.spark.sql.expressions.Window
        .partitionBy(col("file_name"))
      frames
        .withColumn("prev", lag(col("fsum"), 1).over(wo))
        .filter(col("prev").isNotNull)
        .withColumn("diff", abs(col("fsum") - col("prev")))
        .withColumn("nd", count(lit(1)).over(wf))
        .withColumn("sd", sum(col("diff")).over(wf))
        .withColumn("cut", col("diff") * col("nd") > col("sd") * 2)
        .groupBy(col("file_name"))
        .agg((max(col("nd")) + 1).as("n_frames"),
          sum(when(col("cut"), 1L).otherwise(0L)).as("n_cuts"),
          max(col("diff")).as("max_diff"), sum(col("diff")).as("sum_diff"))
        .withColumn("n_scenes", col("n_cuts") + 1)
  }

  val defs: Map[String, Q] = Map(
    "llm_multimodal_meta" -> ((s, _) => fileMeta(s, fixtureDir)),
    "mm_frame_sample" -> ((s, _) => frameSample(s, fixtureDir)),
    "mm_audio_rms" -> ((s, _) => audioRms(s, fixtureDir)),
    "mm_audio_vad" -> ((s, _) => audioVad(s, fixtureDir)),
    "mm_shot_boundary" -> ((s, _) => shotBoundary(s, fixtureDir)),
    "mm_patch_grid" -> ((s, _) => patchGrid(s, fixtureDir)))

  val sql: Map[String, String] = Map(
    "llm_multimodal_meta" -> s"""
      SELECT regexp_extract(filename, '([^/]+)$$', 1) AS file_name,
             regexp_extract(filename, '\\.([A-Za-z0-9]+)$$', 1) AS fmt,
             octet_length(content) AS byte_len,
             sha256(hex(content)) AS sha_hex
      FROM read_blob('$fixtureDir/*')""",

    "mm_frame_sample" -> s"""
      WITH a AS (
        SELECT regexp_extract(filename, '([^/]+)$$', 1) AS file_name,
               hex(content) AS hx, octet_length(content) AS bl
        FROM read_blob('$fixtureDir/*')
      ), idx AS (
        SELECT file_name, hx,
               unnest(range(0, greatest(1, bl // 256))) AS frame_idx
        FROM a
      )
      SELECT file_name, CAST(frame_idx AS BIGINT) AS frame_idx,
             CAST(frame_idx * 256 AS BIGINT) AS byte_offset,
             sha256(substr(hx, CAST(frame_idx * 512 + 1 AS BIGINT), 512))
               AS chunk_sha
      FROM idx WHERE frame_idx % 4 = 0""",

    "mm_shot_boundary" -> s"""
      WITH a AS (
        SELECT regexp_extract(filename, '([^/]+)$$', 1) AS file_name,
               hex(content) AS hx, octet_length(content) AS bl
        FROM read_blob('$fixtureDir/*.vid')
      ), bytes AS (
        SELECT file_name,
               CAST(unnest(range(0, (bl // 256) * 256)) AS BIGINT) AS i, hx
        FROM a WHERE bl >= 512
      ), frames AS (
        SELECT file_name, CAST(i // 256 AS BIGINT) AS f,
               CAST(sum(CAST(('0x' || substr(hx, CAST(i * 2 + 1 AS BIGINT),
                 2)) AS BIGINT)) AS BIGINT) AS fsum
        FROM bytes GROUP BY 1, 2
      ), diffs AS (
        SELECT file_name, f,
               abs(fsum - lag(fsum) OVER (PARTITION BY file_name
                 ORDER BY f)) AS diff
        FROM frames
      ), fl AS (
        SELECT file_name, f, diff,
               count(*) OVER (PARTITION BY file_name) AS nd,
               sum(diff) OVER (PARTITION BY file_name) AS sd
        FROM diffs WHERE diff IS NOT NULL
      )
      SELECT file_name,
             CAST(max(nd) + 1 AS BIGINT) AS n_frames,
             CAST(sum(CASE WHEN diff * nd > sd * 2 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_cuts,
             CAST(max(diff) AS BIGINT) AS max_diff,
             CAST(sum(diff) AS BIGINT) AS sum_diff,
             CAST(sum(CASE WHEN diff * nd > sd * 2 THEN 1 ELSE 0 END) + 1
               AS BIGINT) AS n_scenes
      FROM fl GROUP BY file_name""",

    "mm_audio_rms" -> s"""
      WITH $audioWindowCtes
      SELECT file_name, win, n, energy,
             CAST(floor(1e6 * sqrt(energy / n) + 0.5) AS BIGINT) AS rms_ppm
      FROM agg""",

    "mm_audio_vad" -> s"""
      WITH $audioWindowCtes, act AS (
        SELECT file_name, win, n, energy
        FROM (SELECT *, CAST(sum(energy) OVER (PARTITION BY file_name)
                          AS HUGEINT) AS te,
                     CAST(sum(n) OVER (PARTITION BY file_name)
                          AS HUGEINT) AS tn
              FROM agg)
        WHERE CAST(energy AS HUGEINT) * 2 * tn > te * CAST(n AS HUGEINT)
      ), isl AS (
        SELECT file_name, win, energy,
               win - row_number() OVER (PARTITION BY file_name
                                        ORDER BY win) AS grp
        FROM act
      )
      SELECT file_name, CAST(min(win) AS BIGINT) AS seg_start,
             CAST(max(win) AS BIGINT) AS seg_end,
             CAST(count(*) AS BIGINT) AS n_windows,
             CAST(sum(energy) AS BIGINT) AS seg_energy
      FROM isl GROUP BY file_name, grp""",

    "mm_patch_grid" -> s"""
      WITH a AS (
        SELECT regexp_extract(filename, '([^/]+)$$', 1) AS file_name,
               octet_length(content) AS bl
        FROM read_blob('$fixtureDir/*')
      ), dims AS (
        SELECT file_name,
               CAST(64 + bl % 193 AS BIGINT) AS w,
               CAST(64 + (bl * 7) % 157 AS BIGINT) AS h
        FROM a
      ), px AS (
        SELECT file_name, w, h, unnest(range(0, (w - 1) // 32 + 1)) AS px
        FROM dims
      )
      SELECT file_name, w, h, CAST(px AS BIGINT) AS px,
             CAST(py AS BIGINT) AS py,
             CAST(px * 32 AS BIGINT) AS x0, CAST(py * 32 AS BIGINT) AS y0,
             least(32, w - px * 32) AS pw, least(32, h - py * 32) AS ph
      FROM (SELECT file_name, w, h, px,
                   unnest(range(0, (h - 1) // 32 + 1)) AS py
            FROM px)""")
}
