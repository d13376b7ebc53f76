package graft
import graft.core.Session
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // dev convenience: trailing args restrict the dump to named queries,
    // or to name-prefix families via a trailing '*' (e.g. `llm_*`) — the
    // per-family resumable form the sf1 parity sweeps run in. The driver
    // always invokes with exactly two args = full dump.
    val sel = args.drop(2)
    val exact = sel.filterNot(_.endsWith("*")).toSet
    val prefixes = sel.filter(_.endsWith("*")).map(_.dropRight(1))
    def selected(name: String): Boolean =
      sel.isEmpty || exact(name) || prefixes.exists(name.startsWith)
    val spark = Session.builder("graft-verify")
      // Deliberately KEEP the INT96 default for the dumped result parquet:
      // INT64-micros timestamps carry isAdjustedToUTC=true, which DuckDB
      // surfaces as TIMESTAMP WITH TIME ZONE ("+00:00" suffix) — every
      // timestamp-valued query then string-mismatches the oracle's naive
      // TIMESTAMP. INT96 reads back naive on the DuckDB side and matches.
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // per-query (rows, wall-ms) for the manifest canary below
    val stats = scala.collection.mutable.TreeMap.empty[String, (Long, Long)]
    val t0All = System.nanoTime()
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      try {
        val t0 = System.nanoTime()
        // scoped: the dump fully consumes the query, so its dead
        // checkpoint blocks are unpersisted immediately (bounded block
        // manager across the 458-query dump; SessionCache frames exempt)
        graft.core.Ckpt.scoped {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
        val ms = (System.nanoTime() - t0) / 1000000L
        // row count from the parquet FOOTERS on the driver — a
        // spark.read...count() here would add one scan job per query
        // (~450 extra jobs per dump)
        val rows = Option(new java.io.File(s"$outDir/$name").listFiles())
          .getOrElse(Array.empty)
          .filter(_.getName.endsWith(".parquet"))
          .map { f =>
            val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                new org.apache.hadoop.fs.Path(f.getAbsolutePath),
                spark.sparkContext.hadoopConfiguration))
            try rd.getRecordCount finally rd.close()
          }.sum
        stats(name) = (rows, ms)
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // t2 canary (r10 verdict: an empty CORRECTNESS artifact was silent):
    // per-query row counts + wall time + totals, so a truncated or
    // zero-query dump is visible in the artifact itself.
    val wallSec = (System.nanoTime() - t0All) / 1e9
    val perQ = stats.map { case (k, (rows, ms)) =>
      s"${q(k)}: {\"rows\": $rows, \"ms\": $ms}"
    }.mkString("{", ",", "}")
    val manifest =
      s"""{"n_queries": ${stats.size}, "n_failed": ${
        SparkEntry.queries.count { case (n, _) =>
          selected(n) && !stats.contains(n) }
      }, "wall_sec": ${f"$wallSec%.1f"}, "queries": $perQ}"""
    Files.writeString(Paths.get(s"$outDir/manifest.json"), manifest)
    println(s"[verify] dumped ${stats.size} queries in ${f"$wallSec%.1f"} s")
    spark.stop()
  }
}
