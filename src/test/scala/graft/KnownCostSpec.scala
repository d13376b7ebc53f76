package graft

import org.scalatest.funsuite.AnyFunSuite

/** The known-cost invariant, enforced by a test instead of by hand:
  * BASELINE.md's known-cost table must carry an attribution row for every
  * query whose committed warm latency is ≥ 2 s — "no undocumented slow
  * query". The source is the `warm_s` column of `perfbench/expected.tsv`,
  * the per-query latencies committed with the benchmark's expectations.
  *
  * An attribution row is a row starting `| <name> ` of the table under
  * BASELINE.md's "Known-cost table" heading (a row naming the query in a
  * timings table elsewhere does not attribute it).
  */
class KnownCostSpec extends AnyFunSuite {
  private val repo = new java.io.File(".").getCanonicalFile

  private def read(name: String): String = new String(
    java.nio.file.Files.readAllBytes(new java.io.File(repo, name).toPath),
    "UTF-8")

  /** (query, warm_s) of every row of `perfbench/expected.tsv`. */
  private lazy val warm: Seq[(String, Double)] = {
    val lines = read("perfbench/expected.tsv").split("\n").toSeq
    val header = lines.head.stripPrefix("#").trim.split("\t").toSeq
    val (name, w) = (header.indexOf("name"), header.indexOf("warm_s"))
    assert(name >= 0 && w >= 0, s"expected.tsv header lacks name/warm_s: $header")
    lines.tail.filter(_.nonEmpty).map { l =>
      val f = l.split("\t"); f(name) -> f(w).toDouble
    }
  }

  test("every query with a committed warm latency >= 2s is attributed") {
    assert(warm.size == SparkEntry.queries.size,
      s"expected.tsv has ${warm.size} rows, the inventory ${SparkEntry.queries.size}")
    val baseline = read("BASELINE.md")
    val from = baseline.indexOf("### Known-cost table")
    assert(from >= 0, "BASELINE.md has no Known-cost table heading")
    val table = baseline.substring(from).split("\n").drop(1)
      .takeWhile(!_.startsWith("#")).filter(_.startsWith("| "))
    val missing = warm.filter { case (n, s) =>
      s >= 2.0 && !table.exists(_.startsWith(s"| $n ")) }
    assert(missing.isEmpty,
      "queries >=2s in perfbench/expected.tsv with NO row in BASELINE.md's " +
        "known-cost table: " +
        missing.map { case (n, v) => f"$n ($v%.2f s)" }.mkString(", "))
  }
}
