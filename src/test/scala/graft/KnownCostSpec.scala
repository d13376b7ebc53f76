package graft

import org.scalatest.funsuite.AnyFunSuite

/** r14 (VERDICT r13 #1): the known-cost invariant, enforced by a test
  * instead of by hand. BASELINE.md's known-cost table must carry an
  * attribution row for every query whose latest measured board read is
  * ≥ 2 s — "no undocumented slow query". The source is the newest round
  * artifact `BENCH_r*.json`, whose retained tail is scanned for every
  * visible "query":seconds pair (the test cancels, not fails, when no
  * artifact exists).
  *
  * An attribution row is any BASELINE.md table row starting `| <name> `.
  * The 2 s threshold matches the VERDICT r12 #7 / r13 #1 definition.
  */
class KnownCostSpec extends AnyFunSuite {
  private val repo = new java.io.File(".").getCanonicalFile

  private def readIf(f: java.io.File): Option[String] =
    if (f.isFile) Some(new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    else None

  private lazy val baseline = readIf(new java.io.File(repo, "BASELINE.md"))
  private def attributed(name: String): Boolean =
    baseline.exists(_.contains(s"| $name "))

  private val pair = """"([a-z0-9_]+)":([0-9]+\.[0-9]+)""".r
  private val knownNames = SparkEntry.queries.keySet

  private def slowEntries(txt: String): Seq[(String, Double)] =
    pair.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toDouble)
      .filter { case (n, v) => knownNames(n) && v >= 2.0 }
      .toSeq

  test("every >=2s read visible in the newest driver artifact is attributed") {
    val arts = Option(repo.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("BENCH_r\\d+\\.json"))
    assume(arts.nonEmpty, "no driver bench artifacts (fresh clone)")
    val latest = arts.maxBy(f =>
      "\\d+".r.findFirstIn(f.getName).get.toInt)
    val missing = slowEntries(readIf(latest).get)
      .filterNot(e => attributed(e._1))
    assert(missing.isEmpty,
      s"${latest.getName}: queries >=2s with NO known-cost row in " +
        s"BASELINE.md: " +
        missing.map { case (n, v) => f"$n ($v%.2f s)" }.mkString(", "))
  }
}
