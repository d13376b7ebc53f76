package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.SaltedHash.md5Prefix

/** [[graft.functions.SaltedHash.md5Prefix]] against an md5 computed
  * outside Spark: for every width the queries use, the value is the first
  * `k` hex digits of the UTF-8 input's md5 read as a base-16 integer, and
  * a null input gives null. */
class SaltedHashSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private val widths = Seq(2, 4, 6, 8, 15)

  private def reference(s: String, k: Int): Long = {
    val hex = MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.take(k), 16)
  }

  test("md5Prefix equals an independent md5 hex prefix at every width in use") {
    import spark.implicits._
    val probes = Seq("", "graft:0", "graft:42", "gx:17", "ip3:500",
      "boot7:1:2", "héllo", "世界", "a😀b", "x" * 300)
    val cols = widths.map(k => md5Prefix(col("s"), k).as(s"h$k"))
    val rows = probes.toDF("s").select(col("s") +: cols: _*).collect()
    assert(rows.length == probes.size)
    for (r <- rows; (k, i) <- widths.zipWithIndex) {
      val s = r.getString(0)
      assert(r.getLong(i + 1) == reference(s, k), s"'$s' at $k hex digits")
    }
  }

  test("md5Prefix of a null input is null") {
    val r = spark.range(1)
      .select(widths.map(k => md5Prefix(lit(null).cast("string"), k)): _*)
      .head()
    assert(widths.indices.forall(r.isNullAt))
  }
}
