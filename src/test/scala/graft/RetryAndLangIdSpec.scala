package graft

import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.Retry
import graft.llm.TextOps

class RetryAndLangIdSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  test("withRetry retries until success and preserves the failure cause") {
    val calls = new AtomicInteger(0)
    val got = Retry.withRetry(attempts = 5, delayMs = 1) {
      if (calls.incrementAndGet() < 3) sys.error("not yet") else 42
    }
    assert(got == 42 && calls.get() == 3)
    val ex = intercept[RuntimeException] {
      Retry.withRetry(attempts = 2, delayMs = 1) { sys.error("always") }
    }
    assert(ex.getMessage.contains("2 attempts"))
    assert(ex.getCause.getMessage == "always")
  }

  test("withRetry does not retry a fatal error and rejects attempts < 1") {
    val calls = new AtomicInteger(0)
    intercept[InterruptedException] {
      Retry.withRetry(attempts = 5, delayMs = 1) {
        calls.incrementAndGet(); throw new InterruptedException("stop")
      }
    }
    assert(calls.get() == 1, "an interrupt must propagate on the first call")
    val ex = intercept[IllegalArgumentException] {
      Retry.withRetry(attempts = 0, delayMs = 1) { 1 }
    }
    assert(ex.getMessage.contains("attempts >= 1"))
  }

  test("awaitJdbc probes an embedded Derby endpoint") {
    val url = s"jdbc:derby:${java.nio.file.Files.createTempDirectory("graft-probe")}/db;create=true"
    Retry.awaitJdbc(url, new java.util.Properties(), attempts = 3, delayMs = 10,
      probeSql = "VALUES 1") // Derby dialect: no bare SELECT without FROM
  }

  test("naive-Bayes language-ID: one deterministic guess per doc, better than chance") {
    val out = TextOps.langidNaiveBayes(spark, sf).cache()
    val n = graft.core.Tables.t(spark, sf, "documents").count()
    assert(out.count() == n, "exactly one prediction per document")
    val again = TextOps.langidNaiveBayes(spark, sf)
      .select("doc_id", "lang_guess").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val first = out.select("doc_id", "lang_guess").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(first == again, "classifier must be deterministic")
    // the fixture text is word-salad (language-independent), so accuracy is
    // bounded by self-training leakage; it must at least not collapse to
    // a degenerate single-class output and must hit a sane floor
    val acc = out.filter(col("lang") === col("lang_guess")).count().toDouble / n
    assert(out.select("lang_guess").distinct().count() > 1)
    assert(acc >= 0.2, s"accuracy $acc below sanity floor")
    out.unpersist()
  }
}
