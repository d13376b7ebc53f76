package graft.etl

import scala.util.control.NonFatal

/** Readiness/retry wrapper replicating the reference's DB probe semantics
  * (`/root/reference/python/ingest_data.py:210-221`: `SELECT 1` up to 30
  * tries, 3 s apart) as a generic combinator for any flaky boundary
  * (JDBC connect, object-store listing). Driver-side only — never wrap
  * executor-side work in sleeps.
  */
object Retry {
  /** Runs `op` up to `attempts` times, `delayMs` apart, retrying only
    * [[NonFatal]] errors: an interrupt or a VM error (out of memory)
    * propagates at once instead of being retried. */
  def withRetry[T](attempts: Int = 30, delayMs: Long = 3000)(op: => T): T = {
    require(attempts >= 1, s"withRetry needs attempts >= 1, got $attempts")
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return op
      catch {
        case NonFatal(e) =>
          last = e
          i += 1
          if (i < attempts) Thread.sleep(delayMs)
      }
    }
    throw new RuntimeException(s"gave up after $attempts attempts", last)
  }

  /** The reference's probe (`SELECT 1`, Postgres dialect) against a JDBC
    * endpoint; `probeSql` overridable for dialects without bare SELECT
    * (Derby: `VALUES 1`). */
  def awaitJdbc(url: String, props: java.util.Properties,
                attempts: Int = 30, delayMs: Long = 3000,
                probeSql: String = "SELECT 1"): Unit =
    withRetry(attempts, delayMs) {
      val conn = java.sql.DriverManager.getConnection(url, props)
      try { conn.createStatement().execute(probeSql) } finally conn.close()
    }
}
