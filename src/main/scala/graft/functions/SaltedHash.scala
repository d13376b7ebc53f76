package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{conv, md5, substring}

/** The engine's portable salted hash, the md5 counterpart of [[PolyHash]]:
  * the first `hexDigits` hex digits of `md5(s)` read as a non-negative
  * BIGINT (at most 15 digits, so it stays below 2^60). Callers salt by
  * prefixing the input (`concat(lit("gx:"), key)`). DuckDB computes the
  * same value as `CAST(('0x' || substr(md5(s), 1, k)) AS BIGINT)`, which
  * is why split buckets, synthetic coordinates and sampling uniforms are
  * built on it and not on an engine-specific hash. A null input gives
  * null. */
object SaltedHash {
  def md5Prefix(s: Column, hexDigits: Int): Column =
    conv(substring(md5(s), 1, hexDigits), 16, 10).cast("bigint")
}
