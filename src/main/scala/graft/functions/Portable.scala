package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable deterministic hashing and floor division.
  *
  * TiCDC's partition dispatchers (reference:
  * downstreamadapter/sink/helper/eventrouter/partition/) hash table
  * names / index values to pick a sink partition. The exact hash (Go
  * crc32/fnv) is an implementation detail; what matters is a stable,
  * uniformly-distributed mapping. We use the first 60 bits of md5 so the
  * SAME function is computable in any engine (DuckDB oracle:
  * `CAST(CONCAT('0x', SUBSTRING(MD5(x),1,15)) AS BIGINT)`), while Spark
  * evaluates it codegen'd via built-in `md5`/`conv`.
  *
  * For internal (non-oracle) hashing at scale prefer `xxhash64` — cheaper.
  */
object Portable {
  /** 60-bit non-negative hash of a string column; portable across engines. */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** DuckDB SQL rendering of [[hash60]] over an SQL expression string. */
  def hash60Sql(expr: String): String =
    s"CAST(CONCAT('0x', SUBSTRING(MD5($expr),1,15)) AS BIGINT)"

  /** JVM-side twin of [[hash60]] — for spec recounts and stateful
    * streaming code that hashes outside Catalyst. */
  def hash60Long(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16)
  }

  /** hash60 pmod n — partition bucket. */
  def bucket(c: Column, n: Int): Column = pmod(hash60(c), lit(n.toLong))

  def bucketSql(expr: String, n: Int): String = s"(${hash60Sql(expr)} % $n)"

  /** Floor division `num / den` for a positive `den`, in the
    * exact-multiple form `div(num - pmod(num, den), den)`: the
    * numerator is made a multiple of `den` first, where flooring and
    * truncating division agree, so the result matches the oracle's
    * `(num - ((num % den + den) % den)) // den` under DuckDB's
    * truncating `//` for negative numerators too. */
  def floorDiv(num: Column, den: Column): Column =
    call_function("div", num - pmod(num, den), den)
}
