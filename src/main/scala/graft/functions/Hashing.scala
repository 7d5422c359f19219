package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Cross-engine deterministic hash primitives.
  *
  * The correctness oracle (DuckDB) must reproduce every hash-derived
  * result bit-for-bit, so all sketch operators (MinHash, SimHash,
  * fingerprints, LSH bucketing) are built on MD5 — available and
  * identical in Spark and DuckDB — rather than on engine-private hashes
  * (Spark murmur3 `hash()` vs DuckDB `hash()` differ).
  *
  * A salted 60-bit hash: take the first 15 hex chars of
  * `md5(salt || ':' || s)` and parse as base-16. 15 hex digits = 60 bits,
  * always non-negative, fits a BIGINT in both engines.
  *
  * DuckDB equivalent of [[md5Long]]:
  * {{{ CAST(concat('0x', substr(md5(concat(<salt>, ':', s)), 1, 15)) AS BIGINT) }}}
  *
  * Scale note: md5 is not codegen-free but is a built-in Catalyst
  * expression evaluated inside WholeStageCodegen; at 100 TB the sketch
  * pass is one linear scan, no shuffle until the band/bucket groupBy.
  */
object Hashing {

  /** 60-bit salted hash of a string column (non-negative). */
  def md5Long(c: Column, salt: Int): Column =
    conv(substring(md5(concat(lit(salt.toString), lit(":"), c)), 1, 15), 16, 10)
      .cast(LongType)

  /** DuckDB SQL text for the same hash, for oracle assembly. */
  def md5LongSql(expr: String, salt: Int): String =
    s"CAST(concat('0x', substr(md5(concat('$salt', ':', $expr)), 1, 15)) AS BIGINT)"
}
