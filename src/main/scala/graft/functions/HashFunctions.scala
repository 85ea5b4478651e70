package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, cross-engine-reproducible hashing primitives for the
  * dedup/fingerprint operators.
  *
  * Everything is built on md5 hex (identical in every engine) rather than
  * engine-native hash functions (Spark's `hash`/`xxhash64` and DuckDB's
  * `hash` differ), so the DuckDB oracle can mirror each operator exactly:
  * Spark `conv(substring(md5(x),1,8),16,10)` == DuckDB
  * `CAST('0x'||substr(md5(x),1,8) AS BIGINT)`.
  */
object HashFunctions {

  /** Large prime for permutation hashing (fits comfortably in a long). */
  val P: Long = 2147483647L // 2^31 - 1
  /** Modulus for the rolling fingerprint. */
  val FP_MOD: Long = 1000000007L

  /** First 32 bits of md5 as an unsigned value in a long: [0, 2^32). */
  def h32(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long")

  /** i-th member of the permutation-hash family over an already-hashed
    * value: (a_i * h + b_i) mod P. Coefficients are small odd literals so
    * the oracle SQL can inline the same numbers. */
  def permA(i: Int): Long = 37L * i + 11L
  def permB(i: Int): Long = 101L * i + 7L
  def permHash(i: Int, h: Column): Column =
    (h * permA(i) + permB(i)) % P

  /** Rolling polynomial fingerprint of an array of longs (order-sensitive):
    * fold h = (h*31 + x) mod FP_MOD, left-to-right from 0. */
  def rollingFingerprint(hashes: Column): Column =
    aggregate(hashes, lit(0L), (acc, x) => (acc * 31L + x) % FP_MOD)
}
