package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-deterministic text hashing for dedup operators.
  *
  * Hash = first 15 hex chars of md5 (60 bits, fits signed 64) — the same
  * value DuckDB computes as ('0x' || substr(md5(x),1,15))::BIGINT, so
  * every derived sketch (MinHash, SimHash) is oracle-checkable exactly.
  *
  * All ops are built-in codegen'd expressions / higher-order functions —
  * no UDFs, no serialization off the Tungsten row.
  */
object TextHashing {

  /** MinHash universe prime (2^31 - 1). */
  val P: Long = 2147483647L

  /** 16 fixed universal-hash permutations (a*h + b) mod P. */
  val A: Seq[Long] = Seq(1L, 7L, 13L, 31L, 41L, 59L, 73L, 97L,
    113L, 131L, 151L, 179L, 199L, 227L, 241L, 269L)
  val B: Seq[Long] = Seq(0L, 3L, 11L, 19L, 29L, 37L, 53L, 61L,
    79L, 89L, 101L, 107L, 127L, 137L, 149L, 163L)

  val NumPerms = 16
  val Bands = 4
  val RowsPerBand = 4

  /** Powers of two 2^0..2^59 (literal array — Spark shift ops need
    * literal counts, and double pow() loses exactness past 2^53).
    */
  val Pow2: Seq[Long] = (0 until 60).map(1L << _)

  /** 60-bit md5-prefix hash of a string column. */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Tokens → distinct 3-token shingles (word n-grams). Docs with fewer
    * than 3 tokens yield an empty array — without the guard,
    * `sequence(1, size-2)` would produce a DESCENDING sequence (default
    * step -1) whose `element_at(tokens, 0)` errors under ANSI mode.
    */
  def shingles3(tokens: Column): Column =
    when(size(tokens) >= 3,
      array_distinct(transform(
        sequence(lit(1), size(tokens) - 2),
        i => concat_ws(" ", element_at(tokens, i),
          element_at(tokens, i + 1), element_at(tokens, i + 2)))))
      .otherwise(array().cast("array<string>"))

  /** Shingle array → array of 16 minhash values — the native one-pass
    * `minhash16` expression (functions.MinHash16), not 16 interpreted
    * `array_min(transform(...))` chains; callers must have registered
    * the session (`graft.GraftExtensions.register`; all do).
    */
  def minhash(shingleHashes: Column): Column =
    call_function("minhash16", shingleHashes)

  // SimHash lives in functions.SimHash60 (native codegen expression);
  // simhashSql below is the oracle's declarative spelling of the same
  // majority-vote math.

  // ---- DuckDB-oracle fragments (same constants, same math) -------------

  def hash60Sql(x: String): String =
    s"('0x' || substr(md5($x), 1, 15))::BIGINT"

  def minhashSqlArray(hs: String): String =
    (0 until NumPerms).map { j =>
      s"list_min(list_transform($hs, x -> (x * ${A(j)} + ${B(j)}) % $P))"
    }.mkString("[", ", ", "]")

  def simhashSql(hs: String): String = {
    val powArr = Pow2.mkString("[", ", ", "]")
    s"""list_sum(list_transform(generate_series(0, 59),
       b -> CASE WHEN 2 * len(list_filter($hs, h -> (h & $powArr[b+1]) > 0)) > len($hs)
                 THEN $powArr[b+1] ELSE 0 END))::BIGINT"""
  }
}
