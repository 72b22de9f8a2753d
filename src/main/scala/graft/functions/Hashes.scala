package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable hash primitives used by the dedup /
  * fingerprint operators (SURVEY.md §2c).
  *
  * Everything here is expressed twice from one definition: as a Spark
  * `Column` tree (higher-order functions — `transform` / `aggregate` /
  * `filter`, no UDFs) and as the equivalent DuckDB SQL string for the
  * correctness oracle. The higher-order functions are interpreted
  * (CodegenFallback), not whole-stage-codegen'd; the hot per-row paths
  * use the native kernels [[Tokens]], [[WordShingles]] and
  * [[ShingleHash]] instead. The arithmetic is
  * integer-exact (mod 2^31−1 fits in int64 at every intermediate step)
  * so both engines produce bit-identical values under any partitioning.
  *
  * Scale: each function is a per-row projection — no shuffle, fused
  * into whatever consumes it; at 100 TB these run as map-only stages.
  */
object Hashes {

  /** Modulus: 2^31 − 1 (prime). acc*B + c < 2^39 — no int64 overflow. */
  val M: Long = 2147483647L
  /** Polynomial base. */
  val B: Long = 131L
  /** MinHash permutation count (4 bands × 4 rows). */
  val NumHashes: Int = 16
  val NumBands: Int = 4
  val RowsPerBand: Int = NumHashes / NumBands

  /** a_j (odd) and b_j for the j-th MinHash permutation h_j(x) = (a_j·x + b_j) mod M. */
  def minhashA(j: Int): Long = 2L * j + 1
  def minhashB(j: Int): Long = 1L * j * j + 13

  // ---------------------------------------------------------------- Spark side

  /** Unicode code points of a string as array<bigint> (ASCII corpus). */
  def charCodes(s: Column): Column =
    transform(split(s, ""), c => ascii(c).cast("long"))

  /** Left-fold polynomial hash of an integer array: fold₀ (acc·B + x) mod M. */
  def polyHash(arr: Column): Column =
    aggregate(arr, lit(0L), (acc, x) => (acc * B + x) % M)

  /** Distinct polynomial hashes of the char k-grams, given the code
    * points of the text (compute [[charCodes]] ONCE into its own
    * column first — HOFs are interpreted, so Catalyst CSE won't dedupe
    * a repeated expensive subtree; a multi-Project staging keeps each
    * array materialized per row). O(len·k) integer ops, no shuffle. */
  def shingleHashesFromCodes(codes: Column, k: Int): Column =
    array_distinct(
      transform(sequence(lit(1), greatest(size(codes) - (k - 1), lit(1))),
        i => aggregate(slice(codes, i, lit(k)), lit(0L), (acc, x) => (acc * B + x) % M)))

  /** MinHash signature (array of NumHashes mins) over a distinct-hash array. */
  def minhashSig(hashes: Column): Column =
    array((0 until NumHashes).map { j =>
      array_min(transform(hashes, h => (h * minhashA(j) + minhashB(j)) % M))
    }: _*)

  /** LSH band signatures: polynomial hash of each band's RowsPerBand minhashes. */
  def bandSigs(sig: Column): Column =
    array((0 until NumBands).map { b =>
      (0 until RowsPerBand).foldLeft(lit(0L)) { (acc, r) =>
        (acc * B + element_at(sig, b * RowsPerBand + r + 1)) % M
      }
    }: _*)

  // ---------------------------------------------------------------- DuckDB side

  /** DuckDB: code points of `s` as BIGINT list. */
  def charCodesSql(s: String): String =
    s"list_transform(string_split($s, ''), c -> CAST(ascii(c) AS BIGINT))"

  /** DuckDB: same left-fold polynomial hash (explicit init via prepend). */
  def polyHashSql(arr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), $arr), (acc, x) -> (acc * $B + x) % $M)"

  /** DuckDB: distinct char-k-gram hashes from a code-point list column. */
  def shingleHashesFromCodesSql(codes: String, k: Int): String =
    s"list_distinct(list_transform(generate_series(1, greatest(len($codes) - ${k - 1}, 1)), i -> ${polyHashSql(s"list_slice($codes, i, i + ${k - 1})")}))"

  /** DuckDB: MinHash signature list. */
  def minhashSigSql(hashes: String): String =
    (0 until NumHashes).map { j =>
      s"list_min(list_transform($hashes, h -> (h * ${minhashA(j)} + ${minhashB(j)}) % $M))"
    }.mkString("[", ", ", "]")

  /** DuckDB: LSH band signature list (sig is 1-indexed). */
  def bandSigsSql(sig: String): String =
    (0 until NumBands).map { b =>
      (0 until RowsPerBand).foldLeft("CAST(0 AS BIGINT)") { (acc, r) =>
        s"(($acc) * $B + ($sig)[${b * RowsPerBand + r + 1}]) % $M"
      }
    }.mkString("[", ", ", "]")

  /** DuckDB: 32-bit SimHash (list_sum of ±1 per bit — integer-exact,
    * order-independent, identical to the Spark fold). */
  def simhash32Sql(hashes: String): String =
    (0 until 32).map { i =>
      s"(CASE WHEN list_sum(list_transform($hashes, h -> ((h >> $i) & 1) * 2 - 1)) > 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("(", " + ", ")")
}
