package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Reusable text/vector column builders. All pure built-in higher-order
  * functions (`transform`/`aggregate`/`zip_with`) — codegen'd, no UDFs, so
  * they stay inside whole-stage codegen on the 100 TB path and are exactly
  * reproducible in the DuckDB oracle.
  */
object TextFunctions {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Distinct word k-shingles ("a b c" style) of a [[tokens]] column.
    * Pass the tokens as a projected column, not as `tokens(text)`: the
    * lambda reads them once per shingle element, and an inline
    * expression would re-split the text for each read. Guarded: Spark's
    * `sequence` runs DESCENDING when stop < start, so short docs must
    * short-circuit to an empty array rather than produce a reversed range.
    */
  def shingles(t: Column, k: Int): Column = {
    val idx = sequence(lit(1), size(t) - lit(k - 1))
    array_distinct(
      when(size(t) >= k,
        transform(idx, i => concat_ws(" ", (0 until k).map(j => element_at(t, i + lit(j))): _*)))
        .otherwise(array().cast("array<string>")))
  }

  /** Distinct rolling character n-grams (for rolling-hash fingerprints). */
  def charGrams(text: Column, n: Int): Column =
    array_distinct(
      when(length(text) >= n,
        transform(sequence(lit(1), length(text) - lit(n - 1)),
          i => text.substr(i, lit(n))))
        .otherwise(array().cast("array<string>")))

  /** Jaccard similarity of two (distinct-element) string arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** 32-bit hash per shingle: first 8 hex chars of md5 parsed as an
    * unsigned int (exactly `('0x'||substr(md5(x),1,8))::BIGINT` in the
    * DuckDB oracle). Computed ONCE per shingle — every minhash permutation
    * reuses it, so signature generation costs 1 md5 + k multiply-mods
    * instead of k md5 passes.
    */
  def hash32(shingleArr: Column): Column =
    transform(shingleArr, x => conv(substring(md5(x), 1, 8), 16, 10).cast("long"))

  /** Prime > 2^32 for the affine permutation family. */
  val MinhashPrime: Long = 4294967311L

  /** Permutation coefficients: odd multiplier < 2^21 (so a·h < 2^53 — no
    * long overflow on either engine) and offset < P, both derived from
    * fixed Knuth multiplicative constants. Deterministic, literal on both
    * the Spark and oracle side.
    */
  def permA(j: Int): Long = ((0x9E3779B1L * (j + 1)) % 1048573L) * 2 + 1
  def permB(j: Int): Long = (0x85EBCA6BL * (j + 1)) % MinhashPrime

  /** MinHash value for permutation `j` over pre-hashed shingles:
    * min over shingles of (a_j·h + b_j) mod P.
    */
  def minhash(hashArr: Column, j: Int): Column =
    array_min(transform(hashArr, h => (h * permA(j) + permB(j)) % MinhashPrime))

  /** Cast a float array to double BEFORE any arithmetic — float32→double
    * widening is exact, so Spark and the oracle do identical double math.
    */
  def toDouble(arr: Column): Column = transform(arr, x => x.cast("double"))

  /** Sequential-fold dot product of two double arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** L2 norm of a double array. */
  def l2norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  /** Cosine similarity of two float-array columns. */
  def cosine(a: Column, b: Column): Column = {
    val ad = toDouble(a); val bd = toDouble(b)
    dot(ad, bd) / (l2norm(ad) * l2norm(bd))
  }
}
