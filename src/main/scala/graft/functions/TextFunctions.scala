package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis primitives for the training-data pipeline operators
  * (dedup, language-ID, quality scoring, fingerprinting).
  *
  * Cross-engine discipline: everything here is *integer* arithmetic
  * (polynomial rolling hashes, affine MinHash permutations, bit packing)
  * so the DuckDB oracle can replay it bit-for-bit — no library hash
  * function is shared between Spark and DuckDB, so we define our own in
  * pure SQL algebra on both sides.
  */
object TextFunctions {

  /** Modulus for all rolling hashes: 1e9+7 (fits 31*M + 255 well inside
    * a 64-bit signed range, so DuckDB's checked BIGINT math never traps).
    */
  val HashMod = 1000000007L

  /** MinHash permutation modulus (prime). */
  val MinhashMod = 2147483647L

  /** Polynomial rolling hash of a string: fold(h*31 + ascii(c)) mod M.
    * The reference's document fingerprint analog. Codegen kernel
    * ([[HashExpressions.polyHashFast]]); [[polyHashHof]] is the
    * HOF cross-check.
    */
  def polyHash(s: Column): Column = HashExpressions.polyHashFast(s)

  /** HOF formulation (CodegenFallback; guards against the trailing empty
    * element Java's split-on-empty-regex produces). Kept as the
    * cross-check oracle for the codegen kernel.
    */
  def polyHashHof(s: Column): Column =
    aggregate(
      filter(split(s, ""), c => c =!= ""),
      lit(0L),
      (acc, c) => pmod(acc * 31 + ascii(c), lit(HashMod)))

  /** The same fold as a DuckDB SQL fragment over expression `e`. */
  def polyHashSql(e: String): String =
    s"CASE WHEN length($e) = 0 THEN 0 ELSE list_reduce(" +
      s"list_prepend(CAST(0 AS BIGINT), list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT)))," +
      s" (acc, c) -> (acc * 31 + c) % $HashMod) END"

  /** Poly hash with an arbitrary multiplier (HOF form). A SALTED
    * 31-hash is NOT an independent second hash — hash('x|'+t) =
    * c(len)·K + hash(t) mod p, affine in hash(t) per length class (the
    * rendezvous-shard lesson), so same-length collisions survive the
    * salt. A different MULTIPLIER breaks the affine relation; 37 is
    * the audit partner of the 31 kernel.
    */
  def polyHashMul(s: Column, mul: Int): Column =
    aggregate(
      filter(split(s, ""), c => c =!= ""),
      lit(0L),
      (acc, c) => pmod(acc * mul + ascii(c), lit(HashMod)))

  /** DuckDB twin of [[polyHashMul]]. */
  def polyHashMulSql(e: String, mul: Int): String =
    s"CASE WHEN length($e) = 0 THEN 0 ELSE list_reduce(" +
      s"list_prepend(CAST(0 AS BIGINT), list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT)))," +
      s" (acc, c) -> (acc * $mul + c) % $HashMod) END"

  /** Whitespace tokens (single-space split — the corpus separator). */
  def tokens(text: Column): Column = split(text, " ")

  /** Greedy LEFT-TO-RIGHT non-overlapping application of one BPE merge
    * (l, r) over a token array — real BPE's overlap parity: "a a a"
    * under (a, a) yields ["a a", "a"]. A strict sequential fold, so the
    * DuckDB `list_reduce` twin resolves overlaps identically.
    */
  def bpeMergeApply(toks: Column, l: String, r: String): Column =
    aggregate(toks, array().cast("array<string>"),
      (acc, t) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(l) && t === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1),
          array(concat_ws(" ", element_at(acc, -1), t))))
        .otherwise(concat(acc, array(t))))

  /** Distinct n-token shingles, joined by a single space. Fewer than n
    * tokens → empty set (guarded: Spark's `sequence` runs DESCENDING when
    * stop < start, which would fabricate shingles).
    */
  def shingles(toks: Column, n: Int): Column =
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => array_join(slice(toks, i, lit(n)), " ")))
        .otherwise(array().cast("array<string>")))

  /** DuckDB fragment for the same shingling over a token-list column. */
  def shinglesSql(toksExpr: String, n: Int): String =
    s"list_distinct(list_transform(range(1, greatest(len($toksExpr) - ${n - 2}, 1)), " +
      s"i -> array_to_string(list_slice($toksExpr, i, i + ${n - 1}), ' ')))"

  /** Affine MinHash permutation seeds (a, b) — fixed, shared with the
    * oracle. a odd to be a bijection-ish mix mod the prime.
    */
  val MinhashSeeds: Seq[(Long, Long)] = Seq(
    (1000003L, 12345L), (999983L, 54321L), (824633L, 98765L), (715827L, 19283L),
    (614657L, 56789L), (524287L, 13579L), (433494L, 24680L), (362880L, 97531L))

  /** (a*h + b) mod p for one permutation. */
  def minhashPerm(h: Column, a: Long, b: Long): Column =
    pmod(h * a + b, lit(MinhashMod))

  def minhashPermSql(hExpr: String, a: Long, b: Long): String =
    s"(($hExpr * $a + $b) % $MinhashMod)"
}
