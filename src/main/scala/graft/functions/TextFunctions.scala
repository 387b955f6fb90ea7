package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions._

import graft.plans.Tokens

/** Column-level text primitives shared by the word-count parity query and the
  * LLM-pipeline operators (dedup / text analysis).
  *
  * Tokenization reproduces the reference's `wc::map`
  * (/root/reference/src/mr/function.rs:9-16): strip non-word, non-space
  * characters, split on whitespace, drop empty tokens, and do NOT
  * lowercase. There is one tokenizer kernel, [[graft.plans.TokensAlgo]]:
  * [[tokens]] runs it as a Catalyst expression and
  * `graft.mr.MapReduce.wordCountMap` runs it on a JVM string, so the
  * Column and typed paths share one definition of `wc::map`. The regex
  * `s.replaceAll("(?U)[^\\w\\s]+", "").split("\\s+").filter(_.nonEmpty)`
  * is kept only as that kernel's definition (and as the test oracle); the
  * `(?U)` flag makes Java's `\w` Unicode-aware to match Rust-regex
  * semantics (SURVEY.md §7.4-1).
  *
  * Everything here is a pure `Column` expression — codegen'd by Tungsten,
  * no Scala UDF in the hot path, so whole-stage codegen spans stay wide.
  */
object TextFunctions {

  /** Tokens of `c` after punctuation strip; empty tokens removed
    * (`array<string>`, no null elements; null for a null input). Array
    * stays row-local — no explode, no shuffle. */
  def tokens(c: Column): Column = column(Tokens(expression(c)))

  /** Word n-gram shingles over a MATERIALIZED token-array column ("a b c"
    * for n=3; slice is 1-based). `toks` must be a plain column reference:
    * the slice inside the lambda evaluates its array argument once per
    * shingle index, so passing the raw `tokens(text)` expression here
    * would re-run the tokenizer O(len) times per row. */
  def wordShinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - lit(n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))

  /** Convenience form for small inputs/tests — tokenizes inline (and pays
    * the per-index re-evaluation; use wordShinglesFromTokens in operators). */
  def wordShingles(c: Column, n: Int): Column =
    wordShinglesFromTokens(tokens(c), n)

  /** Character n-grams of the raw string (for Jaccard near-dup). */
  def charNGrams(c: Column, n: Int): Column =
    when(length(c) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), length(c) - lit(n - 1)),
        i => c.substr(i, lit(n))))

  /** 32-bit base hash of a string: unsigned value of the first 8 hex chars
    * of its md5. Engine-portable — DuckDB computes the identical value via
    * `CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)`. */
  def md5Base32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Mersenne prime modulus for the MinHash permutation family. */
  val MinhashP: Long = 2147483647L

  /** Odd multipliers / offsets for the k universal-hash permutations
    * h_i(x) = (a_i * x + b_i) mod P. a_i < 2^27 and x < 2^31 keep every
    * product inside 63 bits — no overflow on either engine. */
  val MinhashA: Seq[Long] = Seq(1299721L, 15485863L, 32452843L, 49979687L,
    67867967L, 86028121L, 104395301L, 122949823L)
  val MinhashB: Seq[Long] = Seq(7L, 5003L, 9973L, 14983L,
    20011L, 25013L, 30011L, 35023L)

  /** Base-hash array for a string array: ONE md5 per element; the k
    * signature mins are then cheap linear permutations of these bases
    * (classic universal-hash MinHash — 8× less hashing than k md5 passes). */
  def minhashBases(elems: Column): Column =
    transform(elems, e => md5Base32(e) % MinhashP)

  /** MinHash signature element i over a precomputed base array. */
  def minhashFromBases(bases: Column, i: Int): Column =
    array_min(transform(bases,
      b => (lit(MinhashA(i)) * b + lit(MinhashB(i))) % MinhashP))

  /** Full k-element MinHash signature as an array<long>. */
  def minhashSignature(elems: Column, k: Int): Column = {
    require(k <= MinhashA.length, s"at most ${MinhashA.length} permutations defined")
    val bases = minhashBases(elems)
    array((0 until k).map(i => minhashFromBases(bases, i)): _*)
  }
}
