package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives, all built from codegen'd Catalyst
  * builtins (no Scala UDFs in the hot path — a UDF breaks whole-stage
  * codegen and predicate pushdown, which matters at 100 TB).
  *
  * Tokenization semantics mirror the reference's word-count application
  * (reference lib/mr_apps/word_count.ex:5-7): split on `[^a-zA-Z]` (any
  * non-letter delimits; digits/apostrophes split words), drop empties,
  * uppercase.
  */
object TextFunctions {

  /** Reference tokenizer: word_count.ex:5 `String.split(content, ~r{[^a-zA-Z]})`. */
  val TokenPattern = "[^a-zA-Z]"

  /** Array of raw (possibly empty) tokens. */
  def rawTokens(text: Column): Column = split(text, TokenPattern)

  /** Non-empty tokens, original case. */
  def tokens(text: Column): Column =
    filter(rawTokens(text), t => length(t) > 0)

  /** Reference word-count key: uppercased token (word_count.ex:7). */
  def upperTokens(text: Column): Column =
    transform(tokens(text), t => upper(t))

  /** Deterministic 32-bit unsigned hash from the first 8 hex chars of
    * md5 — chosen over Spark's murmur3 `hash()` because it is
    * reproducible in any engine (the DuckDB oracle computes the same
    * value via `('0x'||substr(md5(s),1,8))::BIGINT`), making MinHash
    * signatures differentially testable. Computed by a native codegen
    * expression straight from the digest bytes — the builtin
    * `conv(substring(md5(s),1,8),16,10)` form produces the same value
    * but pays a hex-string materialize + re-parse per row
    * ([[org.apache.spark.sql.graft.HashExpressions]]).
    */
  def md5Hash32(s: Column): Column =
    org.apache.spark.sql.graft.HashExpressions.md5Prefix32Col(s)

  /** Normalization used for exact dedup: trim + lowercase. */
  def normalized(text: Column): Column = lower(trim(text))

  /** Character k-shingles as an array column: substring(text, i, k) for
    * i in [1, len-k+1]. Native codegen expression — the builtin
    * sequence+transform+substr form re-scans the UTF-8 prefix per
    * shingle (O(len²)/doc) and evaluates interpreted.
    */
  def charShingles(text: Column, k: Int): Column =
    org.apache.spark.sql.graft.TextShingleExpressions.charShinglesCol(text, k)

  /** Simple rolling polynomial fingerprint over the whole document:
    * h = (h * 31 + codepoint) mod 1_000_000_007 — a native codegen'd
    * expression ([[ArrayMathExpressions.RollingHashExpr]]); one pass over
    * the string, no per-char array materialization. The DuckDB oracle
    * replicates it with list_reduce over ord(substr(...)).
    */
  def rollingFingerprint(text: Column): Column =
    org.apache.spark.sql.graft.ArrayMathExpressions.rollingHashCol(text)

  /** Second INDEPENDENT polynomial (base 131 mod 999999937) for
    * composite keys: pairing it with [[rollingFingerprint]] gives a
    * ~60-bit identity with both members portable to the oracle. (A
    * salt on the input does not achieve this — h(s+salt) is a function
    * of h(s), so colliding inputs still collide.)
    */
  def rollingFingerprint2(text: Column): Column =
    org.apache.spark.sql.graft.ArrayMathExpressions.rollingHashCol(text, 131L, 999999937L)

  /** Every length-`win` window's [[rollingFingerprint]] in one
    * Rabin-Karp pass (array of n−win+1 longs) — the stride-1 key maker
    * for exact-substring dedup; element i equals
    * rollingFingerprint(substr(text, i+1, win)).
    */
  def rollingWindowFingerprint(text: Column, win: Int): Column =
    org.apache.spark.sql.graft.ArrayMathExpressions.rollingWindowHashCol(text, win)

  /** [[rollingWindowFingerprint]] on [[rollingFingerprint2]]'s
    * independent polynomial, for composite window identity.
    */
  def rollingWindowFingerprint2(text: Column, win: Int): Column =
    org.apache.spark.sql.graft.ArrayMathExpressions.rollingWindowHashCol(
      text, win, 131L, 999999937L)

  /** Third independent polynomial (base 257 mod 999999893, prime) —
    * the ≥10^9-window escalation for composite window identity: the
    * two-polynomial key space (~9.2e17) hits birthday collisions
    * around 1e9 windows; a third factor pushes the birthday point
    * past 10^13 (see Dedup.substringDedup's exactness bound).
    */
  def rollingWindowFingerprint3(text: Column, win: Int): Column =
    org.apache.spark.sql.graft.ArrayMathExpressions.rollingWindowHashCol(
      text, win, 257L, 999999893L)
}
