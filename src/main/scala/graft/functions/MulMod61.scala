package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** The engine's portable universal-hash family over the Mersenne prime
  * p = 2^61 − 1: a polynomial rolling hash maps bytes (or longs) into
  * [0, p), and `h_i(x) = (a_i·x + b_i) mod p` gives k pairwise-
  * independent permutations — the textbook Broder MinHash construction.
  *
  * Why this family and not an xxhash64 chain (round 2's choice): every
  * operation here — HUGEINT multiply, add, mod — is exactly expressible
  * in ANSI-ish SQL, so the DuckDB correctness gate can recompute MinHash
  * signatures, LSH band keys, and SimHash signatures value-for-value.
  * That turns the production dedup/fingerprint queries themselves (q34/
  * q36/q37/q67) into oracle-checked rows instead of rows-only checks,
  * while staying a tight JVM loop inside codegen'd expressions: `mulmod`
  * is one `Math.multiplyHigh` plus shifts (Mersenne reduction), ~2 ns.
  *
  * Parity contract (asserted in FunctionsSpec, exercised end-to-end by
  * the driver gate): for inputs in [0, p), Scala `mulmod`/`affine`/
  * `polyHash61` equal DuckDB `(a::HUGEINT * x + b) % p` and
  * `list_reduce(list_prepend(0::HUGEINT, bytes), (h,b) -> (h*B + b) % p)`
  * — the SQL fragments are generated HERE (`sqlPh61` etc.) so the two
  * sides share one definition.
  */
object MulMod61 {

  /** 2^61 − 1, prime. Doubles as the low-61-bit mask. */
  val P: Long = (1L << 61) - 1

  /** Polynomial base (same as [[PolyHash]]; < 2^20 so h·B < 2^81). */
  val B: Long = 1000003L

  /** `(a * x) mod p` for a, x in [0, 2^61): 128-bit product via
    * multiplyHigh, then Mersenne fold (2^61 ≡ 1 mod p).
    */
  @inline def mulmod(a: Long, x: Long): Long = {
    val hi = Math.multiplyHigh(a, x)
    val lo = a * x
    val z0 = lo & P
    val z1 = (lo >>> 61) | (hi << 3)
    var s = z0 + z1
    if (s >= P) s -= P
    if (s >= P) s -= P
    s
  }

  /** Affine step `(a·x + b) mod p`; a, b, x in [0, p). */
  @inline def affine(a: Long, b: Long, x: Long): Long = {
    var s = mulmod(a, x) + b
    if (s >= P) s -= P
    s
  }

  /** Rolling hash of UTF-8 bytes into [0, p): h ← (h·B + byte) mod p. */
  def polyHash61(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = mulmod(h, B) + (bytes(i) & 0xffL)
      if (h >= P) h -= P
      i += 1
    }
    h
  }

  /** Rolling hash of a long sequence (LSH band keys over signature
    * slices): h ← (h·B + v) mod p. Values must be in [0, 2^61).
    */
  def polyHash61Longs(vs: Array[Long], from: Int, until: Int): Long = {
    var h = 0L
    var i = from
    while (i < until) {
      var s = mulmod(h, B) + vs(i)
      if (s >= P) s -= P
      h = s
      i += 1
    }
    h
  }

  /** The k=64 affine-family constants, fixed by a seeded spec-stable PRNG
    * (java.util.Random's algorithm is part of its Javadoc contract).
    * `ha(i) ∈ [1, p−1]`, `hb(i) ∈ [0, p−1]`. Inlined as literals into the
    * generated oracle SQL.
    */
  val MaxK = 64
  val (ha, hb): (Array[Long], Array[Long]) = {
    val rnd = new java.util.Random(20260812L)
    val as = Array.fill(MaxK)((rnd.nextLong() & Long.MaxValue) % (P - 1) + 1)
    val bs = Array.fill(MaxK)((rnd.nextLong() & Long.MaxValue) % P)
    (as, bs)
  }

  /** Token-hash constants for SimHash (independent of the MinHash family
    * so signature bits don't correlate with minima).
    */
  val (tokA, tokB): (Long, Long) = {
    val rnd = new java.util.Random(20260813L)
    ((rnd.nextLong() & Long.MaxValue) % (P - 1) + 1,
      (rnd.nextLong() & Long.MaxValue) % P)
  }

  // ------------------------------------------------------------------
  // DuckDB SQL fragments — the oracle side of the parity contract.

  /** SQL: the UTF-8 BYTE values of a VARCHAR expression as a HUGEINT
    * list, in byte order. `hex(encode(e))` materializes the UTF-8
    * encoding as fixed-width uppercase hex (evaluated ONCE — it is an
    * argument to `regexp_extract_all`, not re-evaluated per element),
    * `'..'` splits it into per-byte pairs in O(n), and the strpos
    * arithmetic decodes each pair to its numeric value. This is what
    * makes every hash oracle BYTE-TRUE: the Scala side folds
    * `getBytes("UTF-8")`, so the oracle must fold the same bytes — an
    * `ord()`-per-char replay only agrees on pure-ASCII text (the r7
    * silent coupling, closed in r8).
    */
  def sqlUtf8Bytes(e: String): String =
    s"""list_transform(regexp_extract_all(hex(encode($e)), '..'),
       |  p -> ((strpos('0123456789ABCDEF', substr(p, 1, 1)) - 1) * 16
       |      + (strpos('0123456789ABCDEF', substr(p, 2, 1)) - 1))::HUGEINT)""".stripMargin

  /** SQL: polyHash61 of a VARCHAR expression — folds UTF-8 BYTES
    * ([[sqlUtf8Bytes]]), matching [[polyHash61]] on any input, not just
    * ASCII.
    */
  def sqlPh61(e: String): String =
    s"""list_reduce(list_prepend(0::HUGEINT, ${sqlUtf8Bytes(e)}),
       |  (h, b) -> (h*$B + b) % $P)""".stripMargin

  /** SQL: polyHash61Longs of a HUGEINT-list expression. */
  def sqlPh61Longs(e: String): String =
    s"list_reduce(list_prepend(0::HUGEINT, $e), (h, v) -> (h*$B + v) % $P)"

  /** SQL: PolyHash (mod 2^64, signed) of a VARCHAR expression — the q32
    * fingerprint. Two's-complement conversion at the end matches the JVM
    * long overflow semantics of [[PolyHash]].
    */
  def sqlPh64Signed(e: String): String =
    s"""CAST((CASE WHEN h64 >= 9223372036854775808 THEN h64 - 18446744073709551616 ELSE h64 END) AS BIGINT)"""
      .replace("h64",
        s"""(list_reduce(list_prepend(0::HUGEINT, ${sqlUtf8Bytes(e)}),
           |  (h, b) -> (h*${PolyHash.Base} + b) % 18446744073709551616::HUGEINT))""".stripMargin)

  /** SQL: the first k (a_i, b_i) constants as literal lists. */
  def sqlHaList(k: Int): String =
    ha.take(k).mkString("[", "::HUGEINT, ", "::HUGEINT]")
  def sqlHbList(k: Int): String =
    hb.take(k).mkString("[", "::HUGEINT, ", "::HUGEINT]")
}
