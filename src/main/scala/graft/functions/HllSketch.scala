package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Mergeable HyperLogLog distinct-count sketch (Flajolet-Fuchs-Gandouet-
  * Meunier, AofA 2007) — the industry-standard fixed-size cardinality
  * estimator, next to [[KmvSketch]]: KMV keeps the k smallest hash
  * VALUES (state grows with k, estimator unbiased), HLL keeps only the
  * max leading-zero RANK per register (m=2^p small ints, merge =
  * element-wise max) — the shape every production engine ships because
  * a 256-long register array summarizes ANY cardinality with ~1.04/√m
  * relative error.
  *
  * Register state is a pure function of the input SET: each register is
  * a MAX over per-key ranks, so row order, duplicates, partitioning, and
  * the merge tree are all invisible — like [[KmvSketch]]/[[CountMin]],
  * which is what lets the sketch sit under the exact hash-equality
  * oracle gate (q140: DuckDB rebuilds the identical registers
  * relationally via GROUP BY bucket, max(rank)).
  *
  * Hashing: the MulMod61 polyhash∘affine family that serves every
  * equality-flavored sketch here is NOT good enough for HLL — its rank
  * statistic reads the geometric tail of the hash distribution, and
  * measured on consecutive-integer key strings the affine family's tail
  * bias inflated estimates +24-34% (vs ±5% on true uniforms; three id
  * offsets tried, all high — the q136 "bare affine draw" lesson, one
  * level up). So keys hash through md5 — the q48/q56 engine-portability
  * trick — taking 15 hex chars as a uniform 60-bit integer: perfect
  * avalanche, identical text on both engines, and the same measured
  * accuracy as true uniforms (±4% beyond n≈5k at m=256).
  *
  * Estimator determinism: the harmonic sum Σ 2^(−M[j]) is IEEE-order-
  * dependent as doubles, so it is folded as the EXACT INTEGER
  * Σ 2^(WBits+1−M[j]) (every term a power of two; ≤ m·2^(WBits+1) =
  * 2^61 fits a long), leaving one literal-derived constant chain and
  * one IEEE division — identical on both engines. The small-range
  * linear-counting correction m·ln(m/V) is one libm call per GROUP (not
  * per row): it goes through [[MathLn]] micro-nat quantized, the
  * q89/q90 convention.
  *
  * As an `Aggregator` it gets map-side partial aggregation: one 2 KB
  * register array per partition per group crosses the shuffle — the
  * fixed-size summary that replaces a corpus-sized exact COUNT(DISTINCT)
  * shuffle at 100 TB.
  */
object HllSketch {

  /** Precision: m = 2^Prec registers (relative error ~1.04/√m ≈ 6.5%). */
  val Prec = 8
  val M: Int = 1 << Prec

  /** Hash-domain bits: 15 md5 hex chars = 60 uniform bits. */
  val HashBits = 60

  /** Rank-domain width: hash bits left after the register index. A hash
    * in [0, 2^60) splits into bucket = ph mod m and w = ph div m
    * < 2^WBits; rank = WBits+1 − bitlen(w) ∈ [1, WBits+1], so registers
    * hold [0 (empty), WBits+1] and the scaled term 2^(WBits+1−M[j])
    * spans [1, 2^(WBits+1)] — summed over m registers ≤ 2^61, exact in
    * a long.
    */
  val WBits: Int = HashBits - Prec

  /** The 60-bit md5 key hash as a Column (Spark side): md5 over the
    * string's UTF-8 bytes, first 15 hex chars parsed base-16. NULL
    * propagates — coalesce to the -1 sentinel at the call site.
    */
  def hash60(key: Column): Column = {
    import org.apache.spark.sql.functions.{conv, md5, substring}
    conv(substring(md5(key.cast("binary")), 1, 15), 16, 10).cast("long")
  }

  /** DuckDB replay of [[hash60]] over a VARCHAR expression: same md5
    * (lowercase hex over UTF-8 bytes on both engines), same 15 chars,
    * parsed by an explicit base-16 fold (DuckDB has no conv()).
    */
  def sqlHash60(e: String): String =
    s"""list_reduce(list_prepend(0::HUGEINT,
       |  list_transform(regexp_extract_all(substr(md5($e), 1, 15), '.'),
       |    c -> (strpos('0123456789abcdef', c) - 1)::HUGEINT)),
       |  (h, d) -> h * 16 + d)""".stripMargin

  /** Driver-side twin of [[hash60]] for tests. */
  def hash60Of(key: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Driver-side rank of a pre-hashed key (tests + the oracle contract):
    * leading-zero count of the high bits within WBits, plus one.
    */
  def rankOf(ph: Long): Int = {
    val w = ph / M
    if (w == 0) WBits + 1
    else WBits + 1 - (64 - java.lang.Long.numberOfLeadingZeros(w))
  }

  class Agg extends Aggregator[Long, Array[Long], Array[Long]] {

    override def zero: Array[Long] = new Array[Long](M)

    override def reduce(buf: Array[Long], ph: Long): Array[Long] = {
      // negative input is the caller's null sentinel (nullable key
      // coalesced to -1): skipped, so NULLs neither crash the
      // non-nullable UDAF path nor count (COUNT(DISTINCT) semantics)
      if (ph >= 0) {
        val bucket = (ph % M).toInt
        val r = rankOf(ph)
        if (r > buf(bucket)) buf(bucket) = r
      }
      buf
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = maxInto(a, b)

    override def finish(buf: Array[Long]): Array[Long] = buf
    override def bufferEncoder: Encoder[Array[Long]] = SketchAggs.LongArrayEnc
    override def outputEncoder: Encoder[Array[Long]] = SketchAggs.LongArrayEnc
  }

  /** The register merge: element-wise max of `b` into `a`, over their
    * common length — a register array shorter than m (the empty zero)
    * folds as all-empty registers.
    */
  private def maxInto(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  /** Column function: `hll(hashCol)` usable in `agg(...)` — yields the
    * m-long register array. For a nullable key, pass
    * `coalesce(hash60(key), lit(-1L))` (negative inputs skipped).
    */
  def hll(hash: Column): Column =
    udaf(new Agg, Encoders.scalaLong).apply(hash)

  /** Column function: `hllMerge(regsCol)` — the rollup fold over a
    * column of register arrays produced by [[hll]]: element-wise max,
    * `union of sketches == sketch of union`, the mergeability that makes
    * HLL a rollup primitive (merge per-day / per-source sketches into a
    * global one WITHOUT revisiting rows; q142 proves the equality under
    * the oracle). NULL rows are skipped, and arrays shorter than m (the
    * empty zero) fold as all-empty registers.
    */
  def hllMerge(regs: Column): Column =
    SketchAggs.mergeAgg(regs, () => new Array[Long](M), maxInto)

  /** Spark-SQL fragment: the exact-integer scaled harmonic sum
    * Σ 2^(WBits+1−M[j]) over a register-array column named `c` — every
    * term a power of two, so the fold is order-independent and
    * overflow-free (≤ 2^61); the oracle replays it with BIGINT shifts.
    * (A fragment, not a Column: `shiftleft` with an expression bit-count
    * only exists in the SQL surface.)
    */
  def sumSql(c: String): String =
    s"aggregate(transform($c, r -> shiftleft(1L, ${WBits + 1} - cast(r as int))), " +
      "0L, (a, x) -> a + x)"

  /** Spark-SQL fragment: count of still-empty registers in array column
    * `c` — drives the small-range linear-counting branch.
    */
  def zerosSql(c: String): String = s"size(filter($c, r -> r = 0))"

  /** 2^(WBits+1) as an exact double literal (integer < 2^63, exactly
    * representable) — shared by both engines' estimate expressions.
    */
  val ScaleLit: String = BigInt(2).pow(WBits + 1).toString + ".0"

  /** SQL fragment (valid in BOTH Spark and DuckDB dialects): the raw HLL
    * estimate α_m·m²·2^(WBits+1) / scaledSum from a BIGINT sum column —
    * the constant chain is literal-derived with one fixed association
    * order, then ONE division, so both engines compute bit-identical
    * doubles. Every literal is explicitly CAST to DOUBLE first: a bare
    * `0.7213` parses as DECIMAL on BOTH engines, and their decimal
    * division rules differ (caught by the q140 gate on first run — the
    * folded constant diverged in the 9th digit).
    */
  def estRawSql(sumCol: String): String =
    s"(((CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) " +
      s"+ CAST(1.079 AS DOUBLE) / CAST($M AS DOUBLE))) " +
      s"* CAST(${M.toLong * M} AS DOUBLE)) * CAST($ScaleLit AS DOUBLE)) " +
      s"/ CAST($sumCol AS DOUBLE)"
}
