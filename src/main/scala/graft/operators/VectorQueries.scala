package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.CosineSim.cosineFused
import graft.functions.HyperplaneBucket.hyperplaneBucketFused
import graft.functions.IntDot.intDot
import graft.functions.VectorFunctions._

/** Similarity search over the `embeddings` table (ArrayType(FloatType),
  * 64-dim). Brute-force cosine top-k is the exact baseline (and the
  * within-bucket kernel at scale); hyperplane-LSH bucketing and IVF
  * cells are the approximate scale paths that replace the O(n·q) cross
  * join with a bucket/cell-key shuffle. Vector math uses the fused
  * codegen expressions ([[graft.functions.CosineSim]] /
  * [[graft.functions.HyperplaneBucket]] / [[graft.functions.IntDot]]) —
  * bit-identical to the declarative HOF left-fold forms in
  * [[graft.functions.VectorFunctions]] (FunctionsSpec asserts it) but
  * inside whole-stage codegen instead of interpreted lambdas.
  *
  * Every query here is DuckDB-oracle-checked, including the approximate
  * ones: q41's hyperplane weights are deterministic `pmod(xxhash64(...),
  * 1e6)/1e6 − 0.5` values inlined into the oracle SQL as exact
  * rational expressions, and q43's coarse quantizer runs on
  * `floor(x·1000 + 0.5)` integers so its k-means is order-independent
  * and replayable CTE-for-stage in DuckDB.
  */
object VectorQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** DuckDB expression for the same left-fold dot product. */
  private def duckDot(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"

  private def duckNorm(a: String): String =
    s"sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

  // ------------------------------------------------------------------
  // q41 oracle support: replay HyperplaneBucket's weight derivation
  // (same XXH64 chain as the fused expression) and emit each weight as
  // the exact rational `r/1000000.0 - 0.5` so DuckDB computes the very
  // same doubles.

  private val Dims = 64

  private def planeWeightsSql(nPlanes: Int, seed: Int): Seq[String] =
    (0 until nPlanes).map { p =>
      var hp = XXH64.hashInt(seed, 42L)
      hp = XXH64.hashInt(p, hp)
      (0 until Dims).map { i =>
        val h = XXH64.hashInt(i, hp)
        var r = h % 1000000L
        if (r < 0) r += 1000000L // Spark pmod
        s"($r/1000000.0 - 0.5)"
      }.mkString("[", ", ", "]")
    }

  /** DuckDB expression for the signed-hyperplane bucket id of `vecExpr`:
    * per plane, the left-fold projection against the inlined weight
    * list; sign bits packed little-endian — exactly
    * [[graft.functions.HyperplaneBucket.compute]].
    */
  private def duckBucket(vecExpr: String, nPlanes: Int, seed: Int): String =
    planeWeightsSql(nPlanes, seed).zipWithIndex.map { case (wl, p) =>
      s"""(CASE WHEN list_sum(list_transform(list_zip($vecExpr, $wl),
         |  pr -> CAST(pr[1] AS DOUBLE) * pr[2])) >= 0 THEN ${1L << p} ELSE 0 END)""".stripMargin
    }.mkString("CAST((", " + ", ") AS BIGINT)")

  // ------------------------------------------------------------------
  // q43 support: deterministic quantized k-means coarse quantizer.
  //
  // Embeddings are quantized to integers `floor(x·1000 + 0.5)` so every
  // centroid is an exact per-dimension integer SUM vector (counts cancel
  // out of the cosine argmax: cos(x, s/n) ∝ dot(x,s)/|s|), making the
  // whole build order-independent — a 32-way shuffled Spark aggregation
  // and DuckDB's single-threaded replay produce identical cells. At
  // 100 TB the build is bounded end to end: the INIT collect targets a
  // fixed NCells centroids via a stride derived from a pre-counted n
  // (so it is O(NCells×dims) at ANY corpus size, never a fraction of
  // the data), and the per-iteration collect is k×dims integers. The
  // query path stays one broadcast probe join + cell-key equi-join per
  // batch.

  // Coarse-quantizer size: a FIXED constant, so driver state (init
  // sample + per-iteration sums) is O(NCells×dims) at any corpus size.
  // 11 keeps NProbe/NCells ≈ 27% (3/11) — the probed fraction the recall
  // floor in VectorSpec was measured at (and makes the sf0.001 init
  // stride 500/11 = 45, the exact sample those measurements used); a
  // real 100 TB deployment sets this higher (e.g. 4096) for smaller
  // cells — still O(1) driver state.
  private[operators] val NCells = 11
  private val NProbe = 3

  /** One Lloyd update: measured recall@5 vs the raw stride sample is
    * 0.60→0.66 at sf0.001 on the 10 fixed queries (NOTES.md round 3;
    * the sf0.001 init is unchanged by the round-5 bounded-stride fix);
    * further iterations oscillate below that on this corpus (VectorSpec
    * pins the improvement).
    */
  private val KMeansIters = 1

  private def quantize(c: Column): Column =
    transform(c, x => floor(x.cast("double") * lit(1000.0) + lit(0.5)))

  /** The well-formed-embedding predicate every model ingress filters on:
    * non-null, exactly [[Dims]] components, ALL of them finite. The
    * finiteness conjunct is the fifteenth sweep's lesson
    * (TotalitySweep row `non_finite`): a broken encoder emits NaN (an internal
    * 0/0) or ±Inf (an overflowed activation), and IEEE semantics carry
    * it silently through every comparison gate until an ANSI floor/cast
    * to integral — `quantize`'s own floor — crashes with a long
    * overflow at executor depth. A non-finite vector carries no
    * geometry, so it is excluded like the null/wrong-dim shapes; gate
    * tables carry only finite rows, so oracles are unaffected.
    */
  private def wellFormed: Column =
    col("embedding").isNotNull && size(col("embedding")) === Dims &&
      !exists(col("embedding"), x =>
        isnan(x) || x === lit(Float.PositiveInfinity) ||
          x === lit(Float.NegativeInfinity))

  /** (vec_id, embedding, qv) — the quantized working frame every IVF
    * stage runs on. A NULL embedding carries no geometry: it can't seed
    * a centroid, join a codebook, or be selected — and the driver-side
    * model builds (strideInit, PQ seeds, q122's argmax) dereference the
    * collected arrays, so a null row NPEs at executor depth on a dirty
    * feed (TotalitySweep row `nullable`). The same holds for a WRONG-DIMENSION
    * embedding (an encoder that emitted nothing, or a row truncated
    * mid-write): fixed-dim kernels (q106's JL components, q112's PC
    * projection, q100's subspace slices) index past its end at executor
    * depth (TotalitySweep row `embedding_edge`). Model-building queries
    * therefore define their corpus as the well-formed rows — non-null, exactly
    * [[Dims]]-dimensional; the gate tables carry only such rows, so
    * oracles are unaffected.
    */
  private[operators] def quantized(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .filter(wellFormed)
      .select(col("vec_id"), col("embedding"),
        quantize(col("embedding")).as("qv"))

  // ------------------------------------------------------------------
  // q100 support: product quantization (Jégou et al., PAMI'11). The
  // 64-dim space splits into PqM=4 subspaces of PqSubDim=16 dims; each
  // subspace trains its own PqK-target codebook by the exact q43
  // recipe (quantized integers, stride init from a memoized count, one
  // Lloyd iteration) so the whole build is order-independent and the
  // oracle replays it CTE-for-stage. Assignment minimizes true L2 to
  // the centroid MEAN without ever materializing a non-integer mean:
  // argmin ‖x − s/n‖² = argmin (s2 − 2·d·n)/n², one IEEE division of
  // exact integers. ADC terms are fixed-point integers (truncating
  // division — Spark `div` and DuckDB `//` both truncate toward zero),
  // so per-candidate score sums are order-independent longs and the
  // only doubles are the final sqrt/divide chain.
  private val PqM = 4
  private val PqSubDim = 16
  // Codebook size target per subspace. PQ quality is driven by K (the
  // per-subspace resolution): 16 measured recall@5 = 0.08 at sf0.001 —
  // vectors sharing a 4-code combo collapse to one ADC score; 64 is
  // the smallest K that separates the test corpus (production PQ uses
  // K=256 with 8-bit codes). Driver state stays O(PqM·PqK·PqSubDim).
  private val PqK = 64

  /** (vec_id, m, sub): the PqM per-subspace integer subvectors of qv. */
  private def pqSubs(qe: DataFrame): DataFrame =
    qe.select(col("vec_id"),
      posexplode(array((0 until PqM).map(m =>
        slice(col("qv"), m * PqSubDim + 1, PqSubDim)): _*)).as(Seq("m", "sub")))

  /** Codebook rows (m, code, s, n) to a broadcastable frame with the
    * derived ‖s‖² — O(PqM·PqK·PqSubDim) driver state, parameters only.
    */
  private def pqCodebookDf(spark: SparkSession,
      cb: Seq[(Int, Long, Array[Long], Long)]): DataFrame = {
    import spark.implicits._
    // Overflow-safe scalars computed ONCE per code, on the driver, in
    // BigInt/BigDecimal: s components are SUMS over code members
    // (~n·10³ each), so a Long ‖s‖² wraps silently once membership
    // passes ~7.6e5 — far below 100 TB-scale cell sizes; the oracle
    // mirrors with HUGEINT. r8 routed the widening through
    // DECIMAL(38,0) in the per (vector×code) comparator row and paid
    // 1.5-1.9× on q100/q43; the codebook is O(PqM·PqK) parameter rows,
    // so the exact wide math belongs HERE, shipped as plain doubles —
    // the per-row comparator stays long/double and codegen-friendly.
    //  - s2n2 = ‖s‖²/n² (one DECIMAL128 division + one double rounding)
    //  - invn = 1/n
    //  - n2t  = (1e6·‖s‖²) div n² — BigInt `/` truncates toward zero on
    //    these non-negative values, same as Spark `div` / DuckDB `//`
    cb.map { case (m, code, sArr, n) =>
      val s2 = sArr.foldLeft(BigInt(0))((a, x) => a + BigInt(x) * x)
      val n2 = BigInt(n) * n
      ((m, code, sArr, n, (BigDecimal(s2) / BigDecimal(n2)).toDouble,
        1.0 / n, (BigInt(1000000) * s2 / n2).toLong))
    }.toDF("m", "code", "s", "n", "s2n2", "invn", "n2t")
  }

  /** Nearest-code assignment per (vector, subspace): broadcast the
    * codebook, score the exact rational L2 comparator, keep the argmin
    * (ties → lowest code — the same ordering the oracle's row_number
    * uses).
    */
  private def pqAssign(subs: DataFrame, cbDf: DataFrame): DataFrame = {
    subs.join(broadcast(cbDf.select(col("m"), col("code"), col("s"),
        col("s2n2"), col("invn"))), Seq("m"))
      .withColumn("d", intDot(col("sub"), col("s")))
      // Per-row comparator in pure long/double: f = ‖s‖²/n² − 2·d/n,
      // with ‖s‖²/n² and 1/n precomputed exactly per code (above). d is
      // an exact Long (wraps only past n ≈ 3.6e10 members) and is exact
      // as a double up to n ≈ 3e7. Rounding bound vs the oracle's
      // wide-integer-then-divide form: ≤ a few ulps of the two f terms,
      // ~9 orders below inter-code gaps on quantized data; exact
      // duplicate codes (the real tie case — stride init + converged
      // Lloyd produce them) still tie exactly and resolve by code id,
      // matching the oracle's row_number order.
      .withColumn("f",
        col("s2n2") - lit(2.0) * col("d").cast("double") * col("invn"))
      // r15: argmin as a partial-aggregatable struct-min instead of the
      // r14 row_number window — (f asc, code asc) is exactly struct
      // lexicographic min (codes are distinct per m, so the `sub` field
      // is never compared; struct field ordering is asc-nulls-first,
      // same as the window sort's default). The window shape shuffled
      // and SORTED all |subs|·PqK comparator rows per assignment pass;
      // the agg form folds them map-side to one row per (vec_id, m)
      // before any exchange — guide §2.3 "aggregate before you shuffle".
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("f"), col("code"), col("sub"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.sub").as("sub"),
        col("best.code").as("code"))
  }

  /** Lloyd update: per-(m, code) integer sub-sums + member counts.
    * The collect is O(PqM·PqK·PqSubDim) longs — codebook parameters,
    * never data.
    */
  private def pqUpdate(assigned: DataFrame): Seq[(Int, Long, Array[Long], Long)] = {
    val rows = assigned
      .select(col("m"), col("code"), posexplode(col("sub")).as(Seq("dim", "v")))
      .groupBy(col("m"), col("code"), col("dim"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("nv"))
      .collect()
    rows.groupBy(r => (r.getInt(0), r.getLong(1))).toSeq
      .sortBy(_._1).map { case ((m, code), rs) =>
        val arr = new Array[Long](PqSubDim)
        rs.foreach(r => arr(r.getInt(2)) = r.getLong(3))
        (m, code, arr, rs.head.getLong(4))
      }
  }

  /** Stride-sample init: every (n/NCells)-th vec_id. The stride comes
    * from a pre-counted n so the collect is ~NCells rows REGARDLESS of
    * corpus size — never the linear fraction a fixed stride would ship
    * to the driver. The count is memoized per (session, table).
    */
  private def strideInit(s: SparkSession, dir: String,
      qemb: DataFrame): Seq[(Long, Array[Long])] = {
    val stride = math.max(1L, Tables.rowCount(s, dir, "embeddings") / NCells)
    qemb.filter(col("vec_id") % stride === 0)
      .select(col("vec_id"), col("qv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toSeq.sortBy(_._1)
  }

  /** Candidate pool for the farthest-first init: an `InitOversample`×
    * denser stride sample, still O(NCells) rows at any corpus size.
    */
  private[operators] val InitOversample = 4

  /** Deterministic "k-means++-style" init: farthest-first traversal
    * (Gonzalez) over the oversampled stride pool — start from the
    * lowest vec_id, then repeatedly take the candidate with the largest
    * squared euclidean distance (exact integer arithmetic on the
    * quantized vectors, ties → lowest vec_id) to the chosen set. This is
    * the derandomized form of k-means++'s D²-weighted seeding (the
    * argmax instead of a D²-proportional draw), chosen because the
    * whole build must stay engine-replayable: no RNG, and every pick is
    * a pure argmax the oracle SQL can re-run. Driver cost: one
    * O(NCells·InitOversample)-row collect + an O(k²·oversample·dims)
    * local loop.
    */
  private def farthestFirstInit(s: SparkSession, dir: String,
      qemb: DataFrame): Seq[(Long, Array[Long])] = {
    val stride = math.max(1L,
      Tables.rowCount(s, dir, "embeddings") / (NCells * InitOversample))
    val cand = qemb.filter(col("vec_id") % stride === 0)
      .select(col("vec_id"), col("qv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var acc = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    val chosen = scala.collection.mutable.ArrayBuffer(cand.head)
    val minD2 = scala.collection.mutable.Map.empty[Long, Long]
    cand.foreach(c => minD2(c._1) = d2(c._2, cand.head._2))
    while (chosen.size < NCells && chosen.size < cand.length) {
      val pick = cand.filterNot(c => chosen.exists(_._1 == c._1))
        .maxBy(c => (minD2(c._1), -c._1))
      chosen += pick
      cand.foreach(c => minD2(c._1) = math.min(minD2(c._1), d2(c._2, pick._2)))
    }
    chosen.sortBy(_._1).toSeq
  }

  /** The converged coarse-quantizer cells: init (stride or
    * farthest-first) + [[KMeansIters]] Lloyd updates.
    */
  private[operators] def ivfCells(s: SparkSession, dir: String,
      plusPlus: Boolean): Seq[(Long, Array[Long])] =
    ivfCellsOn(s, dir, quantized(s, dir), plusPlus)

  /** [[ivfCells]] over a caller-supplied (possibly materialized)
    * quantized frame — q43 checkpoints `quantized` ONCE and shares it
    * across the init sample, the training assignment, the final
    * assignment and the probe side (the q100 `subs` precedent, r15:
    * every one of those consumers otherwise re-runs scan+quantize).
    */
  private[operators] def ivfCellsOn(s: SparkSession, dir: String,
      qemb: DataFrame, plusPlus: Boolean): Seq[(Long, Array[Long])] = {
    var cells =
      if (plusPlus) farthestFirstInit(s, dir, qemb)
      else strideInit(s, dir, qemb)
    for (_ <- 1 to KMeansIters)
      cells = updateCells(assignCells(s, qemb, cells))
    cells
  }

  /** IVF query path against pre-built cells: final assignment, probe
    * the nProbe best cells per query, exact re-rank within them.
    * Parameterized so VectorSpec can sweep the recall-vs-nProbe curve
    * on one build.
    */
  private[operators] def ivfTopKWith(s: SparkSession, dir: String,
      cells: Seq[(Long, Array[Long])], nProbe: Int): DataFrame =
    ivfTopKOn(s, dir, quantized(s, dir), cells, nProbe)

  /** [[ivfTopKWith]] over a caller-supplied quantized frame (see
    * [[ivfCellsOn]] — q43 shares ONE materialized frame across the
    * build and query paths).
    */
  private[operators] def ivfTopKOn(s: SparkSession, dir: String,
      qemb: DataFrame, cells: Seq[(Long, Array[Long])],
      nProbe: Int): DataFrame = {
    val assigned = assignCells(s, qemb, cells)
    val qwin = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("cell"))
    val probes = qemb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("qv").as("q_qv"))
      .crossJoin(broadcast(cellsDf(s, cells)))
      .withColumn("score", intScore(col("q_qv"), col("cs"), col("norm")))
      .withColumn("rn", row_number().over(qwin))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("q_vec"), col("cell"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineFused(col("q_vec"), col("embedding")).as("cos_sim"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Integer cosine-argmax score against a cell's sum vector, with the
    * cell norm precomputed per cell — the per-row work is one fused
    * integer dot, one long→double cast, one divide. The divisor floor
    * at Double.MIN_VALUE is inert on any non-degenerate cell (real
    * norms are ≥ 1) and defines the all-zero-cell score as exactly 0
    * (the dot is 0 too) instead of an ANSI divide-by-zero at executor
    * depth (the zero-vector feed of TotalitySweep row `embedding_edge`).
    */
  private def intScore(qv: Column, cs: Column, norm: Column): Column =
    intDot(qv, cs).cast("double") /
      greatest(norm, lit(java.lang.Double.MIN_VALUE))

  private def cellsDf(spark: SparkSession, cells: Seq[(Long, Array[Long])]): DataFrame = {
    import spark.implicits._
    // ‖s‖ per cell computed once on the driver in BigInt (a Long Σs²
    // wraps silently at n ≈ 3.8e5 members/cell — the q100 codebook
    // bound's q43 sibling), then rounded once to double and sqrt'd —
    // bit-identical to the oracle's sqrt(CAST(HUGEINT-sum AS DOUBLE))
    // per row, but the cast+sqrt never rides the n×k join rows the way
    // r8's DECIMAL(38,0) column did.
    cells.map { case (id, s) =>
      val n2 = s.foldLeft(BigInt(0))((a, x) => a + BigInt(x) * x)
      (id, s, math.sqrt(n2.toDouble))
    }.toDF("cell", "cs", "norm")
  }

  /** Assign every vector to its best cell (max integer-cosine, ties →
    * lowest cell id — same ordering the oracle's row_number uses).
    * r15: the argmax is a partial-aggregatable struct-max instead of
    * the row_number window — (score desc, cell asc) is exactly struct
    * lexicographic max on (score, -cell), and cells are distinct per
    * vector so the carried payload fields are never compared (the q100
    * `pqAssign` precedent; same no-NaN/no--0.0 score domain: intScore
    * is an integer-valued-double dot over a norm ≥ 1). The window
    * shape shuffled and SORTED all |vectors|·NCells scored rows per
    * assignment pass; the agg folds them map-side to one row per
    * vec_id before any exchange (guide §2.3 "aggregate before you
    * shuffle").
    */
  private[operators] def assignCells(spark: SparkSession, qemb: DataFrame,
      cells: Seq[(Long, Array[Long])]): DataFrame = {
    qemb.crossJoin(broadcast(cellsDf(spark, cells)))
      .withColumn("score", intScore(col("qv"), col("cs"), col("norm")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("score"), (-col("cell")).as("ncell"),
        col("embedding"), col("qv"))).as("best"))
      .select(col("vec_id"), col("best.embedding").as("embedding"),
        col("best.qv").as("qv"), (-col("best.ncell")).as("cell"))
  }

  /** Lloyd update: per-cell per-dimension integer sums (exact, shuffled
    * aggregation safe). The collect is k×dims longs — the coarse
    * quantizer'S PARAMETERS, not data.
    */
  private def updateCells(assigned: DataFrame): Seq[(Long, Array[Long])] = {
    val rows = assigned
      .select(col("cell"), posexplode(col("qv")).as(Seq("dim", "v")))
      .groupBy(col("cell"), col("dim")).agg(sum(col("v")).as("sv"))
      .collect()
    rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map { case (cell, rs) =>
      val dims = rs.map(_.getInt(1)).max + 1
      val arr = new Array[Long](dims)
      rs.foreach(r => arr(r.getInt(1)) = r.getLong(2))
      (cell, arr)
    }
  }

  // ------------------------------------------------------------------
  // q106 support: the ±1 JL projection matrix, a deterministic function
  // of (JlSeed, out-dim, in-dim) through the same XXH64 chain as
  // [[planeWeightsSql]]. Computed ONCE at class-init and inlined as
  // literals on both engines, so there is nothing to keep in sync
  // beyond these constants. (Declared BEFORE `all`: the oracle string
  // evaluates eagerly while `all` is constructed.)
  private val JlK = 16
  private val JlSeed = 7

  private[graft] val jlSigns: Array[Array[Int]] =
    Array.tabulate(JlK) { p =>
      var hp = XXH64.hashInt(JlSeed, 42L)
      hp = XXH64.hashInt(p, hp)
      Array.tabulate(Dims) { i =>
        if ((XXH64.hashInt(i, hp) & 1L) == 0L) 1 else -1
      }
    }

  // ------------------------------------------------------------------
  // q105/q108 support: the upper-triangle covariance frame
  // (i, j, n, sx, sy, sxy, cov) from ONE scan — chained posexplode
  // outer products collapsing to d(d+1)/2 groups map-side. `cov` is a
  // fixed-order IEEE expression of the four exact integer sums, so it
  // is bit-identical on any engine computing the same sums. The sx·sy
  // and n·n products go through DECIMAL(38,0): sx ≈ 1000·n per dim, so
  // a Long product wraps silently around n ≈ 1e8 vectors while the
  // oracle's HUGEINT stays exact — the decimal product matches the
  // oracle's semantics (exact product, ONE correctly-rounded double
  // conversion) at any corpus size.
  private def covUpper(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    t(s, dir, "embeddings")
      .filter(wellFormed)
      .select(quantize(col("embedding")).as("qv"))
      .select(posexplode(col("qv")).as(Seq("i", "qx")), col("qv"))
      .select(col("i"), col("qx"),
        posexplode(col("qv")).as(Seq("j", "qy")))
      .filter(col("i") <= col("j"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"), sum(col("qx")).as("sx"),
        sum(col("qy")).as("sy"),
        sum(col("qx") * col("qy")).as("sxy"))
      .select(col("i"), col("j"), col("n"), col("sx"), col("sy"),
        col("sxy"),
        ((col("sxy").cast("double") / col("n").cast("double")
          - (col("sx").cast(dec) * col("sy").cast(dec)).cast("double")
            / (col("n").cast(dec) * col("n").cast(dec)).cast("double"))
          / lit(1e6)).as("cov"))
  }

  /** The q105 covariance CTE chain as DuckDB SQL (CTE names q/a/b/p/cell),
    * ending in `cell(i, j, cov)` with 0-based dims — shared by the q105
    * oracle's final SELECT and q108's power-iteration replay.
    */
  private val covCellSql: String =
    """WITH q AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE)*1000.0 + 0.5) AS BIGINT)) AS qv
          FROM embeddings),
        a AS (SELECT vec_id, unnest(qv) AS qx, generate_subscripts(qv, 1) AS i
              FROM q),
        b AS (SELECT vec_id, unnest(qv) AS qy, generate_subscripts(qv, 1) AS j
              FROM q),
        p AS (SELECT a.i, a.qx, b.j, b.qy
              FROM a JOIN b ON a.vec_id = b.vec_id AND a.i <= b.j),
        cell AS (
          SELECT CAST(i - 1 AS INTEGER) AS i, CAST(j - 1 AS INTEGER) AS j,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(qx) AS BIGINT) AS sx,
                 CAST(sum(qy) AS BIGINT) AS sy,
                 CAST(sum(qx * qy) AS BIGINT) AS sxy,
                 (CAST(sum(qx * qy) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                  - CAST(sum(qx) * sum(qy) AS DOUBLE)
                    / CAST(count(*) * count(*) AS DOUBLE)) / 1e6 AS cov
          FROM p GROUP BY i, j)"""

  /** Power-iteration step count for q108/q112 — fixed, replayed
    * CTE-for-CTE by the oracles.
    */
  private val PowerIters = 6

  /** The shared q108/q112 oracle prefix: covariance cells, the mirrored
    * nano-unit integer matrix `m`, and `PowerIters` unrolled
    * (matvec → norm → requantize) CTE triples ending in `v6(j, vq)`.
    */
  private def powerPrefixSql: String = {
    val sb = new StringBuilder(covCellSql)
    sb ++= """,
        m AS (SELECT i, j, CAST(floor(cov * 1e9) AS BIGINT) AS mq FROM cell
              UNION ALL
              SELECT j, i, CAST(floor(cov * 1e9) AS BIGINT)
              FROM cell WHERE i <> j),
        v0 AS (SELECT CAST(r.range AS INTEGER) AS j,
                      CAST(1000000 AS BIGINT) AS vq
               FROM range(64) r)"""
    for (k <- 1 to PowerIters) {
      sb ++= s""",
        w$k AS (SELECT m.i, CAST(sum(m.mq * v.vq) AS BIGINT) AS w
                FROM m JOIN v${k - 1} v ON m.j = v.j GROUP BY m.i),
        n$k AS (SELECT sqrt(CAST(sum(CAST(w AS HUGEINT) * CAST(w AS HUGEINT))
                                 AS DOUBLE)) AS nrm FROM w$k),
        v$k AS (SELECT w$k.i AS j,
                       CAST(floor(CAST(w AS DOUBLE) / nrm * 1e6 + 0.5)
                            AS BIGINT) AS vq
                FROM w$k, n$k)"""
    }
    sb.toString
  }

  /** q108's oracle: the power prefix closing with the Rayleigh-quotient
    * eigenvalue of the final iterate.
    */
  private def pcaOracleSql: String = {
    val vf = s"v$PowerIters"
    powerPrefixSql + s""",
        wf AS (SELECT m.i, CAST(sum(m.mq * v.vq) AS BIGINT) AS w
               FROM m JOIN $vf v ON m.j = v.j GROUP BY m.i),
        nm AS (SELECT CAST(sum(CAST(v.vq AS HUGEINT) * CAST(w.w AS HUGEINT))
                           AS DOUBLE) AS nm
               FROM $vf v JOIN wf w ON v.j = w.i),
        dn AS (SELECT CAST(sum(vq * vq) AS DOUBLE) AS dn FROM $vf)
        SELECT v.j AS i, CAST(v.vq AS DOUBLE) / 1e6 AS evec,
               nm.nm / dn.dn / 1e9 AS eigval
        FROM $vf v, nm, dn ORDER BY i"""
  }

  /** q112's oracle: the power prefix, per-dim stats off the diagonal
    * cells, and the integer centered-projection fold per vector.
    */
  private def abttOracleSql: String = {
    val vf = s"v$PowerIters"
    powerPrefixSql + s""",
        st AS (SELECT i, n, sx FROM cell WHERE i = j),
        ex AS (SELECT vec_id,
                      CAST(generate_subscripts(qv, 1) - 1 AS INTEGER) AS i,
                      unnest(qv) AS qx
               FROM q),
        dt AS (SELECT ex.vec_id,
                      CAST(sum((qx * st.n - st.sx) * v.vq) AS BIGINT) AS dot,
                      CAST(min(st.n) AS BIGINT) AS nn
               FROM ex JOIN st ON ex.i = st.i JOIN $vf v ON v.j = ex.i
               GROUP BY ex.vec_id)
        SELECT vec_id,
               CAST(dot AS DOUBLE) / CAST(nn AS DOUBLE) / 1000.0 / 1e6
                 AS pc1_proj
        FROM dt ORDER BY vec_id"""
  }

  /** Driver-side model-state extraction shared by q108/q112: ONE collect
    * of the d(d+1)/2 covariance cells (constant-size at any corpus
    * scale) → (row count, per-dim integer sums, mirrored nano-unit
    * matrix). Mirrors the oracle's `m`/`st` CTEs exactly.
    */
  private def collectCov(s: SparkSession, dir: String)
      : (Long, Array[Long], Array[Array[Long]]) = {
    val rows = covUpper(s, dir).collect() // 2080 cells of model state
    val sx = new Array[Long](Dims)
    val m = Array.ofDim[Long](Dims, Dims)
    var n = 0L
    rows.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val mq = math.floor(r.getAs[Double]("cov") * 1e9).toLong
      m(i)(j) = mq
      m(j)(i) = mq
      if (i == j) sx(i) = r.getAs[Long]("sx")
      n = r.getAs[Long]("n")
    }
    (n, sx, m)
  }

  private def matvec(m: Array[Array[Long]], x: Array[Long]): Array[Long] =
    Array.tabulate(Dims) { i =>
      var acc = 0L
      var j = 0
      while (j < Dims) { acc += m(i)(j) * x(j); j += 1 }
      acc
    }

  /** `PowerIters` quantized power-iteration steps on the mirrored
    * nano-unit matrix — the driver-side replay of the oracle's CTE
    * chain. w² overflows Long, so the norm is an exact BigInt sum with
    * one correctly-rounded double conversion (= the oracle's
    * HUGEINT → DOUBLE cast).
    */
  private def powerIterate(m: Array[Array[Long]]): Array[Long] = {
    var vq = Array.fill(Dims)(1000000L)
    for (_ <- 1 to PowerIters) {
      val w = matvec(m, vq)
      val nrm = math.sqrt(w.map(x => BigInt(x) * BigInt(x)).sum.toDouble)
      vq = w.map(x => math.floor(x.toDouble / nrm * 1e6 + 0.5).toLong)
    }
    vq
  }

  val all: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // q38: per-vector L2 norm + dimension (row-level, exact).
    Q("q38_vector_norms",
      (s, dir) =>
        t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            size(col("embedding")).as("dim"),
            normL2(col("embedding")).as("l2_norm"))
          .orderBy(col("vec_id")),
      Some(s"""SELECT vec_id, label,
        CAST(len(embedding) AS INTEGER) AS dim,
        ${duckNorm("embedding")} AS l2_norm
        FROM embeddings ORDER BY vec_id""")),

    // ------------------------------------------------------------------
    // q39: brute-force cosine top-k (k=5) for 10 query vectors: the
    // exact ANN baseline. Broadcast the tiny query side; rank per query
    // with a keyed window (partitionBy query — no global sort).
    Q("q39_cosine_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val cos = cosineFused(col("q_vec"), col("embedding"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
        emb.join(broadcast(queries), col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"), cos.as("cos_sim"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 5)
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
                 FROM embeddings WHERE vec_id < 10),
        scored AS (
          SELECT q.q_id, e.vec_id,
                 ${duckDot("q.q_vec", "e.embedding")}
                   / (${duckNorm("q.q_vec")} * ${duckNorm("e.embedding")}) AS cos_sim
          FROM embeddings e JOIN q ON e.vec_id <> q.q_id)
        SELECT q_id, vec_id, cos_sim,
               CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rnk
        FROM scored QUALIFY rnk <= 5 ORDER BY q_id, rnk""")),

    // ------------------------------------------------------------------
    // q40: embedding-cosine near-dup pairs above a threshold (the
    // embedding variant of dedup; exact all-pairs here = the oracle for
    // the LSH-bucketed variant).
    Q("q40_cosine_neardup",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("a_vec"))
        val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_vec"))
        a.join(b, col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"),
            cosineFused(col("a_vec"), col("b_vec")).as("cos_sim"))
          .filter(col("cos_sim") >= 0.4)
          .orderBy(col("a_id"), col("b_id"))
      },
      Some(s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        ${duckDot("a.embedding", "b.embedding")}
          / (${duckNorm("a.embedding")} * ${duckNorm("b.embedding")}) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE ${duckDot("a.embedding", "b.embedding")}
          / (${duckNorm("a.embedding")} * ${duckNorm("b.embedding")}) >= 0.4
        ORDER BY a_id, b_id"""),
      doc = "O(n²) exact ground truth; scale path = q41 (hyperplane-LSH buckets).",
      verificationOnly = true),

    // ------------------------------------------------------------------
    // q43: IVF (inverted-file) ANN — a coarse quantizer assigns every
    // vector to its nearest centroid cell (one broadcast join); a query
    // probes its NProbe nearest cells and re-ranks exactly within them.
    // Candidate generation is a cell-key equi-join, never a cross join.
    // Centroids come from KMeansIters Lloyd iterations on the quantized
    // integer vectors (stride-sample init) — deterministic, and replayed
    // stage-for-stage by the oracle SQL below, so the approximate
    // operator is value-checked end to end, not just recall-bounded.
    Q("q43_ivf_ann",
      (s, dir) => {
        // r15: ONE materialized quantized frame shared by the init
        // sample, the Lloyd assignment, the final assignment and the
        // probe side — each otherwise re-ran the scan+filter+quantize
        // subtree (the q100 `subs` precedent).
        val qemb = quantized(s, dir).localCheckpoint()
        ivfTopKOn(s, dir, qemb,
          ivfCellsOn(s, dir, qemb, plusPlus = false), NProbe)
      },
      {
        val score =
          """CAST(list_sum(list_transform(list_zip(e.qv, c.s), p -> p[1]*p[2])) AS DOUBLE)
            |          / sqrt(CAST(list_sum(list_transform(c.s, x -> x::HUGEINT * x)) AS DOUBLE))""".stripMargin
        def assign(prev: String, out: String) =
          s"""$out AS (
             |  SELECT vec_id, embedding, qv, cell FROM (
             |    SELECT e.vec_id, e.embedding, e.qv, c.cell,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        $score DESC, c.cell) AS rn
             |    FROM qe e CROSS JOIN $prev c) WHERE rn = 1)""".stripMargin
        def update(prev: String, out: String) =
          s"""$out AS (
             |  SELECT cell, list(sm ORDER BY dim) AS s FROM (
             |    SELECT cell, dim, CAST(sum(v) AS BIGINT) AS sm FROM (
             |      SELECT cell, unnest(qv) AS v, generate_subscripts(qv, 1) AS dim
             |      FROM $prev) x
             |    GROUP BY cell, dim) y GROUP BY cell)""".stripMargin
        Some(s"""WITH qe AS (
            SELECT vec_id, embedding,
                   list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE)*1000.0 + 0.5) AS BIGINT)) AS qv
            FROM embeddings),
          c0 AS (SELECT vec_id AS cell, qv AS s FROM qe
                 WHERE vec_id % (SELECT greatest(1, count(*) // $NCells) FROM qe) = 0),
          ${assign("c0", "a1")},
          ${update("a1", "c1")},
          ${assign("c1", "a2")},
          pr AS (
            SELECT q_id, q_vec, cell FROM (
              SELECT e.vec_id AS q_id, e.embedding AS q_vec, c.cell,
                row_number() OVER (PARTITION BY e.vec_id ORDER BY
                  $score DESC, c.cell) AS rn
              FROM qe e CROSS JOIN c1 c WHERE e.vec_id < 10) WHERE rn <= $NProbe),
          scored AS (
            SELECT pr.q_id, a.vec_id,
                   ${duckDot("pr.q_vec", "a.embedding")}
                     / (${duckNorm("pr.q_vec")} * ${duckNorm("a.embedding")}) AS cos_sim
            FROM a2 a JOIN pr ON a.cell = pr.cell
            WHERE a.vec_id <> pr.q_id)
          SELECT q_id, vec_id, cos_sim,
                 CAST(row_number() OVER (PARTITION BY q_id
                      ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rnk
          FROM scored QUALIFY rnk <= 5 ORDER BY q_id, rnk""")
      }),

    // ------------------------------------------------------------------
    // q41: hyperplane-LSH bucketed ANN — the scale path. Bucket id from
    // 8 deterministic pseudo-random hyperplanes; candidates share a
    // bucket with a query (shuffle on bucket key, no cross join), then
    // exact cosine re-rank within bucket. The oracle recomputes bucket
    // ids from the inlined plane weights, so the approximate result is
    // value-checked (VectorSpec additionally bounds recall vs q39).
    Q("q41_lsh_ann",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .withColumn("bucket", hyperplaneBucketFused(col("embedding"), 8, seed = 42))
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
            col("bucket"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
        emb.join(broadcast(queries), Seq("bucket"))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            cosineFused(col("q_vec"), col("embedding")).as("cos_sim"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 5)
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""WITH emb AS (
          SELECT vec_id, embedding,
                 ${duckBucket("embedding", 8, 42)} AS bucket
          FROM embeddings),
        q AS (SELECT vec_id AS q_id, embedding AS q_vec, bucket
              FROM emb WHERE vec_id < 10),
        scored AS (
          SELECT q.q_id, e.vec_id,
                 ${duckDot("q.q_vec", "e.embedding")}
                   / (${duckNorm("q.q_vec")} * ${duckNorm("e.embedding")}) AS cos_sim
          FROM emb e JOIN q ON e.bucket = q.bucket AND e.vec_id <> q.q_id)
        SELECT q_id, vec_id, cos_sim,
               CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rnk
        FROM scored QUALIFY rnk <= 5 ORDER BY q_id, rnk""")),

    // ------------------------------------------------------------------
    // q82: int8-quantized ANN — the memory-bandwidth scale path. Each
    // vector is symmetrically quantized to [-127,127] by its own max-|x|
    // (`floor(x/ma·127 + 0.5)` — scale cancels out of cosine, so no
    // per-vector scale factor needs to ride along); candidate scoring is
    // the fused INTEGER dot product over the int8 codes (4× less memory
    // traffic than float32 — at 100 TB the scan is bandwidth-bound, so
    // that is the speedup), and only the top-5 survivors per query are
    // re-ranked with exact float cosine. All arithmetic is exact-integer
    // or IEEE-deterministic (integer dots ≤ 127²·64 are exact in
    // doubles; sqrt is correctly rounded), so the oracle replays the
    // whole thing value-for-value. The approx pass here is brute-force
    // over codes — at scale it composes with q41/q43's bucket pruning
    // (quantize WITHIN cells), which changes candidates, not this shape.
    Q("q82_int8_ann",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q8 = emb.select(col("vec_id"), col("embedding"),
          quantizeInt8(col("embedding")).as("v8"))
          .withColumn("n8", sqrt(intDot(col("v8"), col("v8")).cast("double")))
        val queries = q8.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
            col("v8").as("q_v8"), col("n8").as("q_n8"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("approx_cos").desc, col("vec_id"))
        val rw = Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
        q8.crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"), col("q_vec"), col("embedding"),
            // divisor floored at Double.MIN_VALUE: inert whenever both
            // int8 norms are nonzero (always, on real embeddings —
            // max-abs scaling maps any nonzero vector to a nonzero v8);
            // an all-zero vector scores exactly 0 (dot is 0) instead of
            // throwing ANSI /0 (TotalitySweep row `embedding_edge`)
            (intDot(col("q_v8"), col("v8")).cast("double") /
              greatest(col("q_n8") * col("n8"),
                lit(java.lang.Double.MIN_VALUE))).as("approx_cos"))
          .withColumn("arn", row_number().over(w))
          .filter(col("arn") <= 5)
          .select(col("q_id"), col("vec_id"), col("approx_cos"),
            cosineFused(col("q_vec"), col("embedding")).as("cos_sim"))
          .withColumn("rnk", row_number().over(rw).cast("long"))
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""WITH base AS (
          SELECT vec_id, embedding,
                 greatest(list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))), 1e-30) AS ma
          FROM embeddings),
        q8 AS (
          SELECT vec_id, embedding,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) / ma * 127.0 + 0.5) AS BIGINT)) AS v8
          FROM base),
        n8 AS (
          SELECT vec_id, embedding, v8,
                 sqrt(CAST(list_sum(list_transform(v8, x -> x * x)) AS DOUBLE)) AS n8
          FROM q8),
        cand AS (
          SELECT q.vec_id AS q_id, e.vec_id, q.embedding AS q_vec, e.embedding,
                 CAST(list_sum(list_transform(list_zip(q.v8, e.v8),
                   p -> p[1] * p[2])) AS DOUBLE) / (q.n8 * e.n8) AS approx_cos
          FROM n8 q CROSS JOIN n8 e
          WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id),
        top AS (
          SELECT *, row_number() OVER (PARTITION BY q_id
                   ORDER BY approx_cos DESC, vec_id) AS arn
          FROM cand)
        SELECT q_id, vec_id, approx_cos,
               ${duckDot("q_vec", "embedding")}
                 / (${duckNorm("q_vec")} * ${duckNorm("embedding")}) AS cos_sim,
               CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY ${duckDot("q_vec", "embedding")}
                      / (${duckNorm("q_vec")} * ${duckNorm("embedding")}) DESC,
                    vec_id) AS BIGINT) AS rnk
        FROM top WHERE arn <= 5 ORDER BY q_id, rnk""")),

    // ------------------------------------------------------------------
    // q91: HYBRID RETRIEVAL (RRF) — the RAG-serving fusion step:
    // reciprocal-rank-fuse the LEXICAL ranking (q76's BM25 against the
    // fixed query, via TextQueries.bm25Scored — single source of truth)
    // with the VECTOR ranking (cosine against the query embedding,
    // vec_id 0), rrf = Σ 1/(60 + rank) over the lists a doc appears in
    // (Cormack/Clarke/Büttcher SIGIR'09; k=60 standard). Fusion
    // consumes only the top-50 of each list, ranks are INTEGERS, and
    // the two reciprocal terms add in fixed order — so the doubles are
    // engine-portable even though the underlying scores differ in kind.
    // Scale: each list is a per-key top-k (WindowGroupLimit shape); the
    // fusion join is 50×50 rows. rank=0 encodes "not in that list"
    // (nulls would round-trip as NaN through the gate's pandas compare).
    Q("q91_hybrid_rrf",
      (s, dir) => {
        val topK = 50
        // doc 0 IS the query (its embedding drives the vector side), so
        // it is excluded from BOTH lists — asymmetric exclusion would
        // let the query document surface as its own retrieval result
        // with a structurally missing vector term
        val lex = TextQueries.bm25Scored(s, dir)
          .filter(col("bm25") > 0.0 && col("doc_id") =!= 0)
          .select(col("doc_id"), col("bm25"))
          .withColumn("lex_rank", row_number().over(
            Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
          .filter(col("lex_rank") <= topK)
          .select(col("doc_id"), col("lex_rank"))
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_vec"))
        val vec = emb.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(qv))
          .select(col("vec_id").as("doc_id"),
            cosineFused(col("q_vec"), col("embedding")).as("cos_sim"))
          .withColumn("vec_rank", row_number().over(
            Window.orderBy(col("cos_sim").desc, col("doc_id"))).cast("long"))
          .filter(col("vec_rank") <= topK)
          .select(col("doc_id"), col("vec_rank"))
        lex.join(vec, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
            coalesce(col("vec_rank"), lit(0L)).as("vec_rank"),
            (when(col("lex_rank").isNotNull,
              lit(1.0) / (lit(60.0) + col("lex_rank").cast("double")))
              .otherwise(lit(0.0)) +
              when(col("vec_rank").isNotNull,
                lit(1.0) / (lit(60.0) + col("vec_rank").cast("double")))
                .otherwise(lit(0.0))).as("rrf"))
          .orderBy(col("rrf").desc, col("doc_id"))
          .limit(20)
      },
      Some(s"""WITH ${TextQueries.Bm25ScoredCtes},
        lex AS (
          SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS lex_rank
          FROM scored WHERE bm25 > 0.0 AND doc_id <> 0
          QUALIFY lex_rank <= 50),
        qv AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
        vecscore AS (
          SELECT e.vec_id AS doc_id,
                 ${duckDot("q.q_vec", "e.embedding")}
                   / (${duckNorm("q.q_vec")} * ${duckNorm("e.embedding")}) AS cos_sim
          FROM embeddings e CROSS JOIN qv q WHERE e.vec_id <> 0),
        vec AS (
          SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS BIGINT) AS vec_rank
          FROM vecscore QUALIFY vec_rank <= 50)
        SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
               COALESCE(l.lex_rank, 0) AS lex_rank,
               COALESCE(v.vec_rank, 0) AS vec_rank,
               (CASE WHEN l.lex_rank IS NOT NULL
                     THEN 1.0 / (60.0 + CAST(l.lex_rank AS DOUBLE)) ELSE 0.0 END
                + CASE WHEN v.vec_rank IS NOT NULL
                       THEN 1.0 / (60.0 + CAST(v.vec_rank AS DOUBLE)) ELSE 0.0 END) AS rrf
        FROM lex l FULL JOIN vec v ON l.doc_id = v.doc_id
        ORDER BY rrf DESC, doc_id LIMIT 20"""),
      doc = "Hybrid BM25+vector retrieval via reciprocal-rank fusion (k=60)."),

    // ------------------------------------------------------------------
    // q93: FILTERED ANN — metadata-constrained vector search ("similar
    // items WITHIN my category"), the standard vector-DB requirement.
    // The label predicate is PRE-filtering, pushed into the candidate
    // join KEY: candidates come from an equi-join on (bucket, label),
    // so non-matching vectors never reach scoring (or the shuffle) —
    // the composite-key form of q41, vs post-filtering top-k and
    // losing recall. 4 hyperplanes (16 buckets) instead of q41's 8:
    // with the label split multiplying selectivity ×10, 16×10
    // composite cells keep a few same-cell candidates per query at
    // test scale — the bucket/filter granularity trade every filtered
    // ANN deployment tunes.
    Q("q93_filtered_ann",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .withColumn("bucket",
            hyperplaneBucketFused(col("embedding"), 4, seed = 42))
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
            col("label"), col("bucket"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
        emb.join(broadcast(queries), Seq("bucket", "label"))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"), col("label"),
            cosineFused(col("q_vec"), col("embedding")).as("cos_sim"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 5)
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""WITH emb AS (
          SELECT vec_id, label, embedding,
                 ${duckBucket("embedding", 4, 42)} AS bucket
          FROM embeddings),
        q AS (SELECT vec_id AS q_id, embedding AS q_vec, label, bucket
              FROM emb WHERE vec_id < 10),
        scored AS (
          SELECT q.q_id, e.vec_id, e.label,
                 ${duckDot("q.q_vec", "e.embedding")}
                   / (${duckNorm("q.q_vec")} * ${duckNorm("e.embedding")}) AS cos_sim
          FROM emb e JOIN q
            ON e.bucket = q.bucket AND e.label = q.label
               AND e.vec_id <> q.q_id)
        SELECT q_id, vec_id, label, cos_sim,
               CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rnk
        FROM scored QUALIFY rnk <= 5 ORDER BY q_id, rnk"""),
      doc = "Pre-filtered ANN: label predicate composed into the bucket join key."),

    // ------------------------------------------------------------------
    // q94: MULTI-PROBE LSH ANN (Lv et al., VLDB'07) — recall without a
    // bigger index: each query probes its own bucket PLUS the 8
    // Hamming-1 neighbors (one sign bit flipped — the buckets a
    // near-threshold projection most likely lands in), a 9-bucket
    // explode on the tiny query side; the corpus side is untouched and
    // the candidate join stays the same (bucket) equi-join as q41.
    // Candidates are a superset of q41's, and cosine ordering is
    // global, so recall@5 is provably ≥ q41's (VectorSpec asserts it).
    // At 100 TB this is the standard dial: probe T buckets ≈ T× the
    // candidates at zero index cost, vs more planes (smaller buckets,
    // lower recall) or fewer (bigger candidate sets).
    Q("q94_multiprobe_ann",
      (s, dir) => {
        val nPlanes = 8
        val emb = t(s, dir, "embeddings")
          .withColumn("bucket",
            hyperplaneBucketFused(col("embedding"), nPlanes, seed = 42))
        val probes = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
            explode(array(
              col("bucket") +: (0 until nPlanes).map(p =>
                col("bucket").bitwiseXOR(lit(1L << p))): _*)).as("bucket"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
        emb.join(broadcast(probes), Seq("bucket"))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            cosineFused(col("q_vec"), col("embedding")).as("cos_sim"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 5)
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""WITH emb AS (
          SELECT vec_id, embedding,
                 ${duckBucket("embedding", 8, 42)} AS bucket
          FROM embeddings),
        q AS (SELECT vec_id AS q_id, embedding AS q_vec, bucket
              FROM emb WHERE vec_id < 10),
        probes AS (
          SELECT q_id, q_vec,
                 unnest([bucket, xor(bucket, 1), xor(bucket, 2),
                         xor(bucket, 4), xor(bucket, 8), xor(bucket, 16),
                         xor(bucket, 32), xor(bucket, 64),
                         xor(bucket, 128)]) AS bucket
          FROM q),
        scored AS (
          SELECT p.q_id, e.vec_id,
                 ${duckDot("p.q_vec", "e.embedding")}
                   / (${duckNorm("p.q_vec")} * ${duckNorm("e.embedding")}) AS cos_sim
          FROM emb e JOIN probes p
            ON e.bucket = p.bucket AND e.vec_id <> p.q_id)
        SELECT q_id, vec_id, cos_sim,
               CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rnk
        FROM scored QUALIFY rnk <= 5 ORDER BY q_id, rnk"""),
      doc = "Multi-probe LSH: 9 probe buckets per query, recall ≥ q41 by construction."),

    // ------------------------------------------------------------------
    // q97: HARD-NEGATIVE MINING — for each query vector, the top-5 most
    // similar vectors with a DIFFERENT label: the contrastive-training
    // prep (the most confusable cross-class examples are the negatives
    // that teach the margin). Same shape as q39 with the join predicate
    // inverted from q93's composed equality to a label INEQUALITY —
    // still a broadcast of the tiny query side over one corpus scan,
    // and the per-query top-k stays in the WindowGroupLimit shape (≤5
    // rows per key cross the exchange). At scale the label filter is a
    // scan-side predicate; candidate pruning composes with q41/q43
    // bucketing exactly as q93 does for the equality case.
    Q("q97_hard_negatives",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("label").as("q_label"),
            col("embedding").as("q_vec"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
        emb.join(broadcast(queries), col("label") =!= col("q_label"))
          .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
            cosineFused(col("q_vec"), col("embedding")).as("cos_sim"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 5)
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""WITH q AS (SELECT vec_id AS q_id, label AS q_label,
                 embedding AS q_vec
                 FROM embeddings WHERE vec_id < 10),
        scored AS (
          SELECT q.q_id, q.q_label, e.vec_id, e.label,
                 ${duckDot("q.q_vec", "e.embedding")}
                   / (${duckNorm("q.q_vec")} * ${duckNorm("e.embedding")}) AS cos_sim
          FROM embeddings e JOIN q ON e.label <> q.q_label)
        SELECT q_id, q_label, vec_id, label, cos_sim,
               CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rnk
        FROM scored QUALIFY rnk <= 5 ORDER BY q_id, rnk"""),
      doc = "Hard-negative mining: per query, top-5 nearest vectors of a different label."),

    // ------------------------------------------------------------------
    // q98: LABEL CENTROIDS (mean-pooling) — the per-class mean embedding
    // in long (label, dim) form: classifier prototypes, cluster
    // summaries, or the coarse level of a two-tier ANN. Means of floats
    // are NOT order-independent (double addition doesn't associate), so
    // the sum runs over the q43 quantization (`floor(x·1000+0.5)`
    // integers): any partitioning/merge-tree yields the same exact
    // integer sum, and the only doubles are two final IEEE divisions.
    // One (label, dim)-keyed map-side-combinable shuffle of longs —
    // the canonical 100 TB aggregation shape.
    Q("q98_label_centroids",
      (s, dir) =>
        t(s, dir, "embeddings")
          .filter(wellFormed)
          .select(col("label"),
            posexplode(quantize(col("embedding"))).as(Seq("dim", "qx")))
          .groupBy(col("label"), col("dim"))
          .agg(count(lit(1)).as("n"), sum(col("qx")).as("sum_q"))
          .select(col("label"), col("dim"), col("n"), col("sum_q"),
            (col("sum_q").cast("double") / col("n").cast("double") / 1000.0)
              .as("centroid"))
          .orderBy(col("label"), col("dim")),
      Some("""WITH q AS (
          SELECT label,
                 unnest(list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE)*1000.0 + 0.5) AS BIGINT))) AS qx,
                 generate_subscripts(embedding, 1) AS dim
          FROM embeddings)
        SELECT label, CAST(dim - 1 AS INTEGER) AS dim,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(qx) AS BIGINT) AS sum_q,
               CAST(sum(qx) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000.0
                 AS centroid
        FROM q GROUP BY label, dim ORDER BY label, dim"""),
      doc = "Per-label mean embedding via order-independent quantized integer sums."),

    // ------------------------------------------------------------------
    // q102: APPROXIMATE k-NN GRAPH — every vector's top-3 nearest
    // neighbors among its LSH-bucket mates: the all-corpus
    // generalization of q41 (which probes for 10 queries) and the
    // candidate structure SemDeDup-style semantic dedup (q103) and
    // graph-based diversity sampling consume. Dataflow: one bucket-key
    // SELF equi-join (both sides shuffle on bucket — the query side is
    // the corpus now, so no broadcast), exact cosine inside the bucket,
    // per-vector WindowGroupLimit top-k on the join key. Never O(n²):
    // candidate count is Σ_b n_b², bounded by the 2^8 bucketing; at
    // 100 TB you add planes (more, smaller buckets) and the q94
    // multi-probe trick for recall — same plan shape. A hot bucket is
    // the q75_salted skew case; AQE skew-join handles it.
    Q("q102_knn_graph",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .withColumn("bucket",
            hyperplaneBucketFused(col("embedding"), 8, seed = 42))
        val a = emb.select(col("bucket"), col("vec_id").as("src_id"),
          col("embedding").as("src_vec"))
        val b = emb.select(col("bucket"), col("vec_id").as("dst_id"),
          col("embedding").as("dst_vec"))
        val w = Window.partitionBy(col("src_id"))
          .orderBy(col("cos_sim").desc, col("dst_id"))
        a.join(b, Seq("bucket"))
          .filter(col("src_id") =!= col("dst_id"))
          .select(col("src_id"), col("dst_id"),
            cosineFused(col("src_vec"), col("dst_vec")).as("cos_sim"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3)
          .orderBy(col("src_id"), col("rnk"))
      },
      Some(s"""WITH emb AS (
          SELECT vec_id, embedding, ${duckBucket("embedding", 8, 42)} AS bucket
          FROM embeddings),
        scored AS (
          SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
                 ${duckDot("a.embedding", "b.embedding")}
                   / (${duckNorm("a.embedding")} * ${duckNorm("b.embedding")}) AS cos_sim
          FROM emb a JOIN emb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
        SELECT src_id, dst_id, cos_sim,
               CAST(row_number() OVER (PARTITION BY src_id
                    ORDER BY cos_sim DESC, dst_id) AS BIGINT) AS rnk
        FROM scored QUALIFY rnk <= 3 ORDER BY src_id, rnk"""),
      doc = "All-corpus approximate k-NN graph via LSH bucket self-join."),

    // ------------------------------------------------------------------
    // q103: SEMANTIC DEDUP (SemDeDup-shaped) — embedding-space
    // near-duplicate CLUSTERS: bucket-mate pairs above a cosine
    // threshold (q40's semantics restricted to q102's LSH candidates —
    // the scale path; exact all-pairs is the oracle-checked q40) fed
    // through the same min-label propagation as q70
    // ([[DedupCluster.resolve]]: per-iteration edge-scaled shuffle
    // join + min agg, localCheckpoint handoff, no driver state beyond
    // a convergence scalar). Output is the canonical mapping a dedup
    // pass consumes: every clustered vector, its cluster's min id, and
    // a keeper flag. The oracle replays candidates relationally and
    // closes the components with a recursive CTE (q70's pattern).
    Q("q103_semantic_dedup",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .withColumn("bucket",
            hyperplaneBucketFused(col("embedding"), 8, seed = 42))
        val a = emb.select(col("bucket"), col("vec_id").as("a_id"),
          col("embedding").as("a_vec"))
        val b = emb.select(col("bucket"), col("vec_id").as("b_id"),
          col("embedding").as("b_vec"))
        val pairs = a.join(b, Seq("bucket"))
          .filter(col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"),
            cosineFused(col("a_vec"), col("b_vec")).as("cos_sim"))
          .filter(col("cos_sim") >= 0.4)
        DedupCluster.resolve(pairs.select(col("a_id"), col("b_id")))
          .select(col("id").as("vec_id"), col("canonical_id"),
            (col("id") === col("canonical_id")).cast("int").as("is_keeper"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH RECURSIVE emb AS (
          SELECT vec_id, embedding, ${duckBucket("embedding", 8, 42)} AS bucket
          FROM embeddings),
        verif AS (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id
          FROM emb a JOIN emb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
          WHERE ${duckDot("a.embedding", "b.embedding")}
                  / (${duckNorm("a.embedding")} * ${duckNorm("b.embedding")}) >= 0.4),
        edges AS (
          SELECT a_id AS src, b_id AS dst FROM verif
          UNION
          SELECT b_id, a_id FROM verif),
        nodes AS (SELECT DISTINCT src AS vec_id FROM edges),
        reach(vec_id, comp) AS (
          SELECT vec_id, vec_id FROM nodes
          UNION
          SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.vec_id)
        SELECT vec_id, CAST(min(comp) AS BIGINT) AS canonical_id,
               CAST(vec_id = min(comp) AS INTEGER) AS is_keeper
        FROM reach GROUP BY vec_id ORDER BY vec_id"""),
      doc = "Embedding near-dup clusters: LSH candidates + label propagation."),

    // ------------------------------------------------------------------
    // q100: PRODUCT-QUANTIZATION ANN (ADC scoring) — the FAISS-style
    // fine quantizer: each vector compresses to PqM=4 codebook ids
    // (bytes at scale, vs 256 bytes of float32), and query scoring
    // reads ONLY the codes plus a per-query lookup table — at 100 TB
    // the candidate scan is memory-bandwidth-bound, and 64× smaller
    // reads ARE the speedup (q82's int8 argument, taken to its limit).
    // Asymmetric distance computation: per (query, subspace, code) a
    // fixed-point partial dot term (integer, truncating div — Spark
    // `div` ≡ DuckDB `//`), per (subspace, code) a fixed-point
    // centroid-norm term; a candidate's score sums 4 integer terms
    // (order-independent across any shuffle), and the only doubles are
    // the final sqrt/divide. Top-5 by ADC score, then exact-cosine
    // re-rank of the survivors (reported alongside, q82's shape). At
    // corpus scale this composes with q43: IVF cells prune candidates,
    // PQ codes score them — here the code scan is brute, which is the
    // oracle-friendly fixture of the same plan. The codebook build is
    // q43's: stride init from a memoized count, one Lloyd iteration on
    // quantized integers, every stage replayed by the oracle below.
    Q("q100_pq_ann",
      (s, dir) => {
        val qe = quantized(s, dir)
        // r15: `subs` feeds FOUR consumers (stride init, two assignment
        // passes, the query-side partials) and every one re-ran the
        // scan+quantize+posexplode subtree — the codebook-training
        // driver loop re-scanned the corpus per stage (r14 VERDICT #6).
        // Materialized once: 4·|vectors| skinny rows, exactly the
        // per-subspace working set a production PQ trainer persists
        // (the LSH `docs`/`banded` precedent).
        val subs = pqSubs(qe).localCheckpoint()
        val stride = math.max(1L, Tables.rowCount(s, dir, "embeddings") / PqK)
        val cb0 = subs.filter(col("vec_id") % stride === 0)
          .select(col("m"), col("vec_id").as("code"), col("sub"))
          .collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toArray, 1L))
          .toSeq.sortBy(x => (x._1, x._2))
        val cb1 = pqUpdate(pqAssign(subs, pqCodebookDf(s, cb0)))
        // The ADC per-code term n2t = (1e6·s2) div n² comes precomputed
        // from pqCodebookDf (driver-side BigInt — 1e6·s2 ~ 1.6e13·n²
        // wraps a Long at n ≈ 760 members, the r7 ADVICE divergence).
        val cbDf = pqCodebookDf(s, cb1)
        val encoded = pqAssign(subs, cbDf)
          .select(col("vec_id"), col("m"), col("code"))
        val partials = subs.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("m"), col("sub").as("qs"))
          .join(broadcast(cbDf), Seq("m"))
          .withColumn("d", intDot(col("qs"), col("s")))
          .select(col("q_id"), col("m"), col("code"),
            expr("(1000000 * cast(d as decimal(38,0))) div n").as("term"),
            col("n2t"))
        val qn = qe.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), intDot(col("qv"), col("qv")).as("qn2"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("approx_cos").desc, col("vec_id"))
        val topk = encoded.join(broadcast(partials), Seq("m", "code"))
          .filter(col("vec_id") =!= col("q_id"))
          .groupBy(col("q_id"), col("vec_id"))
          .agg(sum(col("term")).as("int_dot"), sum(col("n2t")).as("int_n2"))
          .join(broadcast(qn), Seq("q_id"))
          .withColumn("approx_cos",
            // divisor floored at Double.MIN_VALUE: inert on real data
            // (both norms ≥ 1); an all-zero query or candidate scores
            // exactly 0 instead of ANSI /0 (TotalitySweep row `embedding_edge`)
            col("int_dot").cast("double")
              / greatest(
                sqrt(col("qn2").cast("double"))
                  * sqrt(col("int_n2").cast("double")) * lit(1000.0),
                lit(java.lang.Double.MIN_VALUE)))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 5)
          .select(col("q_id"), col("vec_id"), col("approx_cos"), col("rnk"))
        val withQ = topk.join(
          broadcast(qe.filter(col("vec_id") < 10)
            .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))),
          Seq("q_id"))
        qe.select(col("vec_id"), col("embedding"))
          .join(broadcast(withQ), Seq("vec_id"))
          .select(col("q_id"), col("vec_id"), col("approx_cos"),
            cosineFused(col("q_vec"), col("embedding")).as("cos_sim"),
            col("rnk"))
          .orderBy(col("q_id"), col("rnk"))
      },
      {
        // comparator and ADC terms in HUGEINT — the DuckDB mirror of the
        // Spark side's DECIMAL(38,0) widening (r7 ADVICE overflow fix)
        def assign(prev: String, out: String) =
          s"""$out AS (
             |  SELECT vec_id, m, sub, code FROM (
             |    SELECT s.vec_id, s.m, s.sub, c.code,
             |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
             |        CAST(CAST(list_sum(list_transform(c.s, x -> x*x)) AS HUGEINT)
             |             - 2 * CAST(list_sum(list_transform(list_zip(s.sub, c.s),
             |                 p -> p[1]*p[2])) AS HUGEINT) * c.n AS DOUBLE)
             |          / CAST(c.n::HUGEINT * c.n AS DOUBLE) ASC, c.code) AS rn
             |    FROM sub s JOIN $prev c ON s.m = c.m) z WHERE rn = 1)""".stripMargin
        Some(s"""WITH qe AS (
            SELECT vec_id, embedding,
                   list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE)*1000.0 + 0.5) AS BIGINT)) AS qv
            FROM embeddings),
          sub AS (
            SELECT vec_id, m, list_slice(qv, m*$PqSubDim+1, m*$PqSubDim+$PqSubDim) AS sub
            FROM qe CROSS JOIN (SELECT unnest(range(0, $PqM)) AS m) ms),
          c0 AS (
            SELECT m, vec_id AS code, sub AS s, CAST(1 AS BIGINT) AS n
            FROM sub WHERE vec_id % (SELECT greatest(1, count(*) // $PqK) FROM qe) = 0),
          ${assign("c0", "a1")},
          c1 AS (
            SELECT m, code, list(sm ORDER BY dim) AS s, max(nv) AS n FROM (
              SELECT m, code, dim, CAST(sum(v) AS BIGINT) AS sm, count(*) AS nv
              FROM (SELECT m, code, unnest(sub) AS v,
                           generate_subscripts(sub, 1) AS dim FROM a1) x
              GROUP BY m, code, dim) y
            GROUP BY m, code),
          ${assign("c1", "a2")},
          cb AS (
            SELECT m, code, s, n,
                   CAST(list_sum(list_transform(s, x -> x*x)) AS HUGEINT) AS s2
            FROM c1),
          cb2 AS (SELECT m, code, s, n, s2,
                   CAST((1000000::HUGEINT * s2) // (n::HUGEINT * n) AS BIGINT) AS n2t
                  FROM cb),
          pt AS (
            SELECT q.vec_id AS q_id, c.m, c.code,
                   CAST((1000000::HUGEINT
                      * CAST(list_sum(list_transform(list_zip(q.sub, c.s),
                          p -> p[1]*p[2])) AS HUGEINT)) // c.n AS BIGINT) AS term,
                   c.n2t
            FROM sub q JOIN cb2 c ON q.m = c.m WHERE q.vec_id < 10),
          qn AS (
            SELECT vec_id AS q_id,
                   CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS qn2
            FROM qe WHERE vec_id < 10),
          scored AS (
            SELECT p.q_id, e.vec_id,
                   CAST(sum(p.term) AS BIGINT) AS int_dot,
                   CAST(sum(p.n2t) AS BIGINT) AS int_n2
            FROM a2 e JOIN pt p ON e.m = p.m AND e.code = p.code
            WHERE e.vec_id <> p.q_id
            GROUP BY p.q_id, e.vec_id),
          topk AS (
            SELECT s.q_id, s.vec_id,
                   CAST(s.int_dot AS DOUBLE)
                     / (sqrt(CAST(q.qn2 AS DOUBLE))
                        * sqrt(CAST(s.int_n2 AS DOUBLE)) * 1000.0) AS approx_cos,
                   CAST(row_number() OVER (PARTITION BY s.q_id ORDER BY
                     CAST(s.int_dot AS DOUBLE)
                       / (sqrt(CAST(q.qn2 AS DOUBLE))
                          * sqrt(CAST(s.int_n2 AS DOUBLE)) * 1000.0) DESC,
                     s.vec_id) AS BIGINT) AS rnk
            FROM scored s JOIN qn q USING (q_id) QUALIFY rnk <= 5)
          SELECT t.q_id, t.vec_id, t.approx_cos,
                 ${duckDot("qq.embedding", "e.embedding")}
                   / (${duckNorm("qq.embedding")} * ${duckNorm("e.embedding")}) AS cos_sim,
                 t.rnk
          FROM topk t JOIN embeddings qq ON qq.vec_id = t.q_id
                      JOIN embeddings e ON e.vec_id = t.vec_id
          ORDER BY t.q_id, t.rnk""")
      },
      doc = "Product-quantization ANN: 4 subspace codebooks, integer ADC scoring."),

    // ------------------------------------------------------------------
    // q105: EMBEDDING COVARIANCE MATRIX (upper triangle) — the Gram
    // accumulation distributed PCA / whitening / spectral diagnostics
    // start from. Each vector contributes its quantized outer product;
    // cov(i,j) = E[xy] − E[x]E[y] falls out of three integer sums per
    // (i,j) cell. Plan: two chained generators (no self-join — the
    // oracle needs one, Spark does not), then ONE (i,j)-keyed
    // map-side-combinable aggregation: n·d²/2 generated rows collapse
    // to d(d+1)/2 = 2080 groups before the exchange — the canonical
    // 100 TB matrix-accumulation shape (row outer products, partial
    // sums, one tiny result). All sums are exact longs on the q43
    // quantization; the three closing ops (two divisions, one
    // subtraction, ×1e-6 rescale) are fixed-order IEEE.
    Q("q105_covariance",
      (s, dir) => covUpper(s, dir).orderBy(col("i"), col("j")),
      Some(covCellSql + """
        SELECT i, j, n, sx, sy, sxy, cov FROM cell ORDER BY i, j"""),
      doc = "Quantized-integer covariance accumulation (distributed PCA prep)."),

    // ------------------------------------------------------------------
    // q106: RANDOM-PROJECTION (Johnson-Lindenstrauss) DIMENSIONALITY
    // REDUCTION — 64 → 16 dims through a dense ±1 sign matrix
    // (Achlioptas '01: ±1 entries satisfy the JL lemma with the same
    // k = O(ln n / ε²) as Gaussians, and the projection becomes pure
    // integer add/subtract). The matrix is a compile-time constant
    // derived from the XXH64 chain (same family as q41's hyperplanes),
    // inlined into BOTH the Spark plan and the oracle as literals — no
    // runtime hashing at all. On the q43 ×1000 quantization every
    // component is an exact 64-term long sum; the ONLY double op is the
    // final ÷(1000·√16) rescale, an exact-by-4000 IEEE division. Plan:
    // row-local projection in the scan — no shuffle, no join; at 100 TB
    // this is a map stage that cuts every downstream ANN/cluster
    // shuffle's payload 4×.
    Q("q106_random_projection",
      (s, dir) => {
        val qv = quantized(s, dir)
        val comps = (0 until JlK).map { p =>
          (0 until Dims).map(i => col("qv")(i) * lit(jlSigns(p)(i).toLong))
            .reduce(_ + _)
        }
        qv.select(col("vec_id") +: comps.zipWithIndex.map { case (c, p) =>
          (c.cast("double") / lit(4000.0)).as(f"p$p%02d")
        }: _*).orderBy(col("vec_id"))
      },
      Some {
        val cols = (0 until JlK).map { p =>
          val terms = (0 until Dims).map { i =>
            val sg = if (jlSigns(p)(i) > 0) "+" else "-"
            s"$sg qv[${i + 1}]"
          }.mkString(" ")
          f"CAST(($terms) AS DOUBLE) / 4000.0 AS p$p%02d"
        }.mkString(",\n               ")
        s"""WITH q AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE)*1000.0 + 0.5) AS BIGINT)) AS qv
          FROM embeddings)
        SELECT vec_id,
               $cols
        FROM q ORDER BY vec_id"""
      },
      doc = "JL ±1 random projection 64→16: exact integer sums, row-local."),

    // ------------------------------------------------------------------
    // q108: PCA TOP COMPONENT — power iteration on q105's covariance,
    // the first step of distributed PCA/whitening. The heavy part (the
    // covariance accumulation over every vector) is ONE map-combine
    // scan; the iteration then runs on the d×d matrix — 2080 upper-
    // triangle cells, CONSTANT-size model state at any corpus scale —
    // so it is collected and iterated on the DRIVER, the same division
    // of labor as MLlib's RowMatrix (which collects the Gramian for
    // PCA/SVD): distribute the O(corpus) pass, do the O(d²) eigensolve
    // locally. (A first cut iterated via six chained join+agg
    // DataFrames; each step used `w` twice — norm and projection — so
    // the unfused lineage re-evaluated the subtree ~2^iters times,
    // 10.6s at sf0.1 for 4096 rows of math. Driver math on collected
    // model state is the honest plan.) Determinism without a libm: the
    // matrix quantizes to nano-unit integers, each matvec is an exact
    // long sum, the norm is sqrt of an exact BigInt sum converted once
    // to double (both conversions correctly rounded; sqrt is
    // IEEE-correctly-rounded — portable, unlike ln/exp), and the
    // iterate re-quantizes to ×1e6 integers each step. Six fixed
    // iterations; the oracle replays them CTE-for-CTE in pure SQL.
    // Eigenvalue = the Rayleigh quotient of the final iterate.
    // Convergence honesty: six steps pinpoint the eigenVECTOR only when
    // the spectrum has a gap; on near-isotropic data (the testdata:
    // λ2/λ1 ≈ 0.93) the iterate is "a direction with near-maximal
    // Rayleigh quotient" — which is what downstream whitening/diagnostic
    // uses anyway, and VectorSpec pins exactly that property.
    Q("q108_pca_power",
      (s, dir) => {
        val (_, _, m) = collectCov(s, dir)
        val vq = powerIterate(m)
        val wf = matvec(m, vq)
        val nm = vq.zip(wf).map { case (a, b) => BigInt(a) * BigInt(b) }
          .sum.toDouble
        val dn = vq.map(x => x * x).sum.toDouble
        val rows = (0 until Dims).map(i =>
          (i, vq(i).toDouble / 1e6, nm / dn / 1e9))
        s.createDataFrame(rows).toDF("i", "evec", "eigval")
          .orderBy(col("i"))
      },
      Some(pcaOracleSql),
      doc = "PCA dominant eigenvector: quantized power iteration on q105."),

    // ------------------------------------------------------------------
    // q110: PER-DIMENSION Z-SCORE STANDARDIZATION — classic feature
    // scaling at corpus scale: one map-side-combinable stats pass (d=64
    // groups of exact integer sums n/Σx/Σx², regardless of corpus size),
    // then a row-local transform with the tiny stats frame joined back
    // via broadcast — bounded by d, NOT by the corpus, so the broadcast
    // is legitimate at any scale (contrast q89's vocabulary-sized dim).
    // Determinism: qx/n/sx/sxx are exact longs on both engines; mean,
    // variance, sqrt, and z are one fixed-order IEEE expression of them
    // (+ − × ÷ √ are all correctly rounded — no libm). The ×1000
    // quantization scale cancels in (qx − μ)/σ, so z is in natural
    // units. n·Σx² stays in the double domain (no long product), so
    // nothing overflows at web-scale n.
    Q("q110_zscore",
      (s, dir) => {
        val ex = t(s, dir, "embeddings").filter(wellFormed)
          .select(col("vec_id"),
            posexplode(quantize(col("embedding"))).as(Seq("i", "qx")))
        val stats = ex.groupBy(col("i")).agg(
          count(lit(1)).as("n"), sum(col("qx")).as("sx"),
          sum(col("qx") * col("qx")).as("sxx"))
        val nD = col("n").cast("double")
        val mu = col("sx").cast("double") / nD
        val varr = col("sxx").cast("double") / nD - mu * mu
        // a constant dimension (zero-padded tail dims are common) has
        // variance 0 — NULL the z rather than emit 0/0 NaN (and rather
        // than let Spark NaN vs DuckDB division semantics diverge)
        ex.join(broadcast(stats), Seq("i"))
          .select(col("vec_id"), col("i"),
            when(varr > 0,
              (col("qx").cast("double") - mu) / sqrt(varr)).as("z"))
          .orderBy(col("vec_id"), col("i"))
      },
      Some("""WITH q AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE)*1000.0 + 0.5) AS BIGINT)) AS qv
          FROM embeddings),
        ex AS (SELECT vec_id,
                      CAST(generate_subscripts(qv, 1) - 1 AS INTEGER) AS i,
                      unnest(qv) AS qx
               FROM q),
        st AS (SELECT i, CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(qx) AS BIGINT) AS sx,
                      CAST(sum(qx * qx) AS BIGINT) AS sxx
               FROM ex GROUP BY i)
        SELECT ex.vec_id, ex.i,
               CASE WHEN CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                         - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                           * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) > 0
                    THEN (CAST(qx AS DOUBLE)
                          - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                         / sqrt(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                                - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                                  * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
               END AS z
        FROM ex JOIN st ON ex.i = st.i
        ORDER BY ex.vec_id, ex.i"""),
      doc = "Per-dimension z-score standardization: one stats pass + row-local apply."),

    // ------------------------------------------------------------------
    // q112: ALL-BUT-THE-TOP PROJECTION (Mu & Viswanath, ICLR'18) — each
    // vector's scalar coordinate along the corpus's dominant principal
    // direction, the quantity that post-processing subtracts to remove
    // embedding anisotropy (and a per-vector outlier/diagnostic score).
    // Composes q105+q108: ONE distributed covariance pass → driver
    // eigensolve on the constant-size cell frame (the collectCov/
    // powerIterate model state, same collect) → the apply is a pure
    // ROW-LOCAL 64-term integer expression with (n, Σx_i, v_i) inlined
    // as literals — no join, no shuffle, no broadcast; at 100 TB it is
    // one map stage, like q106. Exactness: centering multiplies through
    // by n so cx_i = qx_i·n − Σx_i stays an exact long (no μ rounding
    // per row); dot = Σ cx_i·v_i is an exact long fold; the only
    // doubles are three fixed-order closing divisions. (Long headroom:
    // |cx·v| ≤ 4e12 ⇒ 64 terms ≤ 3e14. At web-scale n the integer form
    // would widen to DECIMAL or divide through by n first — noted in
    // SCALING.md.) By construction Σ_vectors dot = 0 exactly — the
    // spec pins it, plus Var(proj) ≈ the q108 eigenvalue.
    Q("q112_abtt_projection",
      (s, dir) => {
        val (n, sx, m) = collectCov(s, dir)
        val vq = powerIterate(m)
        val dot = (0 until Dims).map(i =>
          (col("qv")(i) * lit(n) - lit(sx(i))) * lit(vq(i))).reduce(_ + _)
        quantized(s, dir).select(col("vec_id"),
          (dot.cast("double") / lit(n.toDouble) / lit(1000.0) / lit(1e6))
            .as("pc1_proj"))
          .orderBy(col("vec_id"))
      },
      Some(abttOracleSql),
      doc = "All-but-the-top: per-vector projection onto the dominant PC, row-local apply."),

    // ------------------------------------------------------------------
    // q122: K-CENTER GREEDY DIVERSITY SELECTION (farthest-point
    // sampling) — the coreset/curation step that picks a maximally-
    // SPREAD k-subset of the embedding space (dedup keeps one copy of
    // near-identical content; THIS keeps the most diverse exemplars —
    // Sener & Savarese ICLR'18 use exactly this greedy 2-approximation
    // for data selection). Seed = min vec_id; each round adds the point
    // farthest (max min-distance) from the selected set, tie → lower
    // id. All geometry is exact-integer: vectors on the q43 quantized
    // grid, squared L2 via the fused [[IntDot]] (d2 = n2 − 2·(q·c) +
    // ‖c‖², products ≤ 10⁶·64 — Long-exact), so the DuckDB oracle
    // replays every selection decision bit-for-bit with K rounds
    // unrolled as CTEs (the q43 MO). Dataflow per round: ONE
    // distributed scan folding the new center into the per-point
    // min-distance (localCheckpoint'd — the DedupCluster iterative
    // pattern, so lineage never re-derives earlier rounds) + a
    // TakeOrdered(1) argmax; driver state is one k×dims center list —
    // O(model), never a corpus fraction. K is a constant (coreset
    // size); at 100 TB the same loop runs with k-means‖-style
    // over-sampling per round if K grows large (SCALING.md).
    Q("q122_kcenter_diverse",
      (s, dir) => {
        import s.implicits._
        import graft.functions.IntDot.intDot
        val K = 8
        val qe0 = quantized(s, dir).select(col("vec_id"), col("qv"))
          .withColumn("n2", intDot(col("qv"), col("qv")))
        val seed = qe0.orderBy(col("vec_id")).limit(1)
          .select(col("vec_id"), col("qv")).collect()
        if (seed.isEmpty)
          Seq.empty[(Long, Long, Long)].toDF("step", "vec_id", "radius2")
        else {
          def d2To(c: Seq[Long]): Column = {
            val cn2 = c.map(x => x * x).sum // |q|≤~10³, d=64: Long-exact
            col("n2") - lit(2L) * intDot(col("qv"), typedLit(c)) + lit(cn2)
          }
          val picked = Seq.newBuilder[(Long, Long, Long)]
          val seedId = seed(0).getLong(0)
          picked += ((0L, seedId, 0L))
          var cur = qe0.filter(col("vec_id") =!= seedId)
            .withColumn("d2", d2To(seed(0).getSeq[Long](1)))
            .localCheckpoint()
          var step = 1
          while (step < K) {
            // TakeOrdered(1): one row to the driver per round, O(K) total
            val top = cur.orderBy(col("d2").desc, col("vec_id")).limit(1)
              .select(col("vec_id"), col("qv"), col("d2")).collect()
            if (top.isEmpty) step = K
            else {
              val (id, cqv, d2) =
                (top(0).getLong(0), top(0).getSeq[Long](1), top(0).getLong(2))
              picked += ((step.toLong, id, d2))
              cur = cur.filter(col("vec_id") =!= id)
                .withColumn("d2", least(col("d2"), d2To(cqv)))
                .localCheckpoint()
              step += 1
            }
          }
          picked.result().toDF("step", "vec_id", "radius2").orderBy("step")
        }
      },
      Some(kcenterOracleSql(8)),
      doc = "Farthest-point sampling over quantized embeddings; every round oracle-replayed.")
  )

  /** q122 oracle: the greedy selection unrolled round-for-round as CTEs
    * (the q43 k-means MO). Exact-integer distances make every argmax
    * decision replayable; `ORDER BY d2 DESC, vec_id LIMIT 1` is the
    * same (max d2, tie → min id) rule as the Spark TakeOrdered.
    */
  private def kcenterOracleSql(k: Int): String = {
    def dist(qv: String, sel: String) =
      s"""(SELECT CAST(list_sum(list_transform(list_zip($qv, s.qv),
         |      p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) FROM $sel s)""".stripMargin
    val sb = new StringBuilder
    sb ++= s"""WITH qe AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE)*1000.0 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |s0 AS (SELECT vec_id, qv FROM qe ORDER BY vec_id LIMIT 1),
       |d0 AS (SELECT e.vec_id, e.qv, ${dist("e.qv", "s0")} AS d2
       |       FROM qe e WHERE e.vec_id NOT IN (SELECT vec_id FROM s0)),""".stripMargin
    for (i <- 1 until k) {
      sb ++= s"""
         |s$i AS (SELECT vec_id, qv, d2 FROM d${i - 1}
         |        ORDER BY d2 DESC, vec_id LIMIT 1),""".stripMargin
      if (i < k - 1)
        sb ++= s"""
           |d$i AS (SELECT e.vec_id, e.qv,
           |          least(e.d2, ${dist("e.qv", s"s$i")}) AS d2
           |        FROM d${i - 1} e
           |        WHERE e.vec_id NOT IN (SELECT vec_id FROM s$i)),""".stripMargin
    }
    sb ++= s"""
       |sel AS (
       |  SELECT CAST(0 AS BIGINT) AS step, vec_id,
       |         CAST(0 AS BIGINT) AS radius2 FROM s0""".stripMargin
    for (i <- 1 until k)
      sb ++= s"""
         |  UNION ALL SELECT CAST($i AS BIGINT), vec_id, CAST(d2 AS BIGINT)
         |            FROM s$i""".stripMargin
    sb ++= """)
       |SELECT step, vec_id, radius2 FROM sel ORDER BY step""".stripMargin
    sb.toString
  }

  /** Symmetric per-vector int8 quantization: `floor(x/max|x|·127 + 0.5)`
    * ∈ [-127, 127]. Cosine is scale-invariant, so the per-vector scale
    * never needs to be stored or multiplied back. The HOF form here runs
    * once per vector in the scan projection (not in the pairwise hot
    * loop, which is the fused [[IntDot]]); ε floors the zero vector.
    */
  private def quantizeInt8(c: Column): Column = {
    val ma = greatest(array_max(transform(c, x => abs(x.cast("double")))),
      lit(1e-30))
    transform(c, x => floor(x.cast("double") / ma * lit(127.0) + lit(0.5)))
  }
}
