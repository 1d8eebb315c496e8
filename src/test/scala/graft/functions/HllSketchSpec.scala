package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** HLL's load-bearing property is DETERMINISM under Spark's merge tree:
  * each register is a MAX over per-key ranks, so the state is a pure
  * function of the input SET and the DuckDB oracle can rebuild it
  * relationally (q140). Accuracy is statistical (~1.04/√m) and only
  * sanity-banded; the rank convention and hash-family draw are pinned
  * exactly — they are the oracle contract.
  */
class HllSketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Production-shaped hashes: the md5 60-bit key hash (HLL's rank
    * statistic needs true avalanche — the polyhash∘affine family
    * measurably fails it, see HllSketch's scaladoc).
    */
  private def hashes(ids: Seq[Long]): Seq[Long] =
    ids.map(i => HllSketch.hash60Of(i.toString))

  private def registersOf(data: Seq[Long], parts: Int): Seq[Long] =
    data.toDF("h").repartition(parts)
      .agg(HllSketch.hll($"h").as("hll"))
      .collect()(0).getSeq[Long](0)

  /** Driver-side replay of the register build. */
  private def replay(data: Seq[Long]): Seq[Long] = {
    val m = new Array[Long](HllSketch.M)
    data.filter(_ >= 0).foreach { ph =>
      val b = (ph % HllSketch.M).toInt
      val r = HllSketch.rankOf(ph)
      if (r > m(b)) m(b) = r
    }
    m.toSeq
  }

  test("registers are a pure function of the input SET, any partitioning") {
    val data = hashes(1L to 400L) ++ hashes(1L to 200L) // dups invisible
    val expected = replay(data)
    for (parts <- Seq(1, 7, 32))
      assert(registersOf(data, parts) == expected, s"parts=$parts")
  }

  test("merge is element-wise max: hll(A ++ B) == max(hll(A), hll(B))") {
    val a = hashes(1L to 300L)
    val b = hashes(250L to 600L)
    val ra = replay(a); val rb = replay(b)
    val merged = ra.zip(rb).map { case (x, y) => math.max(x, y) }
    assert(registersOf(a ++ b, 8) == merged)
  }

  test("hllMerge aggregator: union-of-sketches == sketch-of-union, any grouping") {
    // three disjoint-ish "sources" sketched separately, then folded by
    // the second-level MergeAgg — must equal the direct sketch over the
    // union (q142's in-query proof, here at the aggregator level)
    val srcs = Seq(hashes(1L to 300L), hashes(250L to 600L), hashes(590L to 700L))
    val perSrc = srcs.zipWithIndex.flatMap { case (hs, i) => hs.map(h => (i, h)) }
    val rolled = perSrc.toDF("src", "h")
      .groupBy($"src").agg(HllSketch.hll($"h").as("regs"))
      .agg(HllSketch.hllMerge($"regs").as("regs"))
      .collect()(0).getSeq[Long](0)
    assert(rolled == replay(srcs.flatten))
    // empty rollup input folds to all-empty registers, not a crash
    val empty = Seq.empty[(Int, Long)].toDF("src", "h")
      .groupBy($"src").agg(HllSketch.hll($"h").as("regs"))
      .agg(HllSketch.hllMerge($"regs").as("regs"))
      .collect()(0).getSeq[Long](0)
    assert(empty == Seq.fill(HllSketch.M)(0L))
  }

  test("hllMerge: a NULL row and a short (empty) register array change nothing") {
    // the rollup's input contract: NULL rows are skipped, and an array
    // shorter than m folds as all-empty registers — whichever partition
    // (reduce) or partial merge they land in
    val regs = replay(hashes(1L to 500L))
    val rows: Seq[Option[Seq[Long]]] =
      Seq(None, Some(Seq.empty[Long]), Some(regs), Some(Seq.empty[Long]), None)
    for (parts <- Seq(1, 5)) {
      val rolled = rows.toDF("regs").repartition(parts)
        .agg(HllSketch.hllMerge($"regs").as("regs"))
        .collect()(0).getSeq[Long](0)
      assert(rolled == regs, s"parts=$parts")
    }
  }

  test("rank convention is pinned: WBits+1 - bit-length of the high bits") {
    // golden anchors for the oracle's binary-string-length replay
    assert(HllSketch.rankOf(0L) == 53)                    // w = 0
    assert(HllSketch.rankOf(255L) == 53)                  // bucket only
    assert(HllSketch.rankOf(256L) == 52)                  // w = 1
    assert(HllSketch.rankOf(513L) == 51)                  // w = 2 -> bitlen 2
    assert(HllSketch.rankOf((1L << 60) - 1) == 1)         // w at max bitlen 52
    for (ph <- Seq(7L, 1000L, 123456789L, (1L << 59) + 5)) {
      val w = ph / HllSketch.M
      val expected = if (w == 0) 53 else 53 - java.lang.Long.toBinaryString(w).length
      assert(HllSketch.rankOf(ph) == expected, s"ph=$ph")
    }
  }

  test("hash60 column matches the driver md5 replay (oracle contract)") {
    val ids = (1L to 50L) ++ Seq(-7L, 1234567890123L)
    val got = ids.map(_.toString).toDF("ks")
      .select($"ks", HllSketch.hash60($"ks").as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    ids.foreach { i =>
      assert(got(i.toString) == HllSketch.hash60Of(i.toString), s"id=$i")
      assert(got(i.toString) >= 0 && got(i.toString) < (1L << 60))
    }
  }

  test("raw estimate lands within the statistical error band (saturated)") {
    val n = 10000
    val regs = registersOf(hashes(1L to n.toLong), 16)
    val sum = regs.map(r => 1L << (53 - r.toInt)).sum
    val est = (((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0)
      * HllSketch.ScaleLit.toDouble) / sum.toDouble
    // sigma = 1.04/sqrt(256) = 6.5%; allow 3 sigma
    assert(math.abs(est / n - 1.0) < 0.2, s"est=$est")
  }

  test("linear counting covers the small range the raw estimate misses") {
    val n = 100
    val regs = registersOf(hashes(1L to n.toLong), 4)
    val zeros = regs.count(_ == 0L)
    assert(zeros > 0)
    val lc = 256.0 * math.log(256.0 / zeros)
    assert(math.abs(lc / n - 1.0) < 0.2, s"lc=$lc zeros=$zeros")
  }

  test("negative inputs (the null sentinel) are skipped, not registered") {
    val z = Seq(-1L, -1L).toDF("h").agg(HllSketch.hll($"h").as("hll"))
      .collect()(0).getSeq[Long](0)
    assert(z.length == HllSketch.M && z.forall(_ == 0L))
  }
}
