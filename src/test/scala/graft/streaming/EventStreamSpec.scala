package graft.streaming

import java.nio.file.Files

import graft.{Tables, TempDirs, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming correctness against the batch oracle: the same declarative
  * transform over the same rows must produce identical results whether
  * executed incrementally (file-source stream, append mode after
  * watermark close) or as one batch.
  */
class EventStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val srcDir: String = {
    // µs-converted copy of the events table as the stream's source drop
    val dir = TempDirs("graft_stream")
    Tables.load(spark, "/root/testdata/sf0.001", "events")
      .write.mode("overwrite").parquet(s"$dir/drop")
    s"$dir/drop"
  }

  test("windowed counts: streaming result matches the batch computation") {
    val streamed = EventStream.runToMemory(spark, srcDir, "win_counts",
      df => EventStream.windowedCounts(df))
    val batch = EventStream.windowedCounts(
      spark.read.schema(EventStream.schema).parquet(srcDir))

    // append mode only emits windows closed by the watermark; the final
    // in-flight windows stay in state. Compare on the emitted subset.
    val s = streamed.orderBy($"window_start", $"event_type")
      .collect().map(_.toSeq)
    val maxEmitted = streamed.agg(max($"window_start")).collect()(0).getTimestamp(0)
    val b = batch.filter($"window_start" <= maxEmitted)
      .orderBy($"window_start", $"event_type")
      .collect().map(_.toSeq)
    assert(s.nonEmpty)
    assert(s.toSeq == b.toSeq)
  }

  test("stateful sessionization (flatMapGroupsWithState) matches session_window on closed sessions") {
    import org.apache.spark.sql.Dataset
    val src = spark.readStream.schema(EventStream.schema).parquet(srcDir)
    val typed: Dataset[EventStream.Event] = src
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventStream.Event]
    val q = EventStream.sessionizeStateful(typed)
      .writeStream.outputMode("append").format("memory")
      .queryName("stateful_sessions").start()
    q.processAllAvailable(); q.stop()
    val stateful = spark.table("stateful_sessions")

    // batch oracle: session_window over the same rows
    val batch = EventStream.sessionize(
      spark.read.schema(EventStream.schema).parquet(srcDir))
    // compare the sessions the stateful variant closed (open sessions
    // stay in state; session_window end = last+gap, stateful end = last)
    val sRows = stateful
      .select($"user_id", $"session_start", $"n_events")
      .collect().map(_.toSeq).toSet
    val bRows = batch
      .select($"user_id", $"session_start", $"n_events")
      .collect().map(_.toSeq).toSet
    assert(sRows.nonEmpty)
    assert(sRows.subsetOf(bRows),
      s"stateful emitted sessions not in batch oracle: ${(sRows -- bRows).take(3)}")
  }

  test("windowed sketches: streamed KMV state is bit-identical to a batch replay") {
    val streamed = EventStream.runToMemory(spark, srcDir, "win_sketch",
      df => EventStream.windowedSketches(df))
    val batch = EventStream.windowedSketches(
      spark.read.schema(EventStream.schema).parquet(srcDir))
    assert(streamed.count() > 0)
    val maxEmitted = streamed.agg(max($"window_start")).collect()(0).getTimestamp(0)
    val sketchCols = Seq($"window_start", $"n_events", $"est_users",
      $"kmv_users", $"cms_types", $"heavy_type_est", $"hll_users",
      $"est_users_hll", $"hll_zero_regs", $"est_users_hll_lc_micro",
      $"bk_value_sample", $"est_value_p25_micro", $"est_value_p50_micro",
      $"est_value_p75_micro", $"est_value_p95_micro", $"eps_rank_ppm",
      $"wb_value_sample", $"n_wb", $"wb_mass_kept",
      $"est_value_wp25_micro", $"est_value_wp50_micro",
      $"est_value_wp75_micro", $"est_value_wp95_micro")
    val sRows = streamed.select(sketchCols: _*)
      .collect().map(_.toSeq).toSet
    val bRows = batch.filter($"window_start" <= maxEmitted)
      .select(sketchCols: _*)
      .collect().map(_.toSeq).toSet
    // KMV and HLL state are pure functions of each window's input SET,
    // the CMS matrix of its input MULTISET: the incrementally-built
    // sketches (state-store merges across micro-batches) must EQUAL the
    // one-shot batch sketches, estimates included — not approximate them
    assert(sRows == bRows,
      s"stream/batch sketch divergence: ${(sRows -- bRows).take(2)} vs ${(bRows -- sRows).take(2)}")
    // MG guarantee per emitted window: every event type with true count
    // > n/(k+1) (k=8) appears among the candidates
    val cand = streamed.select($"window_start", $"heavy_type_candidates")
      .collect().map(r => r.getTimestamp(0) -> r.getSeq[String](1).toSet).toMap
    val truth = spark.read.schema(EventStream.schema).parquet(srcDir)
      .groupBy(window($"ts", "1 hour"), $"event_type").count()
      .select($"window.start".as("ws"), $"event_type", $"count")
      .collect().groupBy(_.getTimestamp(0))
    cand.foreach { case (ws, types) =>
      val rows = truth.getOrElse(ws, Array.empty)
      val n = rows.map(_.getLong(2)).sum
      val heavy = rows.filter(_.getLong(2) * 9 > n).map(_.getString(1)).toSet
      assert(heavy.subsetOf(types),
        s"window $ws: heavy types ${heavy -- types} missing from candidates")
    }
    // HLL linear-counting branch (the q140 small-range convention): V =
    // still-empty registers from the emitted state, lc = m·ln(m/V)
    // micro-quantized — replayed row-for-row on the driver, including
    // the degenerate zero-user window shape (V = m ⇒ lc exactly 0,
    // where the raw estimator would report ~α·m ≈ 184)
    streamed.select($"hll_users", $"hll_zero_regs", $"est_users_hll_lc_micro")
      .collect().foreach { r =>
        val v = r.getSeq[Long](0).count(_ == 0L)
        assert(r.getLong(1) == v, s"zero_regs ${r.getLong(1)} != counted $v")
        if (v > 0) {
          val exp = math.floor(Math.log(256.0 / v) * 256000000.0).toLong
          assert(r.getLong(2) == exp, s"lc ${r.getLong(2)} != replay $exp")
        } else assert(r.isNullAt(2))
      }
    // bottom-k value sample per window (q141's stream face): the sample
    // is a sub-multiset of the window's exact non-null value multiset,
    // sized min(64, count), sorted ascending, and the emitted median is
    // its ⌈m/2⌉-th order statistic
    val exactVals = spark.read.schema(EventStream.schema).parquet(srcDir)
      .filter($"value".isNotNull)
      .groupBy(window($"ts", "1 hour"))
      .agg(collect_list(($"value".cast("decimal(18,6)") * 1000000)
        .cast("long")).as("vs"))
      .select($"window.start".as("ws"), $"vs")
      .collect().map(r => r.getTimestamp(0) -> r.getSeq[Long](1)).toMap
    streamed.select($"window_start", $"bk_value_sample",
        $"est_value_p25_micro", $"est_value_p50_micro",
        $"est_value_p75_micro", $"est_value_p95_micro", $"eps_rank_ppm")
      .collect().foreach { r =>
        val sample = r.getSeq[Long](1)
        val exact = exactVals.getOrElse(r.getTimestamp(0), Seq.empty)
        assert(sample.size == math.min(64, exact.size))
        assert(sample == sample.sorted)
        val counts = exact.groupBy(identity).map { case (v, g) => v -> g.size }
        sample.groupBy(identity).foreach { case (v, g) =>
          assert(g.size <= counts.getOrElse(v, 0),
            s"sampled value $v exceeds its multiplicity in the window")
        }
        // q141 column-set parity: every quantile target is the type-1
        // ⌈q·m/100⌉ order statistic of the emitted sample, and the face
        // carries the DKW bound for ITS sample size (k=64, δ=0.01)
        Seq(25, 50, 75, 95).zipWithIndex.foreach { case (q, i) =>
          if (sample.nonEmpty)
            assert(r.getLong(2 + i) == sample((q * sample.size + 99) / 100 - 1),
              s"p$q mismatch")
          else assert(r.isNullAt(2 + i), s"p$q of empty sample must be NULL")
        }
        assert(r.getLong(6) == graft.functions.BottomK.epsPpm(64, 0.01))
      }
    // weighted bottom-k (q151's stream face): the sample is a
    // sub-multiset of the window's POSITIVE representable value
    // multiset, sized min(64, positives), sorted by (value, weight),
    // and every emitted weighted quantile replays from the emitted
    // (sample, n_wb) via q151's two-branch estimator — exact
    // cumulative-mass read when m = n_wb, PPS uniform order-statistic
    // read when saturated
    val exactPos = spark.read.schema(EventStream.schema).parquet(srcDir)
      .filter($"value".isNotNull)
      .select($"ts", ($"value".cast("decimal(18,6)") * 1000000)
        .cast("long").as("v"))
      .filter($"v" > 0)
      .groupBy(window($"ts", "1 hour"))
      .agg(collect_list($"v").as("vs"))
      .select($"window.start".as("ws"), $"vs")
      .collect().map(r => r.getTimestamp(0) -> r.getSeq[Long](1)).toMap
    streamed.select($"window_start", $"wb_value_sample", $"n_wb",
        $"wb_mass_kept", $"est_value_wp25_micro", $"est_value_wp50_micro",
        $"est_value_wp75_micro", $"est_value_wp95_micro")
      .collect().foreach { r =>
        val sample = r.getSeq[org.apache.spark.sql.Row](1)
          .map(p => (p.getLong(0), p.getLong(1)))
        val nWb = r.getLong(2)
        val pos = exactPos.getOrElse(r.getTimestamp(0), Seq.empty)
        assert(nWb == pos.size.toLong)
        assert(sample.size == math.min(64, pos.size))
        assert(sample == sample.sorted)
        sample.foreach { case (v, w) => assert(v == w,
          "stream weighted sample rides the value as its own mass") }
        val counts = pos.groupBy(identity).map { case (v, g) => v -> g.size }
        sample.groupBy(_._1).foreach { case (v, g) =>
          assert(g.size <= counts.getOrElse(v, 0),
            s"sampled value $v exceeds its multiplicity in the window")
        }
        val ws = sample.map(_._2.toDouble).sum
        assert(r.getDouble(3) == ws)
        Seq(25, 50, 75, 95).zipWithIndex.foreach { case (q, i) =>
          if (sample.isEmpty) assert(r.isNullAt(4 + i))
          else if (sample.size.toLong == nWb) {
            // exact branch: smallest value whose cumulative mass
            // reaches q% of the kept mass
            val target = q * sample.map(x => BigInt(x._2)).sum
            val cum = sample.scanLeft(BigInt(0))(_ + _._2).tail
            val exp = sample.zip(cum).find(_._2 * 100 >= target).get._1._1
            assert(r.getLong(4 + i) == exp, s"wp$q exact-branch mismatch")
          } else {
            val exp = sample((q * sample.size + 99) / 100 - 1)._1
            assert(r.getLong(4 + i) == exp, s"wp$q saturated-branch mismatch")
          }
        }
      }
    // CMS guarantee per emitted window: every MG candidate's estimate is
    // one-sided (>= its true count) — the structural property, pinned
    // exactly, that lets the stream answer HOW OFTEN without q86's exact
    // second pass
    val est = streamed.select($"window_start", $"heavy_type_est")
      .collect().map(r => r.getTimestamp(0) -> r.getMap[String, Long](1)).toMap
    est.foreach { case (ws, m) =>
      val exact = truth.getOrElse(ws, Array.empty)
        .map(r => r.getString(1) -> r.getLong(2)).toMap
      m.foreach { case (t, e) =>
        assert(e >= exact.getOrElse(t, 0L),
          s"window $ws type $t: cms est $e < exact ${exact(t)}")
      }
    }
  }

  test("windowed sketches: non-finite / decimal-overflow values never pollute the bottom-k sample") {
    // the r12 ADVICE streaming finding: a NaN/Inf or decimal(18,6)-
    // overflowing value passes value.isNotNull but NULLs out of the
    // decimal route, and an ungated hash would push (h, NULL→0) into
    // the UDAF's primitive tuple input — a silent bogus 0-micro sample
    // entry skewing the quantiles low. The hash is gated on the DERIVED
    // micros (q141's batch convention); this fixture fails the old gate.
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2025-06-01 00:10:00")
    def ev(id: Long, v: Option[Double]) = (id, t0, id, "click", v, "{}")
    val rows = Seq(
      ev(1, Some(1.0)), ev(2, Some(2.0)), ev(3, Some(3.0)),
      ev(4, Some(Double.NaN)), ev(5, Some(Double.PositiveInfinity)),
      ev(6, Some(Double.NegativeInfinity)),
      ev(7, Some(1e30)), ev(8, Some(-1e30)), // overflow decimal(18,6)
      // representable but MASS-LESS: the weighted face must exclude
      // them (weight must be positive) while the uniform face samples
      // them (they are real values)
      ev(10, Some(-5.0)), ev(11, Some(0.0)),
      ev(9, None)) :+
      // far-future sentinel: pushes the watermark past t0's window so
      // append mode emits it
      (99L, Timestamp.valueOf("2025-06-01 05:00:00"), 99L, "b",
        Some(1.0): Option[Double], "{}")
    val dir = TempDirs("graft_poison_stream")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/drop")

    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val r = df.filter($"window_start" === Timestamp.valueOf("2025-06-01 00:00:00"))
        .select($"n_events", $"bk_value_sample", $"est_value_p25_micro",
          $"est_value_p50_micro", $"est_value_p75_micro",
          $"est_value_p95_micro",
          $"wb_value_sample", $"n_wb", $"est_value_wp25_micro",
          $"est_value_wp50_micro", $"est_value_wp75_micro",
          $"est_value_wp95_micro")
        .collect()
      assert(r.length == 1)
      assert(r(0).getLong(0) == 11L) // count() still sees every row
      // uniform face: the five decimal-representable finite values —
      // no bogus 0-micro entries from the six poisoned rows (zero and
      // negative ARE real values to the uniform sample)
      assert(r(0).getSeq[Long](1) ==
        Seq(-5000000L, 0L, 1000000L, 2000000L, 3000000L))
      assert(r(0).getLong(2) == 0L && r(0).getLong(3) == 1000000L &&
        r(0).getLong(4) == 2000000L && r(0).getLong(5) == 3000000L)
      // weighted face: only POSITIVE values carry mass — the poisoned
      // rows AND the zero/negative rows are excluded; m = n_wb = 3 so
      // the exact cumulative-mass branch runs (W = 6e6: wp25 is the
      // first value at ≥ 1.5e6 cumulative → 2e6; wp50 at ≥ 3e6 → 2e6;
      // wp75/wp95 → 3e6) — visibly ≠ the uniform reads above
      assert(r(0).getSeq[org.apache.spark.sql.Row](6)
        .map(p => (p.getLong(0), p.getLong(1))) ==
        Seq((1000000L, 1000000L), (2000000L, 2000000L), (3000000L, 3000000L)))
      assert(r(0).getLong(7) == 3L)
      assert(r(0).getLong(8) == 2000000L && r(0).getLong(9) == 2000000L &&
        r(0).getLong(10) == 3000000L && r(0).getLong(11) == 3000000L)
    }
    check(EventStream.runToMemory(spark, s"$dir/drop", "poison_sketch",
      df => EventStream.windowedSketches(df)))
    check(EventStream.windowedSketches(
      spark.read.schema(EventStream.schema).parquet(s"$dir/drop")))
  }

  test("absorbToStore: stream-absorbed sketch state == one-shot batch absorb; full redelivery is a no-op") {
    import graft.operators.SketchStore
    val root = TempDirs("graft_stream_store")
    val store = s"$root/state"
    // one file per micro-batch so the store is built across MANY
    // incremental absorbs, not one
    val src = spark.read.schema(EventStream.schema).parquet(srcDir)
    src.repartition(5).write.parquet(s"$root/drops")
    EventStream.absorbToStore(spark, s"$root/drops", store,
      s"$root/ckpt1", maxFilesPerTrigger = 1)
    def state(): Map[(String, String), (Seq[Long], Seq[Long])] =
      SketchStore.read(spark, store).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getSeq[Long](2), r.getSeq[Long](3))).toMap
    val streamed = state()
    // one-shot reference over the same rows — both sketch families
    val oneShot = SketchStore.batchSketches(src).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getSeq[Long](2), r.getSeq[Long](3))).toMap
    assert(streamed.nonEmpty)
    assert(streamed == oneShot,
      "stream-absorbed state must equal the one-shot batch absorb")
    // worst-case at-least-once: a FRESH checkpoint re-delivers every
    // micro-batch; sketch-merge idempotence must leave state identical
    EventStream.absorbToStore(spark, s"$root/drops", store,
      s"$root/ckpt2", maxFilesPerTrigger = 1)
    assert(state() == streamed, "full redelivery must be a no-op")
  }

  test("foreachBatch parquet sink: checkpointed write lands every closed window") {
    val out = TempDirs("graft_fes")
    EventStream.runToParquet(spark, srcDir, s"$out/data", s"$out/ckpt",
      df => EventStream.windowedCounts(df))
    val landed = EventStream.readSink(spark, s"$out/data")
    val emitted = EventStream.runToMemory(spark, srcDir, "fes_mem",
      df => EventStream.windowedCounts(df))
    assert(landed.count() == emitted.count())
  }

  test("foreachBatch parquet sink is idempotent on batch replay") {
    val out = TempDirs("graft_fes_replay")
    EventStream.runToParquet(spark, srcDir, s"$out/data", s"$out/ckpt1",
      df => EventStream.windowedCounts(df))
    val first = EventStream.readSink(spark, s"$out/data").count()
    // Fresh checkpoint + same source ⇒ Structured Streaming re-delivers
    // every micro-batch (the worst-case replay). The batchId-keyed
    // overwrite must land on the same paths, not append duplicates.
    EventStream.runToParquet(spark, srcDir, s"$out/data", s"$out/ckpt2",
      df => EventStream.windowedCounts(df))
    val second = EventStream.readSink(spark, s"$out/data").count()
    assert(first > 0)
    assert(second == first, s"replay duplicated rows: $first -> $second")
  }

  test("streaming dedup: redelivered events collapse to one row each") {
    // double-deliver the whole source (worst-case at-least-once replay)
    val dupDir = TempDirs("graft_dup")
    val src = spark.read.schema(EventStream.schema).parquet(srcDir)
    src.unionAll(src).write.mode("overwrite").parquet(s"$dupDir/drop")
    val deduped = EventStream.runToMemory(spark, s"$dupDir/drop", "dedup",
      df => EventStream.dedupe(df))
    val distinct = src.select($"event_id").distinct().count()
    assert(deduped.count() == distinct,
      s"expected $distinct unique events, got ${deduped.count()}")
  }

  test("stream-stream interval join matches the batch join on emitted rows") {
    val streamed = EventStream.runToMemory(spark, srcDir, "attrib",
      df => EventStream.purchaseAttribution(df))
    val batch = EventStream.purchaseAttribution(
      spark.read.schema(EventStream.schema).parquet(srcDir))
    val sRows = streamed.collect().map(_.toSeq).toSet
    val bRows = batch.collect().map(_.toSeq).toSet
    assert(sRows.nonEmpty)
    // append mode may hold back pairs the watermark hasn't sealed yet —
    // everything emitted must be a true batch pair
    assert(sRows.subsetOf(bRows),
      s"streamed pairs missing from batch oracle: ${(sRows -- bRows).take(3)}")
    // and the join must not be trivially empty relative to batch
    assert(sRows.size >= bRows.size / 2)
  }

  test("late events: in-watermark lates merge into sessions, too-late rows drop (gaps-and-islands oracle)") {
    // Manufactured fixture, watermark = 15 minutes (a second setting next
    // to the default 10), gap = 30 minutes. Three single-file drops
    // processed one per micro-batch (maxFilesPerTrigger=1, mtime order):
    //   drop1  t0+0m  u1   t0+5m u1   t0+0m u2        (all on time)
    //   drop2  t0+60m u1   t0+4m u2                   (u2's is LATE but
    //          above the t0-10m watermark → must merge into u2's session)
    //   drop3  t0+120m u3  t0-30m u2                  (u2's is TOO LATE:
    //          below the t0+45m watermark → must be dropped)
    // Expected closed sessions afterwards (watermark ends at t0+105m):
    //   u1 [t0, t0+5m] n=2 (closed by the 55m gap), u1 [t0+60m] n=1 and
    //   u2 [t0, t0+4m] n=2 (closed by event-time timeout); u3's session
    //   times out at t0+150m > watermark → still open, not emitted.
    import java.io.File
    import java.sql.Timestamp
    import org.apache.spark.sql.expressions.Window

    val t0 = Timestamp.valueOf("2025-03-01 12:00:00").getTime
    def ts(offMin: Long) = new Timestamp(t0 + offMin * 60000L)
    def row(id: Long, offMin: Long, user: Long, value: Double) =
      (id, ts(offMin), user, "click", value, "{}")
    val drops = Seq(
      Seq(row(1, 0, 1, 1.0), row(2, 5, 1, 2.0), row(3, 0, 2, 3.0)),
      Seq(row(4, 60, 1, 4.0), row(5, 4, 2, 5.0)),
      Seq(row(6, 120, 3, 6.0), row(7, -30, 2, 7.0)))

    val dir = TempDirs("graft_late")
    drops.zipWithIndex.foreach { case (rows, i) =>
      val tmp = TempDirs("graft_late_tmp")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = new File(dir, f"drop$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L) // strict mtime order
    }

    val src = spark.readStream.schema(EventStream.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventStream.Event]
    val q = EventStream.sessionizeStateful(src, watermark = "15 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("late_sessions").start()
    q.processAllAvailable(); q.stop()
    val emitted = spark.table("late_sessions")
      .select($"user_id", $"session_start", $"session_end", $"n_events",
        $"total_value")
      .collect().map(_.toSeq).toSet

    // Batch oracle: q59's gaps-and-islands rewrite over the rows the
    // watermark admitted (everything except the too-late event_id=7).
    val accepted = drops.flatten.filter(_._1 != 7L)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val brk = when(lag($"ts", 1).over(w).isNull ||
      unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w)) >=
        30L * 60 * 1000000, 1).otherwise(0)
    val oracle = accepted
      .withColumn("brk", brk)
      .withColumn("session_id", sum($"brk").over(wRun))
      .groupBy($"user_id", $"session_id")
      .agg(min($"ts").as("session_start"), max($"ts").as("session_end"),
        count(lit(1)).as("n_events"), sum($"value").as("total_value"))
      .select($"user_id", $"session_start", $"session_end", $"n_events",
        $"total_value")
      .collect().map(_.toSeq).toSet

    // u3's single-event session is the only one still open in state
    val openU3 = Seq[Any](3L, ts(120), ts(120), 1L, 6.0)
    assert(oracle.contains(openU3))
    assert(emitted == oracle - openU3,
      s"emitted=$emitted\noracle-minus-open=${oracle - openU3}")
    // the late-but-admitted event really landed in u2's session
    assert(emitted.exists(r => r(0) == 2L && r(3) == 2L && r(2) == ts(4)))
  }

  test("sessionization: gap-based session windows per user") {
    val sessions = EventStream.runToMemory(spark, srcDir, "sessions",
      df => EventStream.sessionize(df, gap = "30 minutes"))
    assert(sessions.count() > 0)
    // session invariant: end - start >= 0 and every session has events
    assert(sessions.filter($"session_end" < $"session_start").count() == 0)
    assert(sessions.filter($"n_events" <= 0).count() == 0)
    // batch equivalence on the emitted subset
    val batch = EventStream.sessionize(
      spark.read.schema(EventStream.schema).parquet(srcDir))
    val emitted = sessions.count()
    val total = batch.count()
    assert(emitted <= total)
  }

  private def alertRows(table: String): Seq[Seq[Any]] =
    spark.table(table)
      .select($"event_type", $"window_start", $"window_end", $"n_events",
        $"baseline_mean", $"baseline_std", $"z", $"anomalous")
      .orderBy($"event_type", $"window_start")
      .collect().map(_.toSeq).toSeq

  /** Driver replay of rateMonitor's exact EW arithmetic over (type,
    * ts-ms) rows — the independent oracle for the streamed alerts.
    */
  private def ewReplay(rows: Seq[(String, Long)], windowMs: Long,
      alpha: Double = 0.25, zThr: Double = 3.0, minBase: Long = 3L)
      : Map[String, Seq[(Long, Long, Double, Double, Double, Boolean)]] = {
    val counts = rows
      .groupBy { case (t, ms) => (t, Math.floorDiv(ms, windowMs) * windowMs) }
      .view.mapValues(_.size.toLong).toMap
    counts.groupBy(_._1._1).map { case (t, m) =>
      var mean = 0.0; var varr = 0.0; var n = 0L
      val alerts = m.toSeq.map { case ((_, w), c) => (w, c) }
        .sortBy(_._1).map { case (w, c) =>
          val std = math.sqrt(varr)
          val z = if (std > 0.0) (c.toDouble - mean) / std else 0.0
          val a = (w, c, mean, std, z, n >= minBase && math.abs(z) > zThr)
          if (n == 0L) { mean = c.toDouble; varr = 0.0; n = 1L }
          else {
            val diff = c.toDouble - mean
            val incr = alpha * diff
            mean += incr; varr = (1.0 - alpha) * (varr + diff * incr); n += 1
          }
          a
        }
      t -> alerts
    }
  }

  test("rate monitor: streamed EW alerts are bit-identical to the driver replay") {
    val src = spark.readStream.schema(EventStream.schema).parquet(srcDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventStream.Event]
    val q = EventStream.rateMonitor(src)
      .writeStream.outputMode("append").format("memory")
      .queryName("rate_mon").start()
    q.processAllAvailable(); q.stop()
    val got = alertRows("rate_mon")
    assert(got.nonEmpty)
    val replay = ewReplay(
      spark.read.schema(EventStream.schema).parquet(srcDir)
        .select($"event_type", $"ts").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime)).toSeq,
      windowMs = 3600000L)
    // append mode: each type emits a PREFIX of its replay (the final
    // in-flight windows stay open in state)
    got.groupBy(_.head.asInstanceOf[String]).foreach { case (t, rows) =>
      val exp = replay(t).take(rows.length).map { case (w, c, m, sd, z, an) =>
        Seq[Any](t, new java.sql.Timestamp(w),
          new java.sql.Timestamp(w + 3600000L), c, m, sd, z, an)
      }
      assert(rows == exp, s"type $t:\n got=$rows\n exp=$exp")
    }
  }

  test("rate monitor: a traffic burst is flagged; trigger schedule changes nothing") {
    import java.io.File
    import java.sql.Timestamp
    // counts per hour for type 'a': 9,10,11,10 (baseline), 300 (burst),
    // 10 — plus a far-future sentinel of type 'b' pushing the watermark
    // past hour 5's close. Baseline counts VARY so the EW variance is
    // nonzero (identical counts ⇒ std 0 ⇒ z forced to 0 by the guard).
    val h0 = 1700000000000L - Math.floorMod(1700000000000L, 3600000L)
    def ts(hour: Int, offMin: Int) =
      new Timestamp(h0 + hour * 3600000L + offMin * 60000L)
    val perHour = Seq(9, 10, 11, 10, 300, 10)
    var id = 0L
    val events = perHour.zipWithIndex.flatMap { case (n, h) =>
      (0 until n).map { i =>
        id += 1; (id, ts(h, i % 50), 1L, "a", 1.0, "{}")
      }
    } :+ { id += 1; (id, ts(6, 30), 2L, "b", 1.0, "{}") }

    def run(chunks: Seq[Seq[(Long, Timestamp, Long, String, Double, String)]],
        name: String): Seq[Seq[Any]] = {
      val dir = TempDirs(s"graft_rate_$name")
      chunks.zipWithIndex.foreach { case (rows, i) =>
        val tmp = TempDirs("graft_rate_tmp")
        rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
        val dst = new File(dir, f"drop$i%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(1700000000000L + i * 60000L)
      }
      val src = spark.readStream.schema(EventStream.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[EventStream.Event]
      val q = EventStream.rateMonitor(src)
        .writeStream.outputMode("append").format("memory")
        .queryName(s"rate_$name").start()
      q.processAllAvailable(); q.stop()
      alertRows(s"rate_$name")
    }

    val single = run(Seq(events), "single")
    // hours 0..5 of 'a' close (watermark = sentinel - 10min > h6)
    val a = single.filter(_.head == "a")
    assert(a.length == 6, s"closed-window count: $a")
    // exactly the burst window is anomalous, judged against its PRIOR
    val flagged = a.filter(_(7).asInstanceOf[Boolean])
    assert(flagged.map(_(1)) == Seq(ts(4, 0)), s"flagged=$flagged")
    assert(flagged.head(3) == 300L)
    // early windows can never flag (baseline not yet credible)
    assert(a.take(3).forall(!_(7).asInstanceOf[Boolean]))
    // replay parity on the crafted data too
    val replay = ewReplay(events.map(e => (e._4, e._2.getTime)), 3600000L)
    assert(a == replay("a").take(6).map { case (w, c, m, sd, z, an) =>
      Seq[Any]("a", new Timestamp(w), new Timestamp(w + 3600000L),
        c, m, sd, z, an)
    })

    // schedule independence: three file-at-a-time drops cut MID-WINDOW
    // (hour 4's burst split across two micro-batches) emit the same rows
    val chunked = run(Seq(events.take(35), events.slice(35, 200),
      events.drop(200)), "chunked")
    assert(chunked == single, s"\nchunked=$chunked\nsingle=$single")

    // checkpointed restart: stop after the baseline hours, restart a
    // NEW query on the same checkpoint with the burst — the EW baseline
    // and open-window counts must resume from the state store,
    // producing exactly the single-run alert set (no duplicates from
    // re-emission, no gaps from lost state). The cut is at a WINDOW
    // boundary on purpose: restarting mid-window makes the second
    // half of that window genuinely late vs the restored watermark and
    // Structured Streaming (correctly) drops it — a first cut of this
    // test split the burst mid-hour and measured exactly that drop.
    val dir = TempDirs("graft_rate_restart")
    val ckpt = s"$dir/ckpt"
    val outP = s"$dir/out"
    val srcDir2 = s"$dir/drops"
    new File(srcDir2).mkdirs()
    def drop(rows: Seq[(Long, Timestamp, Long, String, Double, String)],
        i: Int): Unit = {
      val tmp = TempDirs("graft_rate_rtmp")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new File(srcDir2, f"drop$i%02d.parquet").toPath)
    }
    def runOnce(): Unit = {
      val src = spark.readStream.schema(EventStream.schema).parquet(srcDir2)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[EventStream.Event]
      val q = EventStream.rateMonitor(src)
        .writeStream.outputMode("append").format("parquet")
        .option("checkpointLocation", ckpt).option("path", outP)
        .start()
      q.processAllAvailable(); q.stop()
    }
    drop(events.take(40), 0) // hours 0..3 — ends exactly at the h4 boundary
    runOnce() // closes hours 0..2, leaves hour 3 + EW baseline in state
    drop(events.drop(40), 1) // the burst, hour 5, and the sentinel
    runOnce() // NEW query instance resumes from the checkpoint
    val resumed = spark.read.parquet(outP)
      .select($"event_type", $"window_start", $"window_end", $"n_events",
        $"baseline_mean", $"baseline_std", $"z", $"anomalous")
      .orderBy($"event_type", $"window_start")
      .collect().map(_.toSeq).toSeq
    assert(resumed == single, s"\nresumed=$resumed\nsingle=$single")
  }
}
