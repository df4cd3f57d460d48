package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{DataRef, FrameSource}
import graft.constraints.{NoGap, NoOverlap}
import graft.ops.Intervals

/** Overlap/gap taxonomy tests mirroring the reference's fixtures
  * (`tests/integration/conftest.py:226-716`): single entry, disjoint,
  * non-singleton overlap, singleton (boundary) overlap, subset-contained,
  * exact duplicates; gaps incl. threshold-exact cases.
  */
class IntervalSpec extends AnyFunSuite {
  import TestSpark._

  private def dateOverlapDf = intervalDf(Seq(
    // key 1: single entry — never a violation
    (1, "2016-01-01", "2016-01-10"),
    // key 2: disjoint — no violation
    (2, "2016-01-01", "2016-01-05"),
    (2, "2016-01-10", "2016-01-20"),
    // key 3: non-singleton overlap
    (3, "2016-01-01", "2016-01-10"),
    (3, "2016-01-05", "2016-01-20"),
    // key 4: singleton (boundary) overlap — violation only if end included
    (4, "2016-01-01", "2016-01-10"),
    (4, "2016-01-10", "2016-01-20"),
    // key 5: subset containment
    (5, "2016-01-01", "2016-01-31"),
    (5, "2016-01-10", "2016-01-15"),
    // key 6: exact duplicates (scenario 1)
    (6, "2016-01-01", "2016-01-10"),
    (6, "2016-01-01", "2016-01-10")))

  private def oRef = DataRef(FrameSource(dateOverlapDf, "date_table_overlap"))

  test("overlap violations with end included: keys 3,4,5,6 violate of 6") {
    val c = NoOverlap(oRef, Seq("id1"), Seq("date_start"), Seq("date_end"),
      maxRelativeNViolations = 4.0 / 6, endIncluded = true, dimensions = 1,
      kind = "date ranges")
    assert(c.test(spark).outcome)
    val tight = c.copy(maxRelativeNViolations = 3.0 / 6)
    assert(!tight.test(spark).outcome)
  }

  test("overlap violations with end excluded: boundary key 4 no longer violates") {
    val c = NoOverlap(oRef, Seq("id1"), Seq("date_start"), Seq("date_end"),
      maxRelativeNViolations = 3.0 / 6, endIncluded = false, dimensions = 1,
      kind = "date ranges")
    assert(c.test(spark).outcome)
    assert(!c.copy(maxRelativeNViolations = 2.0 / 6).test(spark).outcome)
  }

  test("overlapResult counts distinct violating keys") {
    val res = Intervals.overlapResult(
      spark, oRef, Seq("id1"), Seq("date_start"), Seq("date_end"), endIncluded = true)
    assert(res.nViolationKeys == 4)
    assert(res.nDistinctKeys == 6)
    assert(res.violationSample.isDefined)
  }

  test("1-D windowed overlap count matches the pair self-join on adversarial fixtures") {
    import org.apache.spark.sql.functions.col
    // the tie/degenerate taxonomy the sweep-line ordering must survive:
    val df = numIntervalDf(Seq(
      // equal starts, differing ends: overlap iff the LARGER end reaches the
      // shared start (it always does) — either row may be t1 in the join
      (10, 1.0, 5.0), (10, 1.0, 2.0),
      // zero-length interval at another's start: endIncluded-only violation
      (11, 1.0, 1.0), (11, 1.0, 3.0),
      // exact duplicates (scenario 1) — flagged regardless of overlap math
      (12, 4.0, 9.0), (12, 4.0, 9.0),
      // INVERTED duplicate pair (end < start): never overlaps, still scenario 1
      (13, 5.0, 2.0), (13, 5.0, 2.0),
      // NULL start must neither flag nor poison the running max
      (14, null, 9.0), (14, 1.0, 2.0), (14, 3.0, 4.0),
      // chain where only the running max (not the previous row) overlaps
      (15, 1.0, 10.0), (15, 2.0, 3.0), (15, 4.0, 5.0),
      // clean key
      (16, 1.0, 2.0), (16, 3.0, 4.0)))
    val ref = DataRef(FrameSource(df, "adversarial_overlap"))
    for (endIncluded <- Seq(true, false)) {
      val joined = Intervals
        .overlapViolations(
          spark, ref, Seq("id1"), Seq("range_start"), Seq("range_end"), endIncluded)
        .select(col("id1")).distinct().collect().map(_.getInt(0)).toSet
      val windowed = Intervals
        .overlapFlags1D(spark, ref, Seq("id1"), "range_start", "range_end", endIncluded)
        .collect().map(_.getInt(0)).toSet
      assert(windowed == joined,
        s"endIncluded=$endIncluded: windowed $windowed != joined $joined")
      val res = Intervals.overlapResult(
        spark, ref, Seq("id1"), Seq("range_start"), Seq("range_end"), endIncluded)
      assert(res.nViolationKeys == joined.size)
      assert(res.violationSample.isDefined == joined.nonEmpty)
    }
  }

  test("randomized 1-D overlap parity: window path == join path on seeded corpora") {
    import org.apache.spark.sql.functions.col
    // a dense seeded sweep over a SMALL value domain maximizes ties,
    // duplicates, containment, and degenerate/inverted intervals — the
    // cases where the sweep-line ordering could diverge from the self-join
    for (seed <- 1 to 8; endIncluded <- Seq(true, false)) {
      val rnd = new scala.util.Random(seed)
      val rows = Seq.fill(60) {
        // NULL keys included: the self-join's key equality is NULL for
        // them, so only exact duplicates may flag a NULL-key group
        val k: Integer =
          if (rnd.nextInt(10) == 0) null else Integer.valueOf(rnd.nextInt(6))
        val s: java.lang.Double =
          if (rnd.nextInt(12) == 0) null else rnd.nextInt(8).toDouble
        val e: java.lang.Double =
          if (rnd.nextInt(12) == 0) null else rnd.nextInt(8).toDouble
        (k, s, e)
      }
      val ref = DataRef(FrameSource(numIntervalDf(rows), s"rand_overlap_$seed"))
      def keyOf(r: org.apache.spark.sql.Row): Option[Int] =
        if (r.isNullAt(0)) None else Some(r.getInt(0))
      val joined = Intervals
        .overlapViolations(
          spark, ref, Seq("id1"), Seq("range_start"), Seq("range_end"), endIncluded)
        .select(col("id1")).distinct().collect().map(keyOf).toSet
      val windowed = Intervals
        .overlapFlags1D(spark, ref, Seq("id1"), "range_start", "range_end", endIncluded)
        .collect().map(keyOf).toSet
      assert(windowed == joined,
        s"seed=$seed endIncluded=$endIncluded: windowed $windowed != joined $joined")
    }
  }

  test("2-D sweep matches the pair self-join on adversarial fixtures") {
    import org.apache.spark.sql.functions.col
    val df = num2dIntervalDf(Seq(
      // key 20: plain 2-D overlap (both dims reach) — violation
      (20, 0.0, 10.0, 0.0, 10.0), (20, 5.0, 15.0, 5.0, 15.0),
      // key 21: dim-1 overlaps, dim-2 disjoint — no violation
      (21, 0.0, 10.0, 0.0, 1.0), (21, 5.0, 15.0, 5.0, 6.0),
      // key 22: geometric overlap but direction-blocked in the reference's
      // semantics (neither row is leftmost in BOTH dims) — no violation
      (22, 0.0, 10.0, 5.0, 15.0), (22, 1.0, 11.0, 0.0, 14.0),
      // key 23: the non-floor stabber — A and B mutually direction-blocked,
      // probe C's dim-2 floor (B, s2=50) does not reach but A (smaller s2,
      // larger e2) does: pair (A, C) violates; a floor-only structure would
      // miss it — this is the case that forces the treap's true prefix-max
      (23, 5.0, 100.0, 0.0, 100.0), (23, 0.0, 100.0, 50.0, 60.0),
      (23, 6.0, 7.0, 70.0, 71.0),
      // key 24: boundary corner touch — endIncluded-only violation
      (24, 0.0, 5.0, 0.0, 5.0), (24, 5.0, 9.0, 5.0, 9.0),
      // key 25: exact duplicates (scenario 1)
      (25, 1.0, 2.0, 1.0, 2.0), (25, 1.0, 2.0, 1.0, 2.0),
      // key 26: equal corner (s1, s2), differing ends — violation (either
      // order admissible, both reach the shared corner)
      (26, 0.0, 5.0, 0.0, 5.0), (26, 0.0, 7.0, 0.0, 3.0),
      // key 27: equal corner but both rows inverted in dim 2 — no violation
      (27, 0.0, 5.0, 4.0, 1.0), (27, 0.0, 7.0, 4.0, 2.0),
      // key 28: NULL dim-2 start — excluded from pairing entirely
      (28, 0.0, 10.0, null, 10.0), (28, 5.0, 15.0, 5.0, 15.0),
      // key 29: NULL dim-2 END — r2-only row, pair flags via the odd-key
      // legacy route (inequality holds through the differing s1)
      (29, 0.0, 10.0, 0.0, 10.0), (29, 5.0, 15.0, 5.0, null),
      // key 30: NULL-end row identical to its partner in every non-null
      // coordinate — inequality evaluates NULL, NOT a violation
      (30, 0.0, 10.0, 0.0, 10.0), (30, 0.0, 10.0, 0.0, null),
      // NULL key: scenario 2 can never fire, duplicates still flag
      (null, 0.0, 10.0, 0.0, 10.0), (null, 0.0, 10.0, 0.0, 10.0)))
    val ref = DataRef(FrameSource(df, "adversarial_overlap_2d"))
    def keyOf(r: org.apache.spark.sql.Row): Option[Int] =
      if (r.isNullAt(0)) None else Some(r.getInt(0))
    for (endIncluded <- Seq(true, false)) {
      val joined = Intervals
        .overlapViolations(
          spark, ref, Seq("id1"), Seq("s1", "s2"), Seq("e1", "e2"), endIncluded)
        .select(col("id1")).distinct().collect().map(keyOf).toSet
      val swept = Intervals
        .overlapFlagsSweep(
          spark, ref, Seq("id1"), Seq("s1", "s2"), Seq("e1", "e2"), endIncluded)
        .collect().map(keyOf).toSet
      assert(swept == joined,
        s"endIncluded=$endIncluded: swept $swept != joined $joined")
      if (endIncluded)
        assert(joined == Set(Some(20), Some(23), Some(24), Some(25), Some(26), Some(29), None))
      val res = Intervals.overlapResult(
        spark, ref, Seq("id1"), Seq("s1", "s2"), Seq("e1", "e2"), endIncluded)
      assert(res.nViolationKeys == joined.size)
      assert(res.violationSample.isDefined)
    }
  }

  test("randomized 2-D overlap parity: sweep == join path on seeded corpora") {
    import org.apache.spark.sql.functions.col
    // dense small-domain corpora maximize ties, duplicate corners,
    // containment, inverted/degenerate rectangles, and NULL routing
    for (seed <- 1 to 8; endIncluded <- Seq(true, false)) {
      val rnd = new scala.util.Random(100 + seed)
      val rows = Seq.fill(80) {
        val k: Integer =
          if (rnd.nextInt(10) == 0) null else Integer.valueOf(rnd.nextInt(6))
        def coord(): java.lang.Double =
          if (rnd.nextInt(14) == 0) null else rnd.nextInt(6).toDouble
        (k, coord(), coord(), coord(), coord())
      }
      val ref = DataRef(FrameSource(num2dIntervalDf(rows), s"rand_overlap2d_$seed"))
      def keyOf(r: org.apache.spark.sql.Row): Option[Int] =
        if (r.isNullAt(0)) None else Some(r.getInt(0))
      val joined = Intervals
        .overlapViolations(
          spark, ref, Seq("id1"), Seq("s1", "s2"), Seq("e1", "e2"), endIncluded)
        .select(col("id1")).distinct().collect().map(keyOf).toSet
      val swept = Intervals
        .overlapFlagsSweep(
          spark, ref, Seq("id1"), Seq("s1", "s2"), Seq("e1", "e2"), endIncluded)
        .collect().map(keyOf).toSet
      assert(swept == joined,
        s"seed=$seed endIncluded=$endIncluded: swept $swept != joined $joined")
    }
  }

  test("2-D sweep survives a planted hot key the self-join cannot") {
    // one key, 30k rectangles, ALL mutually overlapping in dim 1 (the
    // self-join would emit ~9·10⁸ candidate pairs) but pairwise disjoint in
    // dim 2 → no violation; a second key carries one genuine violation.
    // The sweep's treap holds the full 30k active set (O(k), not O(k²))
    // and finishes in seconds.
    val hot = (0 until 30000).map { i =>
      (Integer.valueOf(1), java.lang.Double.valueOf(i.toDouble),
        java.lang.Double.valueOf(1e9), java.lang.Double.valueOf(2.0 * i),
        java.lang.Double.valueOf(2.0 * i + 0.5))
    }
    val planted = Seq(
      (Integer.valueOf(2), java.lang.Double.valueOf(0.0), java.lang.Double.valueOf(10.0),
        java.lang.Double.valueOf(0.0), java.lang.Double.valueOf(10.0)),
      (Integer.valueOf(2), java.lang.Double.valueOf(5.0), java.lang.Double.valueOf(15.0),
        java.lang.Double.valueOf(5.0), java.lang.Double.valueOf(15.0)))
    val ref = DataRef(FrameSource(num2dIntervalDf(hot ++ planted), "hotkey_overlap_2d"))
    val res = Intervals.overlapResult(
      spark, ref, Seq("id1"), Seq("s1", "s2"), Seq("e1", "e2"), endIncluded = true)
    assert(res.nViolationKeys == 1)
    assert(res.nDistinctKeys == 2)
  }

  test("3-D sweep matches the pair self-join on adversarial fixtures") {
    def D(v: Double): java.lang.Double = java.lang.Double.valueOf(v)
    val N: java.lang.Double = null
    val df = num3dIntervalDf(Seq(
      // key 40: overlap in all three dims — violation
      (40, Seq(D(0), D(10), D(0), D(10), D(0), D(10))),
      (40, Seq(D(5), D(15), D(5), D(15), D(5), D(15))),
      // key 41: overlap in dims 1-2, disjoint in dim 3 — no violation
      (41, Seq(D(0), D(10), D(0), D(10), D(0), D(1))),
      (41, Seq(D(5), D(15), D(5), D(15), D(5), D(6))),
      // key 42: geometric overlap, direction-blocked (neither row leftmost
      // in all three dims) — no violation
      (42, Seq(D(0), D(10), D(5), D(15), D(0), D(10))),
      (42, Seq(D(1), D(11), D(0), D(14), D(1), D(11))),
      // key 43: the dim-2 interleave under a shared dim-3 band: A and B
      // mutually blocked, probe C reached only by A (smaller s2, larger
      // e2) — a floor-only / last-seen structure would miss the pair
      (43, Seq(D(5), D(100), D(0), D(100), D(0), D(100))),
      (43, Seq(D(0), D(100), D(50), D(60), D(0), D(100))),
      (43, Seq(D(6), D(7), D(70), D(71), D(1), D(99))),
      // key 44: corner touch in every dim — endIncluded-only violation
      (44, Seq(D(0), D(5), D(0), D(5), D(0), D(5))),
      (44, Seq(D(5), D(9), D(5), D(9), D(5), D(9))),
      // key 45: exact duplicates (scenario 1)
      (45, Seq(D(1), D(2), D(1), D(2), D(1), D(2))),
      (45, Seq(D(1), D(2), D(1), D(2), D(1), D(2))),
      // key 46: equal full corner, differing ends — violation
      (46, Seq(D(0), D(5), D(0), D(5), D(0), D(5))),
      (46, Seq(D(0), D(7), D(0), D(3), D(0), D(4))),
      // key 47: NULL dim-3 start — excluded from pairing
      (47, Seq(D(0), D(10), D(0), D(10), N, D(10))),
      (47, Seq(D(5), D(15), D(5), D(15), D(5), D(15))),
      // key 48: NULL dim-3 END — routes the key to the legacy pair join
      (48, Seq(D(0), D(10), D(0), D(10), D(0), D(10))),
      (48, Seq(D(5), D(15), D(5), D(15), D(5), N)),
      // NULL key: only exact duplicates flag
      (null, Seq(D(0), D(10), D(0), D(10), D(0), D(10))),
      (null, Seq(D(0), D(10), D(0), D(10), D(0), D(10)))))
    val ref = DataRef(FrameSource(df, "adversarial_overlap_3d"))
    val starts = Seq("s1", "s2", "s3"); val ends = Seq("e1", "e2", "e3")
    def keyOf(r: org.apache.spark.sql.Row): Option[Int] =
      if (r.isNullAt(0)) None else Some(r.getInt(0))
    for (endIncluded <- Seq(true, false)) {
      val joined = Intervals
        .overlapViolations(spark, ref, Seq("id1"), starts, ends, endIncluded)
        .select(org.apache.spark.sql.functions.col("id1"))
        .distinct().collect().map(keyOf).toSet
      val swept = Intervals
        .overlapFlagsSweep(spark, ref, Seq("id1"), starts, ends, endIncluded)
        .collect().map(keyOf).toSet
      assert(swept == joined,
        s"endIncluded=$endIncluded: swept $swept != joined $joined")
      if (endIncluded)
        assert(joined == Set(Some(40), Some(43), Some(44), Some(45), Some(46), Some(48), None))
      val res =
        Intervals.overlapResult(spark, ref, Seq("id1"), starts, ends, endIncluded)
      assert(res.nViolationKeys == joined.size)
      assert(res.violationSample.isDefined)
    }
  }

  test("randomized 3-D overlap parity: sweep == join path on seeded corpora") {
    import org.apache.spark.sql.functions.col
    // dense small-domain corpora maximize ties, duplicate corners,
    // containment, inverted/degenerate boxes, and NULL routing
    val starts = Seq("s1", "s2", "s3"); val ends = Seq("e1", "e2", "e3")
    for (seed <- 1 to 6; endIncluded <- Seq(true, false)) {
      val rnd = new scala.util.Random(300 + seed)
      val rows = Seq.fill(90) {
        val k: Integer =
          if (rnd.nextInt(10) == 0) null else Integer.valueOf(rnd.nextInt(6))
        def coord(): java.lang.Double =
          if (rnd.nextInt(16) == 0) null else rnd.nextInt(5).toDouble
        (k, Seq.fill(6)(coord()))
      }
      val ref = DataRef(FrameSource(num3dIntervalDf(rows), s"rand_overlap3d_$seed"))
      def keyOf(r: org.apache.spark.sql.Row): Option[Int] =
        if (r.isNullAt(0)) None else Some(r.getInt(0))
      val joined = Intervals
        .overlapViolations(spark, ref, Seq("id1"), starts, ends, endIncluded)
        .select(col("id1")).distinct().collect().map(keyOf).toSet
      val swept = Intervals
        .overlapFlagsSweep(spark, ref, Seq("id1"), starts, ends, endIncluded)
        .collect().map(keyOf).toSet
      assert(swept == joined,
        s"seed=$seed endIncluded=$endIncluded: swept $swept != joined $joined")
    }
  }

  test("randomized 4-D overlap parity: sweep == join path on seeded corpora") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.{Row => SRow}
    import org.apache.spark.sql.types._
    val starts = (1 to 4).map(d => s"s$d"); val ends = (1 to 4).map(d => s"e$d")
    val schema = StructType(
      StructField("id1", IntegerType) +:
        (1 to 4).flatMap(d => Seq(
          StructField(s"s$d", DoubleType), StructField(s"e$d", DoubleType))))
    for (seed <- 1 to 4; endIncluded <- Seq(true, false)) {
      val rnd = new scala.util.Random(500 + seed)
      val rows = Seq.fill(100) {
        val k: Integer =
          if (rnd.nextInt(10) == 0) null else Integer.valueOf(rnd.nextInt(5))
        def coord(): java.lang.Double =
          if (rnd.nextInt(18) == 0) null else rnd.nextInt(4).toDouble
        SRow(k +: Seq.fill(8)(coord()): _*)
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema)
      val ref = DataRef(FrameSource(df, s"rand_overlap4d_$seed"))
      def keyOf(r: org.apache.spark.sql.Row): Option[Int] =
        if (r.isNullAt(0)) None else Some(r.getInt(0))
      val joined = Intervals
        .overlapViolations(spark, ref, Seq("id1"), starts, ends, endIncluded)
        .select(col("id1")).distinct().collect().map(keyOf).toSet
      val swept = Intervals
        .overlapFlagsSweep(spark, ref, Seq("id1"), starts, ends, endIncluded)
        .collect().map(keyOf).toSet
      assert(swept == joined,
        s"seed=$seed endIncluded=$endIncluded: swept $swept != joined $joined")
    }
  }

  test("3-D sweep survives a planted hot key the self-join cannot") {
    // one key, 20k boxes, ALL mutually overlapping in dims 1-2 (the
    // self-join would emit ~4·10⁸ candidate pairs) but pairwise disjoint
    // in dim 3 → no violation; a second key carries one genuine violation.
    // The flag-early linear scan holds the 20k active set (O(k) memory)
    // and each probe exits its scan without materializing any pair rows.
    def D(v: Double): java.lang.Double = java.lang.Double.valueOf(v)
    val hot = (0 until 20000).map { i =>
      (Integer.valueOf(1),
        Seq(D(i.toDouble), D(1e9), D(0.0), D(1e9), D(2.0 * i), D(2.0 * i + 0.5)))
    }
    val planted = Seq(
      (Integer.valueOf(2), Seq(D(0), D(10), D(0), D(10), D(0), D(10))),
      (Integer.valueOf(2), Seq(D(5), D(15), D(5), D(15), D(5), D(15))))
    val ref =
      DataRef(FrameSource(num3dIntervalDf(hot ++ planted), "hotkey_overlap_3d"))
    val res = Intervals.overlapResult(
      spark, ref, Seq("id1"), Seq("s1", "s2", "s3"), Seq("e1", "e2", "e3"),
      endIncluded = true)
    assert(res.nViolationKeys == 1)
    assert(res.nDistinctKeys == 2)
  }

  private def gapDf = intervalDf(Seq(
    // key 1: single entry — no gap
    (1, "2016-01-01", "2016-01-10"),
    // key 2: contiguous (end = next start) — no gap beyond legitimate size 1
    (2, "2016-01-01", "2016-01-10"),
    (2, "2016-01-10", "2016-01-20"),
    // key 3: true gap (10 days)
    (3, "2016-01-01", "2016-01-05"),
    (3, "2016-01-15", "2016-01-20"),
    // key 4: threshold-exact gap of exactly 1 day — legitimate when gap size 1
    (4, "2016-01-01", "2016-01-10"),
    (4, "2016-01-11", "2016-01-20")))

  private def gRef = DataRef(FrameSource(gapDf, "date_table_gap"))

  test("date gaps: only key 3 violates with legitimate gap 1") {
    val c = NoGap(gRef, Seq("id1"), "date_start", "date_end",
      maxRelativeNViolations = 1.0 / 4, legitimateGapSize = 1.0, isDate = true)
    assert(c.test(spark).outcome)
    assert(!c.copy(maxRelativeNViolations = 0.0).test(spark).outcome)
  }

  test("date gaps with zero legitimate gap: keys 3 and 4 violate") {
    val res = Intervals.gapResult(
      spark, gRef, Seq("id1"), "date_start", "date_end", Intervals.dateGapCondition(0.0))
    assert(res.nViolationKeys == 2)
    assert(res.nDistinctKeys == 4)
  }

  test("numeric gaps with tolerated 0.5 gap (reference conftest.py:701-713)") {
    val df = numIntervalDf(Seq(
      (1, 1.0, 2.0), (1, 2.5, 4.0),   // 0.5 gap — tolerated at legitimate 0.5
      (2, 1.0, 2.0), (2, 4.0, 5.0)))  // 2.0 gap — violation
    val r = DataRef(FrameSource(df, "float_table_gap"))
    val res = Intervals.gapResult(
      spark, r, Seq("id1"), "range_start", "range_end",
      Intervals.numericGapCondition(0.5))
    assert(res.nViolationKeys == 1)
    assert(res.nDistinctKeys == 2)
  }

  test("duplicate boundary points follow the reference's RANK pairing, not adjacency") {
    // [1,5],[1,3],[8,9]: free starts {1,1,8}, free ends {5,9} (3 is strictly
    // inside [1,5]). Rank pairing: (e1=5, s2=1) and (e2=9, s3=8) — both
    // backwards in time → NO violations. An adjacency pairing would wrongly
    // pair end 5 with start 8 and flag the key.
    val df = numIntervalDf(Seq(
      (1, 1.0, 5.0), (1, 1.0, 3.0), (1, 8.0, 9.0)))
    val res = Intervals.gapResult(
      spark, DataRef(FrameSource(df, "dup_start_gap")), Seq("id1"),
      "range_start", "range_end", Intervals.numericGapCondition(0.0))
    assert(res.nViolationKeys == 0,
      "rank pairing must report no violation for duplicate-start intervals")

    // [1,5],[2,5],[5,9],[9,12]: contiguous coverage, but duplicate END 5
    // shifts the rank alignment — the reference pairs (e2=5, s3=9) and
    // reports a violation. We reproduce the reference exactly.
    val df2 = numIntervalDf(Seq(
      (1, 1.0, 5.0), (1, 2.0, 5.0), (1, 5.0, 9.0), (1, 9.0, 12.0)))
    val res2 = Intervals.gapResult(
      spark, DataRef(FrameSource(df2, "dup_end_gap")), Seq("id1"),
      "range_start", "range_end", Intervals.numericGapCondition(0.0))
    assert(res2.nViolationKeys == 1,
      "duplicate-end rank shift must reproduce the reference's violation")
  }

  test("keyless no-gap: empty key list degrades to one global timeline") {
    // selection projected to exactly start/end — the derived key list is
    // empty, the user-facing default of addDateNoGapConstraint (reference
    // db_access.py:523-529: `sa.and_()` of nothing is TRUE)
    val r = DataRef(
      FrameSource(gapDf, "date_table_gap_keyless"),
      Some(Seq("date_start", "date_end")))
    // merged timeline of gapDf has no uncovered gap: 01-01..01-10, 01-10..
    // 01-20 etc. overlap into one covered span
    val res = Intervals.gapResult(
      spark, r, Seq.empty, "date_start", "date_end", Intervals.dateGapCondition(1.0))
    assert(res.nViolationKeys == 0)
    assert(res.nDistinctKeys == 5) // distinct (start, end) pairs

    val c = NoGap(r, Seq.empty, "date_start", "date_end",
      maxRelativeNViolations = 0.0, legitimateGapSize = 1.0, isDate = true)
    assert(c.test(spark).outcome)
  }

  test("keyless no-gap detects a genuine global gap") {
    val df = intervalDf(Seq(
      (1, "2016-01-01", "2016-01-05"),
      (2, "2016-01-10", "2016-01-20"))) // global gap of 5 days
    val r = DataRef(
      FrameSource(df, "date_table_global_gap"),
      Some(Seq("date_start", "date_end")))
    val res = Intervals.gapResult(
      spark, r, Seq.empty, "date_start", "date_end", Intervals.dateGapCondition(1.0))
    assert(res.nViolationKeys == 1)
    assert(res.nDistinctKeys == 2)
    assert(res.violationSample.isDefined)
    // tolerated when the legitimate gap covers it
    val ok = Intervals.gapResult(
      spark, r, Seq.empty, "date_start", "date_end", Intervals.dateGapCondition(5.0))
    assert(ok.nViolationKeys == 0)
  }

  test("keyless numeric no-gap via the builder default (was: empty.reduce crash)") {
    val df = numIntervalDf(Seq(
      (1, 1.0, 2.0), (2, 5.0, 6.0))) // global numeric gap of 3.0
    val r = DataRef(
      FrameSource(df, "float_table_gap_keyless"),
      Some(Seq("range_start", "range_end")))
    val res = Intervals.gapResult(
      spark, r, Seq.empty, "range_start", "range_end",
      Intervals.numericGapCondition(0.5))
    assert(res.nViolationKeys == 1)
    val c = NoGap(r, Seq.empty, "range_start", "range_end",
      maxRelativeNViolations = 0.0, legitimateGapSize = 0.5, isDate = false)
    assert(!c.test(spark).outcome)
  }

  test("2-D overlap requires intersection in BOTH dimensions") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id1", IntegerType),
      StructField("s1", DateType), StructField("e1", DateType),
      StructField("s2", DateType), StructField("e2", DateType)))
    def d(s: String) = java.sql.Date.valueOf(s)
    val rows = Seq(
      // key 1: overlap in dim1 only → no violation
      Row(Integer.valueOf(1), d("2016-01-01"), d("2016-01-10"), d("2016-02-01"), d("2016-02-05")),
      Row(Integer.valueOf(1), d("2016-01-05"), d("2016-01-20"), d("2016-02-10"), d("2016-02-20")),
      // key 2: overlap in both dims → violation
      Row(Integer.valueOf(2), d("2016-01-01"), d("2016-01-10"), d("2016-02-01"), d("2016-02-10")),
      Row(Integer.valueOf(2), d("2016-01-05"), d("2016-01-20"), d("2016-02-05"), d("2016-02-20")))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val r  = DataRef(FrameSource(df, "date_table_overlap_2d"))
    val res = Intervals.overlapResult(
      spark, r, Seq("id1"), Seq("s1", "s2"), Seq("e1", "e2"), endIncluded = true)
    assert(res.nViolationKeys == 1)
    assert(res.nDistinctKeys == 2)
  }
}
