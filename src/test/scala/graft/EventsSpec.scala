package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Events

class EventsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def df(rows: Seq[(String, Long, java.lang.Long)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (k, t, v) => Row(k, t, v) }, 2),
      StructType(Seq(
        StructField("k", StringType),
        StructField("t", LongType),
        StructField("v", LongType))))

  test("asofJoin: backward inclusive match, per key, with left-join nulls") {
    val left = df(Seq(("a", 10L, null), ("a", 20L, null), ("b", 5L, null)))
    val right = df(Seq(("a", 10L, 100L), ("a", 15L, 150L), ("b", 9L, 900L)))
    val out = Events
      .asofJoin(left, right, Seq("k"), "t", "t", Seq("v"))
      .orderBy("k", "t")
      .collect()
    // a@10 matches right a@10 (inclusive boundary), a@20 matches a@15
    assert(out(0).getLong(out(0).fieldIndex("asof_t")) == 10L)
    assert(out(0).getLong(out(0).fieldIndex("asof_v")) == 100L)
    assert(out(1).getLong(out(1).fieldIndex("asof_t")) == 15L)
    // b@5 has no right row at-or-before → null match, row kept
    assert(out(2).isNullAt(out(2).fieldIndex("asof_t")))
    assert(out(2).isNullAt(out(2).fieldIndex("asof_v")))
  }

  test("asofJoin: strict excludes the equal-timestamp carrier") {
    val left = df(Seq(("a", 10L, null)))
    val right = df(Seq(("a", 10L, 100L), ("a", 7L, 70L)))
    val incl = Events.asofJoin(left, right, Seq("k"), "t", "t", Seq("v")).head()
    val strict = Events
      .asofJoin(left, right, Seq("k"), "t", "t", Seq("v"), strict = true)
      .head()
    assert(incl.getLong(incl.fieldIndex("asof_v")) == 100L)
    assert(strict.getLong(strict.fieldIndex("asof_v")) == 70L)
  }

  test("asofJoin: tieBreak picks the max among duplicate right timestamps") {
    val left = df(Seq(("a", 10L, null)))
    val right = df(Seq(("a", 8L, 1L), ("a", 8L, 3L), ("a", 8L, 2L)))
    val out = Events
      .asofJoin(left, right, Seq("k"), "t", "t", Seq("v"), tieBreak = Some("v"))
      .head()
    assert(out.getLong(out.fieldIndex("asof_v")) == 3L)
  }

  test("asofJoin: tolerance nulls out stale matches, keeps the row") {
    val left = df(Seq(("a", 100L, null), ("a", 11L, null)))
    val right = df(Seq(("a", 10L, 100L)))
    val out = Events
      .asofJoin(
        left, right, Seq("k"), "t", "t", Seq("v"),
        withinTolerance = Some((l, r) => l - r <= lit(5L)))
      .orderBy("t")
      .collect()
    assert(out(0).getLong(out(0).fieldIndex("asof_v")) == 100L) // 11-10 <= 5
    assert(out(1).isNullAt(out(1).fieldIndex("asof_v"))) // 100-10 > 5
    assert(out.length == 2)
  }

  test("asofJoin: NULL timestamps never match on either side") {
    val left = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row("a", null, null), Row("a", java.lang.Long.valueOf(50L), null)), 1),
      df(Nil).schema)
    val right = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row("a", null, java.lang.Long.valueOf(999L)),
          Row("a", java.lang.Long.valueOf(40L), java.lang.Long.valueOf(40L))), 1),
      df(Nil).schema)
    val out = Events
      .asofJoin(left, right, Seq("k"), "t", "t", Seq("v"))
      .collect()
      .sortBy(r => Option(r.get(r.fieldIndex("t"))).map(_.toString).getOrElse(""))
    // null-ts left row matches nothing; null-ts right row is never a carrier
    assert(out(0).isNullAt(out(0).fieldIndex("asof_v")))
    assert(out(1).getLong(out(1).fieldIndex("asof_v")) == 40L)
  }

  test("asofJoin plan: no join operator, window partitioned by key") {
    val left = df(Seq(("a", 10L, null)))
    val right = df(Seq(("a", 8L, 1L)))
    val plan = Events
      .asofJoin(left, right, Seq("k"), "t", "t", Seq("v"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"as-of must not funnel to one partition:\n$plan")
  }

  test("sessionize: gap boundary is strict-greater, ids are 1-based per key") {
    val d = df(Seq(
      ("a", 0L, null), ("a", 10L, null), // gap 10 == gap → same session
      ("a", 21L, null), // gap 11 > 10 → new session
      ("b", 5L, null)))
    val out = Events.sessionize(d, "k", "t", lit(10L))
      .orderBy("k", "t").collect()
    assert(out.map(_.getLong(out.head.fieldIndex("session_id"))).toSeq ==
      Seq(1L, 1L, 2L, 1L))
  }

  test("MaxSessionDurationSeconds: longest-session bound as a constraint") {
    import graft.requirements.WithinRequirement
    // key a: sessions [0..15] (duration 15) and [100]; key b: [5..8]
    val d = df(Seq(
      ("a", 0L, null), ("a", 9L, null), ("a", 15L, null), ("a", 100L, null),
      ("b", 5L, null), ("b", 8L, null)))
    val ok = WithinRequirement.fromDataFrame(d, "events")
    ok.addMaxSessionDurationConstraint("k", "t", gapSeconds = 10, maxDurationSeconds = 15)
    assert(ok.test(spark).head.outcome)
    val bad = WithinRequirement.fromDataFrame(d, "events")
    bad.addMaxSessionDurationConstraint("k", "t", gapSeconds = 10, maxDurationSeconds = 14)
    val res = bad.test(spark).head
    assert(!res.outcome)
    assert(res.failureMessage.exists(_.contains("session")))
    // empty input → duration 0, not a crash
    val empty = WithinRequirement.fromDataFrame(df(Nil), "events")
    empty.addMaxSessionDurationConstraint("k", "t", 10, 0)
    assert(empty.test(spark).head.outcome)
  }

  test("MaxStaleAsofFraction: freshness budget as a between constraint") {
    import graft.requirements.BetweenRequirement
    val trades = df(Seq(("a", 10L, null), ("a", 50L, null), ("b", 7L, null)))
    val quotes = df(Seq(("a", 8L, null), ("a", 20L, null), ("b", 7L, null)))
    // a@10 ← quote@8 (2s old), a@50 ← quote@20 (30s: stale at tol 5),
    // b@7 ← quote@7 (0s). 1 of 3 stale.
    val ok = BetweenRequirement.fromDataFrames(trades, quotes, "trades", "quotes")
    ok.addMaxStaleAsofFractionConstraint(
      Seq("k"), "t", "t", toleranceSeconds = 5, maxFraction = 0.34)
    assert(ok.test(spark).head.outcome)
    val bad = BetweenRequirement.fromDataFrames(trades, quotes, "trades", "quotes")
    bad.addMaxStaleAsofFractionConstraint(
      Seq("k"), "t", "t", toleranceSeconds = 5, maxFraction = 0.3)
    val res = bad.test(spark).head
    assert(!res.outcome)
    assert(res.failureMessage.exists(_.contains("within 5.0s")))
  }

  test("MinPointCoverageFraction: interval coverage as a between constraint") {
    import graft.requirements.BetweenRequirement
    import spark.implicits._
    val points = Seq(1.0, 5.0, 50.0, 99.0).toDF("x")
    val windows = Seq((0.0, 10.0), (98.0, 100.0)).toDF("s", "e")
    // 1, 5, 99 covered; 50 not → 0.75
    val ok = BetweenRequirement.fromDataFrames(points, windows, "pts", "wins")
    ok.addMinPointCoverageFractionConstraint("x", "s", "e", minFraction = 0.75)
    assert(ok.test(spark).head.outcome)
    val bad = BetweenRequirement.fromDataFrames(points, windows, "pts", "wins")
    bad.addMinPointCoverageFractionConstraint("x", "s", "e", minFraction = 0.76)
    val res = bad.test(spark).head
    assert(!res.outcome)
    assert(res.failureMessage.exists(_.contains("0.75")))
  }

  test("sessionProfile aggregates bounds and counts per session") {
    val d = df(Seq(
      ("a", 0L, 10L), ("a", 5L, 20L), ("a", 100L, 30L)))
    val prof = Events
      .sessionProfile(Events.sessionize(d, "k", "t", lit(10L)), "k", "t", "v")
      .orderBy("session_id")
      .collect()
    assert(prof.length == 2)
    assert(prof(0).getLong(prof(0).fieldIndex("session_start")) == 0L)
    assert(prof(0).getLong(prof(0).fieldIndex("session_end")) == 5L)
    assert(prof(0).getLong(prof(0).fieldIndex("n_events")) == 2L)
    assert(prof(1).getLong(prof(1).fieldIndex("n_events")) == 1L)
  }

  test("asofJoin forward: earliest at-or-after match; strict excludes equality") {
    val left = df(Seq(("a", 10L, null), ("a", 20L, null), ("b", 50L, null)))
    val right = df(Seq(("a", 10L, 100L), ("a", 15L, 150L), ("b", 9L, 900L)))
    val out = Events
      .asofJoin(left, right, Seq("k"), "t", "t", Seq("v"),
        direction = "forward")
      .orderBy("k", "t")
      .collect()
    // a@10 matches a@10 (inclusive), a@20 has nothing after → null
    assert(out(0).getLong(out(0).fieldIndex("asof_t")) == 10L)
    assert(out(1).isNullAt(out(1).fieldIndex("asof_t")))
    // b@50 is past the only b carrier → null
    assert(out(2).isNullAt(out(2).fieldIndex("asof_t")))
    val strictOut = Events
      .asofJoin(left, right, Seq("k"), "t", "t", Seq("v"),
        strict = true, direction = "forward")
      .orderBy("k", "t")
      .collect()
    // strict: a@10 skips the equal carrier, takes a@15
    assert(strictOut(0).getLong(strictOut(0).fieldIndex("asof_t")) == 15L)
  }

  test("asofJoin forward: max tieBreak wins among equal-timestamp carriers") {
    val left = df(Seq(("a", 5L, null)))
    val right = df(Seq(("a", 10L, 1L), ("a", 10L, 9L), ("a", 10L, 4L)))
    val out = Events
      .asofJoin(left, right, Seq("k"), "t", "t", Seq("v"),
        tieBreak = Some("v"), direction = "forward")
      .head()
    assert(out.getLong(out.fieldIndex("asof_v")) == 9L)
  }

  test("asofJoinNearest: picks the closer side, ties go backward") {
    val left = df(Seq(
      ("a", 10L, null), // backward @8 (d=2) beats forward @15 (d=5)
      ("a", 14L, null), // forward @15 (d=1) beats backward @8 (d=6)
      ("a", 9L, null), // tie: backward @8 vs forward @10 → d=1 both? no: 9-8=1, 10-9=1 → tie → backward
      ("b", 3L, null))) // only forward exists
    val right = df(Seq(
      ("a", 8L, 80L), ("a", 15L, 150L), ("a", 10L, 100L), ("b", 7L, 700L)))
    val got = Events
      .asofJoinNearest(left, right, Seq("k"), "t", "t", Seq("v"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(r.fieldIndex("asof_t"))) None
         else Some(r.getLong(r.fieldIndex("asof_t")))))
      .toMap
    graft.core.Blocks.releaseAll()
    assert(got(("a", 10L)).contains(10L)) // exact hit: backward inclusive d=0
    assert(got(("a", 14L)).contains(15L))
    assert(got(("a", 9L)).contains(8L)) // distance tie → backward
    assert(got(("b", 3L)).contains(7L)) // no backward → forward
  }

  test("trailingAggregate: range frame includes the boundary and peers, exact sums") {
    // numeric coordinate: trailing 10 units
    val ev = df(Seq(
      ("u", 0L, 5L), ("u", 10L, 7L), // 10−10=0 → boundary INCLUDED
      ("u", 11L, 2L), // window [1,11] → 10,11 only
      ("u", 11L, 3L), // peer of t=11 → range frame sees BOTH t=11 rows
      ("v", 100L, 1L)))
    val got = Events
      .trailingAggregate(ev, "k", "t", "v", trailing = 10L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(r.fieldIndex("v"))) ->
        (r.getLong(r.fieldIndex("trailing_count")),
          r.getDouble(r.fieldIndex("trailing_sum"))))
      .toMap
    assert(got(("u", 0L, 5L)) === ((1L, 5.0)))
    assert(got(("u", 10L, 7L)) === ((2L, 12.0)))
    // both t=11 rows are peers: each sees {10, 11a, 11b}
    assert(got(("u", 11L, 2L)) === ((3L, 12.0)))
    assert(got(("u", 11L, 3L)) === ((3L, 12.0)))
    assert(got(("v", 100L, 1L)) === ((1L, 1.0)))
  }

  test("volumeAnomalies: a planted spike day flags, steady days don't") {
    import spark.implicits._
    // 11 days at ~100 events, day 5 at 1000 — MAD flags only the spike
    val rows = (0 until 11).flatMap { d =>
      val n = if (d == 5) 1000 else 100 + d % 3
      (0 until n).map(i => s"2024-03-${"%02d".format(d + 1)} 10:${"%02d".format(i % 60)}:00")
    }
    val ev = rows.toDF("s").select(col("s").cast("timestamp").as("ts"))
    val got = Events.volumeAnomalies(ev, "ts", "day")
      .collect()
      .map(r => r.getAs[Any]("bucket_start").toString.take(10) ->
        (r.getLong(1), r.getBoolean(2)))
      .toMap
    graft.core.Blocks.releaseAll()
    assert(got.size === 11)
    assert(got("2024-03-06") === ((1000L, true)))
    got.filterNot(_._1 == "2024-03-06").foreach { case (day, (n, flag)) =>
      assert(!flag, s"$day n=$n should not flag")
      assert(n >= 100L && n <= 102L)
    }
    // bad bucket rejected
    intercept[IllegalArgumentException] {
      Events.volumeAnomalies(ev, "ts", "fortnight")
    }
  }
}
