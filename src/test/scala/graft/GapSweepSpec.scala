package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.constraints.NoGap
import graft.core.{DataRef, FrameSource}
import graft.ops.Intervals

/** The fused keyed gap sweep (`Intervals.gapViolations` / `gapResult`)
  * against the two-chain rank-join reference (`GapReference`) on generated
  * interval tables, plus the job budget and failure message of `NoGap`.
  */
class GapSweepSpec extends AnyFunSuite {
  import TestSpark._

  /** Start/end column flavours: doubles (NULL, NaN, both zeros), dates
    * (NULL), and int starts with bigint ends (widened coordinate).
    */
  private sealed trait Kind
  private case object Doubles extends Kind
  private case object Dates extends Kind
  private case object IntLong extends Kind

  private final case class Case(
      kind: Kind,
      twoKeys: Boolean,
      deriveKeys: Boolean,
      rows: Seq[(Integer, String, Option[Int], Option[Int])],
      legit: Double) {
    def keys: Seq[String] = if (twoKeys) Seq("k1", "k2") else Seq("k1")
  }

  // coordinates are small ints, mapped per kind; -1 stands for NaN (doubles)
  private def double(c: Int): java.lang.Double =
    if (c == -1) Double.NaN else if (c == 0) -0.0 else c / 2.0
  private def date(c: Int): java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(math.max(c, 0).toLong))

  private val keyGen: Gen[(Integer, String)] = for {
    k1 <- Gen.frequency(1 -> Gen.const[Integer](null), 4 -> Gen.oneOf[Integer](0, 1, 2))
    k2 <- Gen.frequency(1 -> Gen.const[String](null), 4 -> Gen.oneOf("a", "b"))
  } yield (k1, k2)

  private val coordGen: Gen[Option[Int]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.const(Some(-1)),
    8 -> Gen.choose(0, 12).map(Some(_)))

  // an interval: start, then an end at a short offset (duplicates and
  // touching intervals are common), or an independent end
  private val intervalGen: Gen[(Option[Int], Option[Int])] = for {
    s <- coordGen
    e <- Gen.frequency(
      5 -> Gen.oneOf(0, 1, 2, 4, 8).map(len => s.filter(_ >= 0).map(_ + len)),
      1 -> coordGen)
  } yield (s, e)

  private val rowGen = for {
    (k1, k2) <- keyGen
    (s, e) <- intervalGen
  } yield (k1, k2, s, e)

  // one wide interval with two nested ones under a single key
  private val nestedGen = for {
    (k1, k2) <- keyGen
    s <- Gen.choose(0, 4)
  } yield Seq((k1, k2, Some(s), Some(s + 8)), (k1, k2, Some(s + 1), Some(s + 2)),
    (k1, k2, Some(s + 3), Some(s + 5)), (k1, k2, Some(s + 11), Some(s + 12)))

  private val rowsGen: Gen[Seq[(Integer, String, Option[Int], Option[Int])]] = Gen.frequency(
    1 -> Gen.const(Seq.empty),
    1 -> Gen.listOfN(3, rowGen).map(rs => // single-interval keys
      rs.zipWithIndex.map { case ((_, k2, s, e), i) => (Integer.valueOf(i), k2, s, e) }),
    1 -> Gen.zip(nestedGen, Gen.listOfN(3, rowGen)).map { case (a, b) => a ++ b },
    6 -> Gen.choose(1, 14).flatMap(n => Gen.listOfN(n, rowGen)))

  private val caseGen: Gen[Case] = for {
    kind <- Gen.oneOf[Kind](Doubles, Dates, IntLong)
    twoKeys <- Gen.oneOf(false, true)
    deriveKeys <- Gen.frequency(3 -> false, 1 -> true)
    rows <- rowsGen
    legit <- Gen.oneOf(0.0, 0.5, 1.0, 2.0)
  } yield Case(kind, twoKeys, deriveKeys, rows, legit)

  private def frame(c: Case): DataFrame = {
    val (sType, eType, toS, toE): (DataType, DataType, Int => Any, Int => Any) = c.kind match {
      case Doubles => (DoubleType, DoubleType, double, double)
      case Dates => (DateType, DateType, date, date)
      case IntLong =>
        (IntegerType, LongType, (i: Int) => Integer.valueOf(i), (i: Int) => java.lang.Long.valueOf(i.toLong))
    }
    val keyFields =
      StructField("k1", IntegerType) +: (if (c.twoKeys) Seq(StructField("k2", StringType)) else Nil)
    val schema = StructType(keyFields ++ Seq(StructField("s", sType), StructField("e", eType)))
    val data = c.rows.map { case (k1, k2, s, e) =>
      Row.fromSeq((k1 +: (if (c.twoKeys) Seq(k2) else Nil)) ++
        Seq(s.map(toS).orNull, e.map(toE).orNull))
    }
    spark.createDataFrame(java.util.List.of(data: _*), schema)
  }

  private def condition(c: Case): (Column, Column) => Column =
    if (c.kind == Dates) Intervals.dateGapCondition(c.legit)
    else Intervals.numericGapCondition(c.legit)

  /** Cell spelling for multiset comparison: -0.0 reads as 0.0, NaN as NaN. */
  private def cells(r: Row): Seq[String] = r.toSeq.map {
    case d: java.lang.Double => (d.doubleValue + 0.0).toString
    case v => String.valueOf(v)
  }

  test("keyed gap sweep == rank-join reference on generated intervals") {
    val prop = Prop.forAllNoShrink(caseGen) { c =>
      val df = frame(c)
      val ref = DataRef(FrameSource(df, "gaps"))
      val keysArg = if (c.deriveKeys) Seq.empty else c.keys
      val want = GapReference
        .keyedGapViolations(df, c.keys, "s", "e", condition(c))
        .collect().toSeq.map(cells)
      val got = Intervals
        .gapViolations(spark, ref, keysArg, "s", "e", condition(c))
        .collect().toSeq.map(cells)
      val res = Intervals.gapResult(spark, ref, keysArg, "s", "e", condition(c))
      val nKeys = c.keys.size
      val wantKeys = want.map(_.take(nKeys)).distinct.size.toLong
      val allKeys = c.rows.map { case (k1, k2, _, _) => if (c.twoKeys) (k1, k2) else k1 }
        .distinct.size.toLong
      Prop.all(
        (got.sortBy(_.mkString("|")) == want.sortBy(_.mkString("|"))) :|
          s"violations got=$got want=$want",
        (res.nViolationKeys == wantKeys) :| s"nViolationKeys ${res.nViolationKeys} != $wantKeys",
        (res.nDistinctKeys == allKeys) :| s"nDistinctKeys ${res.nDistinctKeys} != $allKeys",
        (res.violationSample.isDefined == want.nonEmpty) :| "sample present iff a violation",
        res.violationSample.forall(r => want.contains(cells(r))) :|
          s"sample ${res.violationSample} not a violation"
      ) :| s"case $c"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  private def gapRef = DataRef(FrameSource(intervalDf(Seq(
    (1, "2016-01-01", "2016-01-10"),
    (2, "2016-01-01", "2016-01-10"),
    (2, "2016-01-10", "2016-01-20"),
    (3, "2016-01-01", "2016-01-05"),
    (3, "2016-01-15", "2016-01-20"),
    (4, "2016-01-01", "2016-01-10"),
    (4, "2016-01-11", "2016-01-20"))), "date_table_gap"))

  private def noGap(max: Double) = NoGap(gapRef, Seq("id1"), "date_start", "date_end",
    maxRelativeNViolations = max, legitimateGapSize = 1.0, isDate = true)

  test("a failing NoGap names the fraction and a violating row") {
    val res = noGap(0.0).test(spark)
    assert(!res.outcome)
    assert(res.failureMessage.exists(m =>
      m.contains(s"has a ratio of ${1.0 / 4} > 0.0 keys in columns id1") &&
        m.contains("E.g. for: [3,2016-01-15,2016-01-05].")),
      res.failureMessage)
  }

  test("keyed gapResult and NoGap stay within their measured job budget, pass or fail") {
    noGap(1.0).test(spark) // warm: first evaluation compiles the generated code
    // measured: 3 jobs under AQE (the key exchange's shuffle stage, the
    // global aggregate's shuffle stage, the result); the rank-join spelling
    // with its separate counts and sample ran about 10
    val budget = 3
    def gapJobs(legit: Double, violations: Long): Int = countJobs {
      val r = Intervals.gapResult(spark, gapRef, Seq("id1"), "date_start", "date_end",
        Intervals.dateGapCondition(legit))
      assert(r.nViolationKeys == violations && r.nDistinctKeys == 4)
    }
    Seq(
      gapJobs(10.0, violations = 0),
      gapJobs(0.0, violations = 2),
      countJobs(assert(noGap(1.0).test(spark).outcome)),
      countJobs(assert(!noGap(0.0).test(spark).outcome))
    ).foreach(n => assert(n <= budget, s"keyed gap check launched $n jobs, budget $budget"))
  }
}
