package graft

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Condition, FrameSource, TestResult}
import graft.requirements.{BetweenRequirement, Requirement, WithinRequirement}
import graft.runner.Runner

/** Requirement-scoped evaluation (batched scalar aggregates, shared keyed
  * retrievals) against each constraint's standalone `test`, on generated
  * specifications: tables with NULLs, NaN and -0.0, empty selections, mixed
  * and equal conditions, duplicate and distinct constraints on one column,
  * `cacheSize = Some(0)` members, within and between requirements whose
  * thunks run in a random order. Some constraints fail on their own: a
  * missing column, an unparseable date bound, a mean whose decimal cast
  * overflows (`z`); they must fail alone, never their batched siblings.
  */
class ScopeDifferentialSpec extends AnyFunSuite {
  import TestSpark._

  private type Tab = Seq[(Option[Int], Option[Double], Option[String], Option[Int])]

  private val schema = StructType(Seq(
    StructField("k", IntegerType), StructField("x", DoubleType), StructField("y", DoubleType),
    StructField("s", StringType), StructField("d", DateType), StructField("z", DoubleType)))

  private def frame(t: Tab): DataFrame = {
    val rows = t.map { case (k, x, s, d) =>
      Row(k.map(Int.box).orNull, x.map(Double.box).orNull,
        x.map(v => Double.box(v + k.getOrElse(1))).orNull, s.orNull,
        d.map(n => java.sql.Date.valueOf(java.time.LocalDate.of(2021, 1, 1).plusDays(n.toLong)))
          .orNull,
        x.map(v => Double.box(v * 1e30)).orNull)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  private val rowGen = for {
    k <- Gen.option(Gen.choose(0, 3))
    x <- Gen.option(Gen.oneOf(Double.NaN, -0.0, 0.0, 0.5, 1.0, 2.5, -1.0))
    s <- Gen.option(Gen.oneOf("a", "ab", "abc", "B1", "zz9", ""))
    d <- Gen.option(Gen.choose(0, 30))
  } yield (k, x, s, d)

  private val tabGen: Gen[Tab] = Gen.choose(0, 12).flatMap(Gen.listOfN(_, rowGen))

  // "k > 100" selects nothing; the others overlap
  private val condGen: Gen[Option[Condition]] = Gen.oneOf(
    None, None, Some("k > 1"), Some("k IS NULL OR k < 2"), Some("x > 0"), Some("k > 100"),
    Some("s IS NOT NULL")).map(_.map(Condition.raw))

  private val fracGen = Gen.oneOf(0.0, 0.25, 0.5, 0.75, 1.0)
  private val cacheGen = Gen.oneOf(None, None, Some(0))

  /** A declaration: its rendering (for the counterexample) and the builder call. */
  private final case class Decl[R](show: String, add: R => Any) {
    override def toString: String = show
  }

  private val withinGen: Gen[Decl[WithinRequirement]] = condGen.flatMap { c =>
    Gen.oneOf(
      Gen.choose(0L, 14L).map(n => Decl[WithinRequirement](s"nrowsMin $n $c", _.addNRowsMinConstraint(n, c))),
      Gen.choose(0L, 14L).map(n => Decl[WithinRequirement](s"nrowsMax $n $c", _.addNRowsMaxConstraint(n, c))),
      Gen.choose(0L, 14L).map(n => Decl[WithinRequirement](s"nrowsEq $n $c", _.addNRowsEqualityConstraint(n, c))),
      Gen.choose(-1.0, 2.0).map(v => Decl[WithinRequirement](s"numMin $v $c", _.addNumericMinConstraint("x", v, c))),
      Gen.choose(-1.0, 2.0).map(v => Decl[WithinRequirement](s"numMax $v $c", _.addNumericMaxConstraint("x", v, c))),
      Gen.zip(Gen.choose(-1.0, 2.0), fracGen).map { case (v, dev) =>
        Decl[WithinRequirement](s"numMean $v $dev $c", _.addNumericMeanConstraint("x", v, dev, c))
      },
      Gen.zip(fracGen, Gen.oneOf(-1.0, 0.0, 0.5), Gen.oneOf(0.0, 1.0, 3.0)).map { case (f, lo, hi) =>
        Decl[WithinRequirement](s"numBetween $f $lo $hi $c", _.addNumericBetweenConstraint("x", f, lo, hi, c))
      },
      Gen.choose(0L, 3L).map(n => Decl[WithinRequirement](s"minLen $n $c", _.addVarcharMinLengthConstraint("s", n, c))),
      Gen.choose(0L, 3L).map(n => Decl[WithinRequirement](s"maxLen $n $c", _.addVarcharMaxLengthConstraint("s", n, c))),
      Gen.zip(Gen.oneOf("k", "x", "s"), fracGen).map { case (col, f) =>
        Decl[WithinRequirement](s"maxNull $col $f $c", _.addMaxNullFractionConstraint(col, f, c))
      },
      Gen.oneOf("'2021-01-05'", "'2021-01-20'").map(v =>
        Decl[WithinRequirement](s"dateMin $v $c", _.addDateMinConstraint("d", v, condition = c))),
      Gen.oneOf("'2021-01-05'", "'2021-01-20'").map(v =>
        Decl[WithinRequirement](s"dateMax $v $c", _.addDateMaxConstraint("d", v, condition = c))),
      fracGen.map(f => Decl[WithinRequirement](s"dateBetween $f $c",
        _.addDateBetweenConstraint("d", f, "'2021-01-03'", "'2021-01-20'", c))),
      Gen.zip(fracGen, Gen.oneOf(true, false), Gen.oneOf(true, false)).map { case (t, agg, none) =>
        Decl[WithinRequirement](s"regex $t $agg $none $c", _.addVarcharRegexConstraint(
          "s", "^[a-z]+$", allowNone = none, relativeTolerance = t, aggregated = agg, condition = c))
      },
      Gen.zip(Gen.oneOf("s", "k"), fracGen).map { case (col, v) =>
        val dist: Map[Any, (Double, Double)] =
          if (col == "s") Map("a" -> (0.0, 0.5), "ab" -> (0.1, 0.6))
          else Map(0 -> (0.0, 0.5), 1 -> (0.2, 1.0))
        Decl[WithinRequirement](s"categorical $col $v $c",
          _.addCategoricalBoundConstraint(Seq(col), dist, (0.0, 1.0), v, c))
      },
      Gen.zip(Gen.oneOf(Seq("k"), Seq("k", "s")), fracGen, cacheGen).map { case (cols, f, cs) =>
        Decl[WithinRequirement](s"uniqueness $cols $f $cs $c", _.addUniquenessConstraint(
          Some(cols), f, c, cacheSize = cs))
      },
      Gen.zip(fracGen, cacheGen).map { case (f, cs) =>
        Decl[WithinRequirement](s"uniquesSuperset $f $cs $c", _.addUniquesSupersetConstraint(
          Seq("s"), Seq("a", "ab", "q"), f, condition = c, cacheSize = cs))
      },
      cacheGen.map(cs => Decl[WithinRequirement](s"uniquesEquality $cs $c",
        _.addUniquesEqualityConstraint(Seq("s"), Seq("a", "ab", "abc"), condition = c, cacheSize = cs))),
      fracGen.map(f => Decl[WithinRequirement](s"noGap $f $c",
        _.addNumericNoGapConstraint("x", "y", Seq("k"), 0.0, f, c))),
      Gen.const(Decl[WithinRequirement](s"numMin missing $c", _.addNumericMinConstraint("nope", 0.0, c))),
      Gen.const(Decl[WithinRequirement](s"dateBetween unparseable $c",
        _.addDateBetweenConstraint("d", 0.5, "'2021-13-45'", "'2021-01-20'", c))),
      fracGen.map(dev => Decl[WithinRequirement](s"numMean overflow $dev $c",
        _.addNumericMeanConstraint("z", 0.0, dev, c))))
  }

  private val betweenGen: Gen[Decl[BetweenRequirement]] = Gen.zip(condGen, condGen).flatMap {
    case (c1, c2) =>
      Gen.oneOf(
        Gen.const(Decl[BetweenRequirement](s"nrowsEq $c1 $c2", _.addNRowsEqualityConstraint(c1, c2))),
        fracGen.map(f => Decl[BetweenRequirement](s"nrowsMaxLoss $f $c1 $c2",
          _.addNRowsMaxLossConstraint(Some(f), condition1 = c1, condition2 = c2))),
        Gen.const(Decl[BetweenRequirement](s"numMin $c1 $c2", _.addNumericMinConstraint("x", "x", c1, c2))),
        fracGen.map(dev => Decl[BetweenRequirement](s"numMean $dev $c1 $c2",
          _.addNumericMeanConstraint("x", "x", dev, c1, c2))),
        fracGen.map(dev => Decl[BetweenRequirement](s"maxNull $dev $c1 $c2",
          _.addMaxNullFractionConstraint("s", "s", dev, c1, c2))),
        fracGen.map(f => Decl[BetweenRequirement](s"rowEq $f $c1 $c2",
          _.addRowEqualityConstraint(Some(Seq("k", "s")), Some(Seq("k", "s")), f, c1, c2))),
        fracGen.map(f => Decl[BetweenRequirement](s"rowSub $f $c1 $c2",
          _.addRowSubsetConstraint(Some(Seq("k", "s")), Some(Seq("k", "s")), Some(f),
            condition1 = c1, condition2 = c2))),
        fracGen.map(f => Decl[BetweenRequirement](s"rowSup $f $c1 $c2",
          _.addRowSupersetConstraint(Some(Seq("k", "s")), Some(Seq("k", "s")), Some(f),
            condition1 = c1, condition2 = c2))),
        Gen.zip(fracGen, cacheGen).map { case (f, cs) =>
          Decl[BetweenRequirement](s"uniquesSuperset $f $cs $c1 $c2", _.addUniquesSupersetConstraint(
            Seq("s"), Seq("s"), f, condition1 = c1, condition2 = c2, cacheSize = cs))
        })
  }

  /** Some declarations, some of them repeated: equal constraints share
    * their retrievals, and the batch must still fill each. */
  private def declsGen[R](g: Gen[Decl[R]], min: Int, max: Int): Gen[Seq[Decl[R]]] = for {
    n <- Gen.choose(min, max)
    ds <- Gen.listOfN(n, g)
    dups <- Gen.someOf(ds)
  } yield ds ++ dups

  private final case class Spec(
      t1: Tab,
      t2: Tab,
      within1: Seq[Decl[WithinRequirement]],
      within2: Seq[Decl[WithinRequirement]],
      between: Seq[Decl[BetweenRequirement]],
      orderSeed: Long)

  private val specGen: Gen[Spec] = for {
    t1 <- tabGen
    t2 <- Gen.frequency(1 -> Gen.const(t1), 3 -> tabGen)
    w1 <- declsGen(withinGen, 1, 5)
    w2 <- declsGen(withinGen, 0, 2)
    b <- declsGen(betweenGen, 0, 3)
    seed <- Gen.choose(0L, Long.MaxValue)
  } yield Spec(t1, t2, w1, w2, b, seed)

  /** What must agree: the outcome, message and id — or the error. */
  private def observe(res: => TestResult): Either[String, (Boolean, Option[String], String)] =
    Try(res).toEither.left.map(errorOf)
      .map(r => (r.outcome, r.failureMessage, r.constraintDescription))

  /** An error's root cause and its condition: the messages around it carry
    * job, stage and expression ids that differ from run to run. */
  private def errorOf(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    root match {
      case s: org.apache.spark.SparkThrowable if s.getCondition != null =>
        s"${root.getClass.getName}: ${s.getCondition}"
      case _ => s"${root.getClass.getName}: ${root.getMessage}"
    }
  }

  private def plansOnFailure(res: => TestResult): Boolean =
    Try(res).toOption.forall(r => r.outcome || r.factualQueries.nonEmpty)

  test("requirement-scoped evaluation == each constraint's standalone test") {
    val prop = Prop.forAllNoShrink(specGen) { spec =>
      val (s1, s2) = (FrameSource(frame(spec.t1), "t1"), FrameSource(frame(spec.t2), "t2"))
      def declare(): Seq[Requirement] = {
        val w1 = WithinRequirement(s1)
        spec.within1.foreach(_.add(w1))
        val w2 = WithinRequirement(s2)
        spec.within2.foreach(_.add(w2))
        val b = BetweenRequirement(s1, s2)
        spec.between.foreach(_.add(b))
        Seq(w1, w2, b)
      }
      val reqs = declare()
      val thunks = Runner.collectDataTests(reqs).zipWithIndex
      val scoped = new scala.util.Random(spec.orderSeed).shuffle(thunks)
        .map { case ((_, t), i) => i -> Try(t(spark)) }.toMap
      val alone = reqs.flatMap(_.constraints).map(c => Try(c.test(spark)))
      Prop.all(alone.indices.map { i =>
        val (got, want) = (scoped(i), alone(i))
        val id = thunks(i)._1._1
        ((observe(got.get) == observe(want.get)) :|
          s"$id: scoped ${observe(got.get)} != standalone ${observe(want.get)}") &&
          ((plansOnFailure(got.get) && plansOnFailure(want.get)) :| s"$id: a failure without plans")
      }: _*) :| s"spec $spec"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, Pretty.pretty(res))
  }
}
