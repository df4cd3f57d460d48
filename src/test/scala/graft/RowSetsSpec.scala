package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.constraints.{RowEquality, RowSubset, RowSuperset}
import graft.core.{DataRef, FrameSource}
import graft.ops.Ops

/** The fused row-set retrieval (`Ops.getRowSets`) against its reference
  * operators — EXCEPT DISTINCT counts, DISTINCT counts and the DISTINCT
  * UNION count — on generated frames, plus the job budget and failure
  * messages of the row constraints built on it.
  */
class RowSetsSpec extends AnyFunSuite {
  import TestSpark._

  private val schema = StructType(Seq(
    StructField("i", IntegerType),
    StructField("d", DoubleType),
    StructField("s", StringType)))

  private def frame(rows: Seq[Row], s: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), s)

  // small domains so sides overlap; NULL, NaN and both zeros in every column
  private val rowGen: Gen[Row] = for {
    i <- Gen.oneOf[Integer](null, 0, 1, 2)
    d <- Gen.oneOf[java.lang.Double](null, Double.NaN, -0.0, 0.0, 1.5)
    s <- Gen.oneOf[String](null, "a", "b")
  } yield Row(i, d, s)

  private val sideGen: Gen[Seq[Row]] = Gen.frequency(
    1 -> Gen.const(Seq.empty[Row]),
    1 -> Gen.zip(rowGen, Gen.choose(1, 5)).map { case (r, n) => Seq.fill(n)(r) },
    6 -> Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, rowGen)))

  private val pairGen: Gen[(Seq[Row], Seq[Row])] = Gen.frequency(
    6 -> Gen.zip(sideGen, sideGen),
    1 -> sideGen.map(l => (l, l.reverse)),
    1 -> Gen.const((Seq.empty[Row], Seq.empty[Row])))

  /** `sample` is defined iff the difference is non-empty, and lies in
    * `own` EXCEPT `other`. */
  private def sampleInDifference(
      sample: Option[Row], size: Long, own: DataFrame, other: DataFrame): Boolean =
    sample match {
      case None => size == 0
      case Some(row) =>
        val one = spark.createDataFrame(java.util.List.of(row), own.schema)
        size > 0 && one.except(other).count() == 1 && one.except(own).count() == 0
    }

  test("getRowSets == EXCEPT / DISTINCT / UNION references on generated frames") {
    val prop = Prop.forAllNoShrink(pairGen, Gen.oneOf(false, true)) {
      case ((lRows, rRows), widenRight) =>
        // the right side's int column as bigint exercises WidenSetOperationTypes
        val rSchema =
          if (widenRight) StructType(schema.fields.updated(0, StructField("i", LongType)))
          else schema
        val rConv =
          if (widenRight) rRows.map(r =>
            Row(if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getInt(0).toLong),
              r.get(1), r.get(2)))
          else rRows
        val (lDf, rDf) = (frame(lRows, schema), frame(rConv, rSchema))
        val (l, r) = (DataRef(FrameSource(lDf, "l")), DataRef(FrameSource(rDf, "r")))
        val sets = Ops.getRowSets(spark, l, r)
        Prop.all(
          (sets.leftOnly == Ops.getRowDifferenceCount(spark, l, r)) :| "|L∖R|",
          (sets.rightOnly == Ops.getRowDifferenceCount(spark, r, l)) :| "|R∖L|",
          (sets.left == Ops.getUniqueCount(spark, l)) :| "|L|",
          (sets.right == Ops.getUniqueCount(spark, r)) :| "|R|",
          (sets.union == Ops.getUniqueCountUnion(spark, l, r)) :| "|L∪R|",
          sampleInDifference(sets.leftOnlySample, sets.leftOnly, lDf, rDf) :| "L∖R sample",
          sampleInDifference(sets.rightOnlySample, sets.rightOnly, rDf, lDf) :| "R∖L sample"
        ) :| s"L=$lRows R=$rRows widen=$widenRight"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  // RowSpec's mix_table1 / mix_table2 shapes
  private lazy val mix1 = mixDf(
    (1 to 19).map(i => (Integer.valueOf(i), s"hi$i", f"2016-01-$i%02d")))
  private lazy val mix2 = mixDf(
    (2 to 18).map(i => (Integer.valueOf(i), s"hi$i", f"2016-01-$i%02d")) :+
      (Integer.valueOf(19), "ho19", "2016-01-19"))
  private val cols = Seq("col_int", "col_varchar")
  private def r1 = DataRef(FrameSource(mix1, "mix_table1"), Some(cols))
  private def r2 = DataRef(FrameSource(mix2, "mix_table2"), Some(cols))

  test("failures name the fraction, a sample from the right side, and the plans") {
    val eq = RowEquality(r1, r2, _ => 2.9 / 20).test(spark)
    assert(!eq.outcome && eq.factualQueries.nonEmpty)
    assert(eq.failureMessage.exists(m =>
      m.startsWith(s"${3.0 / 20} > ${2.9 / 20} of rows differ between") &&
        (m.contains("E.g. for [1,hi1].") || m.contains("E.g. for [19,hi19]."))),
      eq.failureMessage)
    val sub = RowSubset(r1, r2, _ => 1.9 / 19).test(spark)
    assert(!sub.outcome && sub.factualQueries.nonEmpty)
    assert(sub.failureMessage.exists(m =>
      m.contains("are not in") &&
        (m.contains("E.g. for [1,hi1].") || m.contains("E.g. for [19,hi19]."))),
      sub.failureMessage)
    val sup = RowSuperset(r1, r2, _ => 0.9 / 18).test(spark)
    assert(!sup.outcome && sup.factualQueries.nonEmpty)
    assert(sup.failureMessage.exists(m =>
      m.startsWith(s"${1.0 / 18} > ${0.9 / 18} of rows of mix_table2") &&
        m.contains("E.g. for [19,ho19].")),
      sup.failureMessage)
  }

  test("row constraints stay within their measured job budget, pass or fail") {
    // warm: first evaluation compiles the generated code
    RowEquality(r1, r2, _ => 1.0).test(spark)
    def jobs(c: graft.constraints.Constraint, pass: Boolean): Int =
      countJobs(assert(c.test(spark).outcome == pass))
    // measured: 3 jobs each under AQE (the group-by's shuffle stage, the
    // global aggregate's shuffle stage, the result); the three-retrieval
    // spelling with a separate failure sample ran several times as many
    val budget = 3
    Seq(
      jobs(RowEquality(r1, r2, _ => 3.0 / 20), pass = true),
      jobs(RowEquality(r1, r2, _ => 2.9 / 20), pass = false),
      jobs(RowSubset(r1, r2, _ => 2.0 / 19), pass = true),
      jobs(RowSubset(r1, r2, _ => 1.9 / 19), pass = false),
      jobs(RowSuperset(r1, r2, _ => 1.0 / 18), pass = true),
      jobs(RowSuperset(r1, r2, _ => 0.9 / 18), pass = false)
    ).foreach(n => assert(n <= budget, s"row constraint launched $n jobs, budget $budget"))
  }
}
