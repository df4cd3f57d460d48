package graft.constraints

import org.apache.spark.sql.SparkSession

import graft.core.{DataRef, TestResult}
import graft.ops.Ops
import types.ToleranceGetter

/** Row-set constraints (reference `constraints/row.py:13-222`). All operate
  * on SET semantics (EXCEPT DISTINCT / DISTINCT UNION), with a
  * `maxMissingFraction` tolerance possibly derived from date-range growth.
  * Equality/subset/superset read every set size and sample from one fused
  * aggregation (`Ops.getRowSets`).
  */
sealed abstract class RowConstraint extends Constraint {
  def ref2Required: DataRef
  def maxMissingFractionGetter: ToleranceGetter
  override protected def ref2Option: Option[graft.core.DataRef] = Some(ref2Required)

  /** Every set size and sample of the pair, shared by the equality, subset
    * and superset constraints over it. */
  protected final def rowSets(spark: SparkSession): Ops.RowSets =
    shared(spark, ("rowSets", ref, ref2Required))(Ops.getRowSets(spark, ref, ref2Required))
}

/** (|T1∖T2| + |T2∖T1|) / |T1∪T2| <= tolerance (reference `row.py:38-86`). */
final case class RowEquality(
    ref: DataRef,
    ref2Required: DataRef,
    maxMissingFractionGetter: ToleranceGetter,
    override val nameOverride: Option[String] = None)
    extends RowConstraint {
  override def test(spark: SparkSession): TestResult = withPlans {
    val maxMissing = maxMissingFractionGetter(spark)
    val sets       = rowSets(spark)
    if (sets.union == 0) return TestResult.success(description)
    val fraction = (sets.leftOnly + sets.rightOnly).toDouble / sets.union
    if (fraction <= maxMissing) TestResult.success(description)
    else {
      val sample = if (sets.leftOnly > 0) sets.leftOnlySample else sets.rightOnlySample
      TestResult.failure(
        description,
        s"$fraction > $maxMissing of rows differ between ${ref.describe} and " +
          s"${ref2Required.describe}. E.g. for ${formatting.formatSample(sample)}.")
    }
  }
}

/** |T1∖T2| / |T1| <= tolerance (reference `row.py:89-129`). */
final case class RowSubset(
    ref: DataRef,
    ref2Required: DataRef,
    maxMissingFractionGetter: ToleranceGetter,
    override val nameOverride: Option[String] = None)
    extends RowConstraint {
  override def test(spark: SparkSession): TestResult = withPlans {
    val maxMissing = maxMissingFractionGetter(spark)
    val sets       = rowSets(spark)
    if (sets.left == 0) return TestResult.success(description)
    val fraction = sets.leftOnly.toDouble / sets.left
    if (fraction <= maxMissing) TestResult.success(description)
    else
      TestResult.failure(
        description,
        s"$fraction > $maxMissing of rows of ${ref.describe} are not in " +
          s"${ref2Required.describe}. E.g. for ${formatting.formatSample(sets.leftOnlySample)}. " +
          conditionString)
  }
}

/** |T2∖T1| / |T2| <= tolerance (reference `row.py:132-173`). */
final case class RowSuperset(
    ref: DataRef,
    ref2Required: DataRef,
    maxMissingFractionGetter: ToleranceGetter,
    override val nameOverride: Option[String] = None)
    extends RowConstraint {
  override def test(spark: SparkSession): TestResult = withPlans {
    val maxMissing = maxMissingFractionGetter(spark)
    val sets       = rowSets(spark)
    if (sets.right == 0) return TestResult.success(description)
    val fraction = sets.rightOnly.toDouble / sets.right
    if (fraction <= maxMissing) TestResult.success(description)
    else
      TestResult.failure(
        description,
        s"$fraction > $maxMissing of rows of ${ref2Required.describe} are not in " +
          s"${ref.describe}. E.g. for ${formatting.formatSample(sets.rightOnlySample)}. " +
          conditionString)
  }
}

/** Inner match-join + null-safe mismatch fraction on compare columns
  * (reference `row.py:176-222`).
  */
final case class RowMatchingEquality(
    ref: DataRef,
    ref2Required: DataRef,
    matchingColumns1: Seq[String],
    matchingColumns2: Seq[String],
    comparisonColumns1: Seq[String],
    comparisonColumns2: Seq[String],
    maxMissingFractionGetter: ToleranceGetter,
    override val nameOverride: Option[String] = None)
    extends RowConstraint {
  override def test(spark: SparkSession): TestResult = withPlans {
    val mc = Ops.MatchAndCompare(
      matchingColumns1, matchingColumns2, comparisonColumns1, comparisonColumns2)
    val (missingFraction, nRowsMatch) = Ops.getRowMismatch(spark, ref, ref2Required, mc)
    val maxMissing = maxMissingFractionGetter(spark)
    if (missingFraction <= maxMissing) TestResult.success(description)
    else
      TestResult.failure(
        description,
        s"$missingFraction > $maxMissing of the rows differ on a match of " +
          s"$nRowsMatch rows between ${ref.describe} and ${ref2Required.describe}. " +
          s"$conditionString$mc ")
  }
}
