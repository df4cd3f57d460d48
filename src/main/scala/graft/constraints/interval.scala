package graft.constraints

import org.apache.spark.sql.SparkSession

import graft.core.{DataRef, TestResult}
import graft.ops.Intervals

/** Shared machinery for the interval (no-overlap / no-gap) constraints
  * (reference `constraints/interval.py:12-143`): retrieve distinct key count,
  * violation-key count, and one violation sample; compare the violating-key
  * fraction against `maxRelativeNViolations`.
  */
sealed abstract class IntervalConstraint extends Constraint {
  def dimensions: Int
  def keyColumns: Seq[String]
  def startColumns: Seq[String]
  def endColumns: Seq[String]
  def maxRelativeNViolations: Double

  require(
    startColumns.length == dimensions,
    s"Expected $dimensions start_column(s), got ${startColumns.length}.")
  require(
    endColumns.length == dimensions,
    s"Expected $dimensions end_column(s), got ${endColumns.length}.")

  protected def retrieveResult(spark: SparkSession): Intervals.IntervalResult

  /** This constraint without its tolerance and name: two constraints with
    * one key make the same `retrieveResult` call and share it. */
  protected def retrievalKey: Any

  /** What the violation means, for the failure message ("overlapping date
    * ranges in ..." / "a gap in the range in ...").
    */
  protected def violationPhrase: String

  override def test(spark: SparkSession): TestResult = withPlans {
    val res = shared(spark, retrievalKey)(retrieveResult(spark))
    if (res.nDistinctKeys == 0) return TestResult.success(description)
    val fraction = res.nViolationKeys.toDouble / res.nDistinctKeys
    if (fraction <= maxRelativeNViolations) TestResult.success(description)
    else
      TestResult.failure(
        description,
        s"${ref.describe} has a ratio of $fraction > $maxRelativeNViolations keys in " +
          s"columns ${keyColumns.mkString(", ")} with $violationPhrase. " +
          s"E.g. for: ${formatting.formatSample(res.violationSample)}.")
  }
}

/** No-overlap over `ref` with key/start/end columns
  * (reference `interval.py:145-184` + `date.py:1002-1040`, `numeric.py:296-313`).
  */
final case class NoOverlap(
    ref: DataRef,
    keyColumns: Seq[String],
    startColumns: Seq[String],
    endColumns: Seq[String],
    maxRelativeNViolations: Double,
    endIncluded: Boolean,
    dimensions: Int,
    kind: String, // "date ranges" | "ranges" — message parity only
    override val nameOverride: Option[String] = None)
    extends IntervalConstraint {
  override protected def retrieveResult(spark: SparkSession): Intervals.IntervalResult =
    Intervals.overlapResult(spark, ref, keyColumns, startColumns, endColumns, endIncluded)
  override protected def retrievalKey: Any =
    copy(maxRelativeNViolations = 0, nameOverride = None)
  override protected def violationPhrase: String =
    s"overlapping $kind in ${startColumns.zip(endColumns).map { case (s, e) => s"$s and $e" }.mkString(" and ")}"
}

/** No-gap over `ref` with key/start/end columns
  * (reference `interval.py:187-216` + `date.py:1043-1073`, `numeric.py:263-293`).
  */
final case class NoGap(
    ref: DataRef,
    keyColumns: Seq[String],
    startColumn: String,
    endColumn: String,
    maxRelativeNViolations: Double,
    legitimateGapSize: Double,
    isDate: Boolean,
    override val nameOverride: Option[String] = None)
    extends IntervalConstraint {
  override def dimensions: Int = 1
  override def startColumns: Seq[String] = Seq(startColumn)
  override def endColumns: Seq[String] = Seq(endColumn)
  override protected def retrieveResult(spark: SparkSession): Intervals.IntervalResult = {
    val cond =
      if (isDate) Intervals.dateGapCondition(legitimateGapSize)
      else Intervals.numericGapCondition(legitimateGapSize)
    Intervals.gapResult(spark, ref, keyColumns, startColumn, endColumn, cond)
  }
  override protected def retrievalKey: Any =
    copy(maxRelativeNViolations = 0, nameOverride = None)
  override protected def violationPhrase: String =
    s"a gap in the ${if (isDate) "date range" else "range"} in $startColumn and $endColumn"
}
