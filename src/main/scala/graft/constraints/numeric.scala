package graft.constraints

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{max, min}

import graft.core.{DataRef, TestResult}
import graft.ops.Ops

private[constraints] object num {
  /** Collected aggregate → Option[Double]; empty sets come back as null. */
  def toD(v: Any): Option[Double] = Option(v).map {
    case n: java.math.BigDecimal => n.doubleValue()
    case n: Number               => n.doubleValue()
    case other                   => other.toString.toDouble
  }
}

/** min(col) >= target (reference `constraints/numeric.py:13-50`). */
final case class NumericMin(
    ref: DataRef,
    ref2: Option[DataRef] = None,
    refValue: Option[Option[Double]] = None,
    override val nameOverride: Option[String] = None)
    extends AggregateConstraint[Option[Double]] {
  override protected def aggregate(r: DataRef): Ops.Aggregate[Option[Double]] =
    Ops.scalarOf(r, min).map(num.toD)
  override protected def compare(
      factual: Option[Double],
      target: Option[Double]): (Boolean, Option[String]) = (factual, target) match {
    case (_, None)    => (true, None)
    case (None, Some(t)) => (t == 0.0, Some("Empty set."))
    case (Some(f), Some(t)) =>
      (f >= t,
        Some(s"${ref.describe} has min $f instead of $targetPrefix$t. $conditionString"))
  }
}

/** max(col) <= target (reference `numeric.py:53-90`). */
final case class NumericMax(
    ref: DataRef,
    ref2: Option[DataRef] = None,
    refValue: Option[Option[Double]] = None,
    override val nameOverride: Option[String] = None)
    extends AggregateConstraint[Option[Double]] {
  override protected def aggregate(r: DataRef): Ops.Aggregate[Option[Double]] =
    Ops.scalarOf(r, max).map(num.toD)
  override protected def compare(
      factual: Option[Double],
      target: Option[Double]): (Boolean, Option[String]) = (factual, target) match {
    case (None, _)    => (true, None)
    case (Some(f), None) => (f == 0.0, Some("Empty reference set."))
    case (Some(f), Some(t)) =>
      (f <= t,
        Some(s"${ref.describe} has max $f instead of $targetPrefix$t. $conditionString"))
  }
}

/** Fraction of rows in [lo, hi] >= minFraction (reference `numeric.py:93-129`). */
final case class NumericBetween(
    ref: DataRef,
    minFraction: Double,
    lowerBound: Double,
    upperBound: Double,
    override val nameOverride: Option[String] = None)
    extends Constraint {
  private def fraction = Ops.fractionBetweenOf(ref, lowerBound.toString, upperBound.toString)
  override private[constraints] def aggregates = Seq("fraction" -> fraction)
  override def test(spark: SparkSession): TestResult = withPlans {
    aggregated(spark, "fraction", fraction) match {
      case None => TestResult.success(description) // empty selection
      case Some(f) if f >= minFraction => TestResult.success(description)
      case Some(f) =>
        TestResult.failure(
          description,
          s"${ref.describe} has $f < $minFraction of rows between $lowerBound and " +
            s"$upperBound. $conditionString")
    }
  }
}

/** |mean - target| <= maxAbsoluteDeviation (reference `numeric.py:132-180`). */
final case class NumericMean(
    ref: DataRef,
    maxAbsoluteDeviation: Double,
    ref2: Option[DataRef] = None,
    refValue: Option[Option[Double]] = None,
    override val nameOverride: Option[String] = None)
    extends AggregateConstraint[Option[Double]] {
  override protected def aggregate(r: DataRef): Ops.Aggregate[Option[Double]] =
    Ops.meanOf(r).map(m => if (m.isNaN) None else Some(m))
  override protected def compare(
      factual: Option[Double],
      target: Option[Double]): (Boolean, Option[String]) = (factual, target) match {
    case (None, None) => (true, Some("Mean over empty set."))
    case (None, _) | (_, None) => (false, Some("Mean over empty set."))
    case (Some(f), Some(t)) =>
      (math.abs(f - t) <= maxAbsoluteDeviation,
        Some(s"${ref.describe} has mean $f, deviating more than " +
          s"$maxAbsoluteDeviation from $targetPrefix$t. $conditionString"))
  }
}

/** Exact percentile within abs/rel deviation (reference `numeric.py:183-260`). */
final case class NumericPercentile(
    ref: DataRef,
    percentage: Double,
    maxAbsoluteDeviation: Option[Double] = None,
    maxRelativeDeviation: Option[Double] = None,
    ref2: Option[DataRef] = None,
    refValue: Option[Double] = None,
    override val nameOverride: Option[String] = None)
    extends ValueConstraint[Double] {
  require(
    percentage >= 0 && percentage <= 100,
    s"Expected percentage to be a value between 0 and 100, got $percentage.")
  require(
    maxAbsoluteDeviation.isDefined || maxRelativeDeviation.isDefined,
    "At least one of 'maxAbsoluteDeviation' and 'maxRelativeDeviation' must be given.")
  require(maxAbsoluteDeviation.forall(_ >= 0), "maxAbsoluteDeviation must be at least 0.")
  require(maxRelativeDeviation.forall(_ >= 0), "maxRelativeDeviation must be at least 0.")

  override protected def retrieve(spark: SparkSession, r: DataRef): Double =
    Ops.getPercentile(spark, r, percentage)

  override protected def compare(factual: Double, target: Double): (Boolean, Option[String]) = {
    val absDiff = math.abs(factual - target)
    maxAbsoluteDeviation match {
      case Some(mad) if absDiff > mad =>
        return (false,
          Some(s"The $percentage-th percentile of ${ref.describe} was expected to be " +
            s"$targetPrefix$target but was $factual, resulting in an absolute " +
            s"difference of $absDiff. The maximally allowed absolute deviation " +
            s"would've been $mad."))
      case _ => ()
    }
    maxRelativeDeviation match {
      case Some(mrd) =>
        if (target == 0)
          throw new IllegalArgumentException("Cannot compute relative deviation wrt 0.")
        val relDiff = absDiff / math.abs(target)
        if (relDiff > mrd)
          return (false,
            Some(s"The $percentage-th percentile of ${ref.describe} was expected to be " +
              s"$targetPrefix$target but was $factual, resulting in a relative " +
              s"difference of $relDiff. The maximally allowed relative deviation " +
              s"would've been $mrd."))
      case None => ()
    }
    (true, None)
  }
}

/** Approximate percentile within abs/rel deviation — beyond-reference,
  * the one-pass sketch path (`percentile_approx`, t-digest-style): no
  * per-value shuffle, `accuracy` trades memory for error (err <=
  * 1/accuracy of rank). Use `NumericPercentile` when reference parity
  * matters; use this when the column is 100 TB wide.
  */
final case class NumericPercentileApprox(
    ref: DataRef,
    percentage: Double,
    refValue: Option[Double],
    maxAbsoluteDeviation: Option[Double] = None,
    maxRelativeDeviation: Option[Double] = None,
    accuracy: Int = 10000,
    override val nameOverride: Option[String] = None)
    extends Constraint {
  require(
    percentage >= 0 && percentage <= 100,
    s"Expected percentage to be a value between 0 and 100, got $percentage.")
  require(
    maxAbsoluteDeviation.isDefined || maxRelativeDeviation.isDefined,
    "At least one of 'maxAbsoluteDeviation' and 'maxRelativeDeviation' must be given.")
  require(maxAbsoluteDeviation.forall(_ >= 0), "maxAbsoluteDeviation must be at least 0.")
  require(maxRelativeDeviation.forall(_ >= 0), "maxRelativeDeviation must be at least 0.")
  require(accuracy > 0, s"accuracy must be positive, got $accuracy")
  require(refValue.isDefined,
    "NumericPercentileApprox needs a literal expected percentile (refValue); " +
      "for table-vs-table comparison use the exact NumericPercentile with ref2.")

  override def test(spark: SparkSession): TestResult = withPlans {
    val target  = refValue.get
    val factual = Ops.getPercentileApprox(spark, ref, percentage, accuracy)
    val absDiff = math.abs(factual - target)
    val absFail = maxAbsoluteDeviation.exists(absDiff > _)
    val relFail = maxRelativeDeviation.exists { mrd =>
      if (target == 0)
        throw new IllegalArgumentException("Cannot compute relative deviation wrt 0.")
      absDiff / math.abs(target) > mrd
    }
    if (!absFail && !relFail) TestResult.success(description)
    else
      TestResult.failure(
        description,
        s"The approximate $percentage-th percentile of ${ref.describe} was expected " +
          s"to be $target but was $factual (accuracy=$accuracy, abs diff $absDiff). " +
          conditionString)
  }
}
