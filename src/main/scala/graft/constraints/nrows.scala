package graft.constraints

import org.apache.spark.sql.SparkSession

import graft.core.DataRef
import graft.ops.Ops
import types.ToleranceGetter

/** Row-count constraints (reference `constraints/nrows.py:13-184`). */
sealed abstract class NRows extends AggregateConstraint[Long] {
  override protected def aggregate(r: DataRef): Ops.Aggregate[Long] = Ops.rowCountOf(r)
}

/** factual >= target; the retrieval is capped at the target so "are there
  * at least N rows" never runs a full count (reference `nrows.py:37-60`).
  * Batched with other capped counts over the same selection it is capped at
  * the largest target, which decides each the same way; batched with any
  * other aggregate it counts exactly: the scan is paid anyway.
  */
final case class NRowsMin(
    ref: DataRef,
    ref2: Option[DataRef] = None,
    refValue: Option[Long] = None,
    override val nameOverride: Option[String] = None)
    extends NRows {
  override protected def aggregate(r: DataRef): Ops.Aggregate[Long] =
    Ops.rowCountOf(r, rowLimit = refValue)
  override protected def compare(factual: Long, target: Long): (Boolean, Option[String]) =
    (factual >= target,
      Some(s"${ref.describe} has $factual < $targetPrefix$target rows. $conditionString"))
}

final case class NRowsMax(
    ref: DataRef,
    ref2: Option[DataRef] = None,
    refValue: Option[Long] = None,
    override val nameOverride: Option[String] = None)
    extends NRows {
  override protected def compare(factual: Long, target: Long): (Boolean, Option[String]) = {
    val (ff, tf) = graft.core.Formatter.formatDifference(factual, target)
    (factual <= target,
      Some(s"${ref.describe} has $ff > $targetPrefix$tf rows. $conditionString"))
  }
}

final case class NRowsEquality(
    ref: DataRef,
    ref2: Option[DataRef] = None,
    refValue: Option[Long] = None,
    override val nameOverride: Option[String] = None)
    extends NRows {
  override protected def compare(factual: Long, target: Long): (Boolean, Option[String]) = {
    val (ff, tf) = graft.core.Formatter.formatDifference(factual, target)
    (factual == target,
      Some(s"${ref.describe} has $ff row(s) instead of $targetPrefix$tf. " +
        conditionString))
  }
}

/** (n2-n1)/n2 <= maxLoss; row gain always passes (reference `nrows.py:91-120`). */
final case class NRowsMaxLoss(
    ref: DataRef,
    ref2Required: DataRef,
    maxRelativeLossGetter: ToleranceGetter,
    override val nameOverride: Option[String] = None)
    extends NRows {
  override def ref2: Option[DataRef] = Some(ref2Required)
  override def refValue: Option[Long] = None
  override protected def compare(factual: Long, target: Long): (Boolean, Option[String]) =
    throw new UnsupportedOperationException("uses testWithTolerance")
  override def test(spark: SparkSession): graft.core.TestResult = withPlans {
    val maxLoss = maxRelativeLossGetter(spark)
    val f       = factual(spark)
    val t       = target(spark)
    if (t == 0L) return graft.core.TestResult.success(description)
    if (f > t) return graft.core.TestResult.success(description)
    val loss = (t - f).toDouble / t
    if (loss <= maxLoss) graft.core.TestResult.success(description)
    else
      graft.core.TestResult.failure(
        description,
        f"The #rows from ${ref.describe} have decreased by ${loss * 100}%.2f%% compared to " +
          f"${ref2Required.describe}. They were expected to decrease by at most " +
          f"${maxLoss * 100}%.2f%%. $conditionString")
  }
}

/** (n1-n2)/n2 <= maxGain; row loss always passes (reference `nrows.py:123-152`). */
final case class NRowsMaxGain(
    ref: DataRef,
    ref2Required: DataRef,
    maxRelativeGainGetter: ToleranceGetter,
    override val nameOverride: Option[String] = None)
    extends NRows {
  override def ref2: Option[DataRef] = Some(ref2Required)
  override def refValue: Option[Long] = None
  override protected def compare(factual: Long, target: Long): (Boolean, Option[String]) =
    throw new UnsupportedOperationException("uses testWithTolerance")
  override def test(spark: SparkSession): graft.core.TestResult = withPlans {
    val maxGain = maxRelativeGainGetter(spark)
    val f       = factual(spark)
    val t       = target(spark)
    if (t == 0L) return graft.core.TestResult.success(description)
    if (f < t) return graft.core.TestResult.success(description)
    val gain = (f - t).toDouble / t
    if (gain <= maxGain) graft.core.TestResult.success(description)
    else
      graft.core.TestResult.failure(
        description,
        f"${ref.describe} has ${gain * 100}%.2f%% gain in #rows compared to " +
          f"${ref2Required.describe}. It was only allowed to increase by " +
          f"${maxGain * 100}%.2f%%. $conditionString")
  }
}

/** (n1-n2)/n2 >= minGain; row loss always fails (reference `nrows.py:155-184`). */
final case class NRowsMinGain(
    ref: DataRef,
    ref2Required: DataRef,
    minRelativeGainGetter: ToleranceGetter,
    override val nameOverride: Option[String] = None)
    extends NRows {
  override def ref2: Option[DataRef] = Some(ref2Required)
  override def refValue: Option[Long] = None
  override protected def compare(factual: Long, target: Long): (Boolean, Option[String]) =
    throw new UnsupportedOperationException("uses testWithTolerance")
  override def test(spark: SparkSession): graft.core.TestResult = withPlans {
    val minGain = minRelativeGainGetter(spark)
    val f       = factual(spark)
    val t       = target(spark)
    if (t == 0L) return graft.core.TestResult.success(description)
    if (f < t) return graft.core.TestResult.failure(description, "Row loss.")
    val gain = (f - t).toDouble / t
    if (gain >= minGain) graft.core.TestResult.success(description)
    else
      graft.core.TestResult.failure(
        description,
        f"${ref.describe} has ${gain * 100}%.2f%% gain in #rows compared to " +
          f"${ref2Required.describe}. It was supposed to increase at least by " +
          f"${minGain * 100}%.2f%%. $conditionString")
  }
}
