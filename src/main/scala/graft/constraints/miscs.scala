package graft.constraints

import org.apache.spark.sql.SparkSession

import graft.core.{DataRef, TestResult}
import graft.ops.Ops

/** Reflected-PK equality (reference `constraints/miscs.py:12-47`).
  *
  * Spark has no first-class primary-key concept; the engine reads the
  * `primaryKey` table property (comma-separated) when the source is a catalog
  * table, mirroring the reference's behavior of raising for sources without
  * PK reflection (BigQuery precedent, `miscs.py:79-80`).
  */
final case class PrimaryKeyDefinition(
    ref: DataRef,
    primaryKeys: Seq[String],
    override val nameOverride: Option[String] = None)
    extends Constraint {
  override def test(spark: SparkSession): TestResult = withPlans {
    val factual = graft.core.PrimaryKeys.of(spark, ref.source) match {
      case Some(pks) => pks.toSet
      case None =>
        throw new UnsupportedOperationException(
          s"No primary-key metadata available for ${ref.describe}; " +
            "declare a `primaryKey` table property on a catalog table.")
    }
    val target = primaryKeys.toSet
    if (factual == target) TestResult.success(description)
    else {
      val msg =
        if ((target -- factual).nonEmpty)
          s"${ref.describe} doesn't include ${(target -- factual).head} as primary key."
        else
          s"${ref.describe} incorrectly includes ${(factual -- target).head} as primary key."
      TestResult.failure(description, msg)
    }
  }
}

/** distinct_count >= row_count·(1−relTol) or >= row_count − absTol, with a
  * duplicate sample on failure (reference `miscs.py:50-121`).
  */
final case class Uniqueness(
    ref: DataRef,
    maxDuplicateFraction: Double = 0.0,
    maxAbsoluteNDuplicates: Long = 0L,
    inferPkColumns: Boolean = false,
    override val cacheSize: Option[Int] = None,
    override val nameOverride: Option[String] = None)
    extends Constraint {
  require(
    maxDuplicateFraction == 0 || maxAbsoluteNDuplicates == 0,
    "Only use one of a relative and an absolute uniqueness tolerance at a time.")

  override def test(spark: SparkSession): TestResult = withPlans {
    val effectiveRef =
      if (inferPkColumns)
        graft.core.PrimaryKeys.of(spark, ref.source) match {
          case Some(pks) if pks.nonEmpty => ref.copy(columns = Some(pks))
          case _                         => ref
        }
      else ref
    // both retrievals memoize per instance+session (reference base.py's
    // lru_cache posture); cacheSize = 0 re-queries every test — CachingSpec
    // pins the job counts both ways
    val uniqueCount =
      memoized(spark, "uniqueCount")(Ops.getUniqueCount(spark, effectiveRef))
    val rowCount =
      memoized(spark, "rowCount")(Ops.rowCount(spark, effectiveRef))
    if (rowCount == 0) return TestResult.success(description)
    val ok =
      if (maxAbsoluteNDuplicates != 0) uniqueCount >= rowCount - maxAbsoluteNDuplicates
      else uniqueCount >= rowCount * (1 - maxDuplicateFraction)
    if (ok) TestResult.success(description)
    else {
      val sample = Ops.getDuplicateSample(spark, effectiveRef)
      TestResult.failure(
        description,
        s"${ref.describe} has $rowCount rows > $uniqueCount uniques. This surpasses " +
          s"the allowed duplicate tolerance. An example tuple breaking the uniqueness " +
          s"condition is: ${formatting.formatSample(sample)}.")
    }
  }
}

/** Key columns functionally determine the remaining columns; violating tuples
  * listed (reference `miscs.py:124-147`).
  */
final case class FunctionalDependency(
    ref: DataRef,
    keyColumns: Seq[String],
    outputLimit: Int = 100,
    override val nameOverride: Option[String] = None)
    extends Constraint {
  override def test(spark: SparkSession): TestResult = withPlans {
    // Bounded collect: only the first `outputLimit`+1 violating tuples leave
    // the executors — the constraint outcome needs existence, the message
    // needs at most `outputLimit` examples (SURVEY §4: limit-before-collect).
    val violations = Ops
      .functionalDependencyViolations(spark, ref, keyColumns)
      .limit(outputLimit + 1)
      .collect()
    if (violations.isEmpty) TestResult.success(description)
    else
      TestResult.failure(
        description,
        s"${ref.describe} has violations of functional dependence " +
          s"(showing up to $outputLimit rows):\n" +
          formatting.limited(violations.toSeq.map(_.toString), outputLimit))
  }
}

/** NULL fraction <= bound, or <= ref2's fraction·(1+relDev)
  * (reference `miscs.py:150-191`).
  */
final case class MaxNullFraction(
    ref: DataRef,
    ref2: Option[DataRef] = None,
    refValue: Option[Double] = None,
    maxRelativeDeviation: Double = 0.0,
    override val nameOverride: Option[String] = None)
    extends AggregateConstraint[Double] {
  require(
    refValue.forall(v => v >= 0 && v <= 1),
    s"max_null_fraction was expected to lie within [0, 1] but is $refValue.")
  require(maxRelativeDeviation >= 0, "maxRelativeDeviation needs to be positive.")

  override protected def aggregate(r: DataRef): Ops.Aggregate[Double] =
    Ops.missingFractionOf(r).map(_.getOrElse(0.0))

  override protected def compare(factual: Double, target: Double): (Boolean, Option[String]) = {
    val threshold = target * (1 + maxRelativeDeviation)
    (factual <= threshold,
      Some(s"$factual of ${ref.describe} values are NULL while only " +
        s"$targetPrefix$threshold were allowed to be NULL."))
  }
}
