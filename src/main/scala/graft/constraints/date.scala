package graft.constraints

import java.time.LocalDate

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{max, min}

import graft.core.{DataRef, TestResult}
import graft.ops.Ops

private[graft] object dates {

  /** Collected date/timestamp value → LocalDate, whatever object Spark hands
    * back (DateType → LocalDate/sql.Date, TimestampType → Instant/Timestamp,
    * TIMESTAMP_NTZ → LocalDateTime). Reference `_convert_to_date`
    * (`constraints/date.py:33-41`).
    */
  def toLocalDate(v: Any): Option[LocalDate] = Option(v).map {
    case d: LocalDate                 => d
    case d: java.sql.Date             => d.toLocalDate
    case t: java.sql.Timestamp        => t.toLocalDateTime.toLocalDate
    case t: java.time.LocalDateTime   => t.toLocalDate
    case t: java.time.Instant         => t.atOffset(java.time.ZoneOffset.UTC).toLocalDate
    case s: String                    => LocalDate.parse(s.take(10))
    case other =>
      throw new IllegalArgumentException(s"Cannot convert ${other.getClass} to date.")
  }

  /** Input format `'%Y-%m-%d'` incl. the literal quotes
    * (reference `date.py:13`, e.g. `"'2021-01-01'"`).
    */
  def parseInput(s: String): LocalDate = LocalDate.parse(s.stripPrefix("'").stripSuffix("'"))
}

/** min(date col) vs bound; `useLowerBoundReference` flips the direction
  * (reference `constraints/date.py:37-89`).
  */
final case class DateMin(
    ref: DataRef,
    useLowerBoundReference: Boolean,
    ref2: Option[DataRef] = None,
    refValue: Option[Option[LocalDate]] = None,
    override val nameOverride: Option[String] = None)
    extends AggregateConstraint[Option[LocalDate]] {
  override protected def aggregate(r: DataRef): Ops.Aggregate[Option[LocalDate]] =
    Ops.scalarOf(r, min).map(dates.toLocalDate)
  override protected def compare(
      factual: Option[LocalDate],
      target: Option[LocalDate]): (Boolean, Option[String]) = (factual, target) match {
    case (_, None)       => (true, None)
    case (None, Some(_)) => (false, Some("Empty set."))
    case (Some(f), Some(t)) =>
      if (useLowerBoundReference)
        (!f.isBefore(t),
          Some(s"${ref.describe} has min $f < $targetPrefix$t. $conditionString"))
      else
        (!f.isAfter(t),
          Some(s"${ref.describe} has min $f > $targetPrefix$t. $conditionString"))
  }
}

/** max(date col) vs bound; `useUpperBoundReference` flips the direction
  * (reference `date.py:92-145`).
  */
final case class DateMax(
    ref: DataRef,
    useUpperBoundReference: Boolean,
    ref2: Option[DataRef] = None,
    refValue: Option[Option[LocalDate]] = None,
    override val nameOverride: Option[String] = None)
    extends AggregateConstraint[Option[LocalDate]] {
  override protected def aggregate(r: DataRef): Ops.Aggregate[Option[LocalDate]] =
    Ops.scalarOf(r, max).map(dates.toLocalDate)
  override protected def compare(
      factual: Option[LocalDate],
      target: Option[LocalDate]): (Boolean, Option[String]) = (factual, target) match {
    case (None, _)       => (true, None)
    case (Some(_), None) => (false, Some("Empty reference set."))
    case (Some(f), Some(t)) =>
      if (useUpperBoundReference)
        (!f.isAfter(t),
          Some(s"${ref.describe} has max $f > $targetPrefix$t. $conditionString"))
      else
        (!f.isBefore(t),
          Some(s"${ref.describe} has max $f < $targetPrefix$t. $conditionString"))
  }
}

/** Fraction of dates in [lo, hi] >= minFraction (reference `date.py:148-176`).
  * Bounds are `'%Y-%m-%d'` strings rendered into the range predicate.
  */
final case class DateBetween(
    ref: DataRef,
    minFraction: Double,
    lowerBound: String,
    upperBound: String,
    override val nameOverride: Option[String] = None)
    extends Constraint {
  private def fraction = Ops.fractionBetweenOf(
    ref, s"DATE'${dates.parseInput(lowerBound)}'", s"DATE'${dates.parseInput(upperBound)}'")
  override private[constraints] def aggregates = Seq("fraction" -> fraction)
  override def test(spark: SparkSession): TestResult = withPlans {
    aggregated(spark, "fraction", fraction) match {
      case None => TestResult.success(description)
      case Some(f) if f >= minFraction => TestResult.success(description)
      case Some(f) =>
        TestResult.failure(
          description,
          s"${ref.describe} has $f < $minFraction of values between $lowerBound and " +
            s"$upperBound. $conditionString")
    }
  }
}
