package graft.constraints

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{length, max, min}

import graft.core.{DataRef, TestResult}
import graft.ops.Ops

/** In-engine regex matching (reference `constraints/varchar.py:14-86`):
  * violations / (distinct values | total rows) <= relativeTolerance.
  * `rlike` is a *search* (unanchored), matching the reference's in-DB
  * `regexp_match` semantics.
  */
final case class VarCharRegexDb(
    ref: DataRef,
    regex: String,
    relativeTolerance: Double = 0.0,
    aggregated: Boolean = true,
    nCounterexamples: Int = 5,
    override val nameOverride: Option[String] = None)
    extends Constraint {
  override def test(spark: SparkSession): TestResult = withPlans {
    val (nViolations, counterexamples) =
      Ops.getRegexViolations(spark, ref, aggregated, regex, nCounterexamples)
    val nRows =
      if (aggregated) Ops.getUniqueCount(spark, ref) else Ops.rowCount(spark, ref)
    val relative = if (nRows == 0) 0.0 else nViolations.toDouble / nRows
    if (relative <= relativeTolerance) TestResult.success(description)
    else {
      val ce =
        if (counterexamples.nonEmpty)
          s"Some counterexamples consist of the following: ${counterexamples.mkString(", ")}. "
        else ""
      TestResult.failure(
        description,
        s"${ref.describe} breaks regex '$regex' in $relative > $relativeTolerance of " +
          s"the cases. In absolute terms, $nViolations of the $nRows samples violated " +
          s"the regex. $ce$conditionString")
    }
  }
}

/** Client-side regex over distinct values (reference `varchar.py:89-156`):
  * pulls distinct values, matches with an *anchored* regex (Python
  * `re.match` ≡ `^pattern` search), optional `allowNone`, aggregated
  * (distinct-weighted) or row-weighted tolerance.
  */
final case class VarCharRegex(
    ref: DataRef,
    regex: String,
    allowNone: Boolean = false,
    relativeTolerance: Double = 0.0,
    aggregated: Boolean = true,
    nCounterexamples: Int = 5,
    override val nameOverride: Option[String] = None)
    extends Constraint {
  // body lives in a plain method so its `return`s are local returns whose
  // values flow back INTO withPlans — a non-local return out of the closure
  // would skip plan attachment on failures
  override def test(spark: SparkSession): TestResult = withPlans(runTest(spark))

  private def runTest(spark: SparkSession): TestResult = {
    // same driver-memory cap as the Uniques client path: a high-cardinality
    // column aborts loudly instead of OOMing the collect
    val cap = Uniques.collectCap(spark)
    val uniques = cappedUniques(spark, ref)
    if (uniques.size > cap)
      return TestResult.failure(
        description,
        s"${ref.describe} has more than $cap distinct values; the client-side regex " +
          s"retrieval was aborted to bound driver memory. " +
          s"<SHORTENED OUTPUT, displaying the first 0 / >$cap elements above> " +
          s"Raise spark.conf '${Uniques.CollectCapKey}' or use the engine-side " +
          s"regex violation ops.$conditionString")
    val hasNull = uniques.keys.exists(_.headOption.orNull == null)
    if (!allowNone && hasNull)
      return TestResult.failure(
        description,
        "The column contains a None value when it's not allowed. To ignore None " +
          "values, please use `allow_none=True` option.")
    val counter =
      uniques.collect { case (Seq(v), c) if v != null => String.valueOf(v) -> c }
    if (regex.isEmpty) return TestResult.failure(description, "No regex pattern given")
    val pattern    = java.util.regex.Pattern.compile(regex)
    val mismatches = counter.keySet.filter(v => !pattern.matcher(v).lookingAt())
    val (nViolations, nTotal) =
      if (aggregated) (mismatches.size.toLong, counter.size.toLong)
      else (mismatches.toSeq.map(counter).sum, counter.values.sum)
    if (nTotal == 0) return TestResult.success(description)
    val relative = nViolations.toDouble / nTotal
    if (relative <= relativeTolerance) TestResult.success(description)
    else {
      val counterexamples =
        if (nCounterexamples == -1) mismatches.toSeq else mismatches.toSeq.take(nCounterexamples)
      val ce =
        if (counterexamples.nonEmpty)
          s"Some counterexamples consist of the following: ${counterexamples.mkString(", ")}. "
        else ""
      TestResult.failure(
        description,
        s"${ref.describe} breaks regex '$regex' in $relative > $relativeTolerance of " +
          s"the cases. In absolute terms, $nViolations of the $nTotal samples violated " +
          s"the regex. $ce$conditionString")
    }
  }
}

/** min(length(col)) >= target (reference `varchar.py:159-236`). */
final case class VarCharMinLength(
    ref: DataRef,
    ref2: Option[DataRef] = None,
    refValue: Option[Option[Long]] = None,
    override val nameOverride: Option[String] = None)
    extends AggregateConstraint[Option[Long]] {
  override protected def aggregate(r: DataRef): Ops.Aggregate[Option[Long]] =
    Ops.scalarOf(r, c => min(length(c))).map(v => Option(v).map(_.asInstanceOf[Number].longValue()))
  override protected def compare(
      factual: Option[Long],
      target: Option[Long]): (Boolean, Option[String]) = (factual, target) match {
    case (_, None)       => (true, None)
    case (None, Some(t)) => (t == 0L, Some("Empty set."))
    case (Some(f), Some(t)) =>
      (f >= t,
        Some(s"${ref.describe} has min length $f instead of $targetPrefix$t. " +
          conditionString))
  }
}

/** max(length(col)) <= target (reference `varchar.py:221-236`). */
final case class VarCharMaxLength(
    ref: DataRef,
    ref2: Option[DataRef] = None,
    refValue: Option[Option[Long]] = None,
    override val nameOverride: Option[String] = None)
    extends AggregateConstraint[Option[Long]] {
  override protected def aggregate(r: DataRef): Ops.Aggregate[Option[Long]] =
    Ops.scalarOf(r, c => max(length(c))).map(v => Option(v).map(_.asInstanceOf[Number].longValue()))
  override protected def compare(
      factual: Option[Long],
      target: Option[Long]): (Boolean, Option[String]) = (factual, target) match {
    case (None, _)       => (true, None)
    case (Some(f), None) => (f == 0L, Some("Reference value is None."))
    case (Some(f), Some(t)) =>
      (f <= t,
        Some(s"${ref.describe} has max length $f instead of $targetPrefix$t. " +
          conditionString))
  }
}
