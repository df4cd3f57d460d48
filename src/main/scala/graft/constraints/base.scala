package graft.constraints

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

import graft.core.{DataRef, PlanCapture, TestResult}

/** A tolerance that may be derived at test time (e.g. from date-range growth
  * between two sources) — reference `_ToleranceGetter`
  * (`constraints/base.py`, used by `requirements.py:1368-1394`).
  */
object types {
  type ToleranceGetter = SparkSession => Double
}

/** Base for all constraints (reference `constraints/base.py:104-299`).
  *
  * A constraint compares a *factual* value retrieved from `ref` against a
  * *target*: either a literal (`refValue`, "within" constraints) or the same
  * retrieval run on `ref2` ("between" constraints). Retrieval results are
  * memoized per SparkSession (the reference's per-instance `lru_cache`,
  * `base.py:160-171`) so repeated `test` calls don't re-trigger Spark jobs.
  */
abstract class Constraint {
  def ref: DataRef
  def nameOverride: Option[String] = None

  /** Retrieval-cache control (reference `base.py`'s `cache_size`,
    * `lru_cache(self._cache_size)`): `None` caches indefinitely; `Some(0)`
    * disables caching so every `test` re-retrieves — the memory valve for
    * many memory-intensive constraints tested in sequence
    * (`test_integration.py:1082-1168`).
    */
  def cacheSize: Option[Int] = None

  protected final def cachingDisabled: Boolean = cacheSize.contains(0)

  // retrieval memo for constraints that override `test` directly (the
  // ValueConstraint memo below covers the factual/target shape; a
  // multi-retrieval constraint like Uniqueness keys each retrieval by
  // name) — same semantics as the reference's per-instance lru_cache:
  // keyed per SparkSession, bypassed entirely at cacheSize = 0
  private val customMemo = TrieMap.empty[(Int, String), Any]

  protected final def memoized[T](spark: SparkSession, key: String)(run: => T): T =
    if (cachingDisabled) run
    else customMemo
      .getOrElseUpdate((System.identityHashCode(spark), key), run)
      .asInstanceOf[T]

  def name: String = nameOverride.getOrElse(getClass.getSimpleName.stripSuffix("$"))

  /** Run a custom `test` body under plan capture and attach the retrieval
    * plans to a failing result (reference `base.py:256-293` attaches the
    * compiled selections). Constraints overriding `test` wrap their body.
    * Plans are rendered only on failure — passing tests never optimize or
    * stringify anything extra.
    */
  protected final def withPlans(body: => TestResult): TestResult = {
    // Blocks.scoped: a constraint evaluation reduces to a TestResult (plans
    // render to strings without re-execution), so every checkpoint its
    // retrievals materialized is dead on return — release with the scope
    // instead of waiting on driver GC (a long production suite would
    // otherwise accumulate one evaluation's blocks per constraint)
    val (res, plans) = PlanCapture.capturing(graft.core.Blocks.scoped(body))
    if (res.outcome || plans.isEmpty || res.factualQueries.nonEmpty) res
    else res.copy(factualQueries = PlanCapture.render(plans))
  }

  /** Test id, mirroring the reference's `ClassName::datasource` convention
    * (`base.py:204-217`).
    */
  def description: String = s"$name::${ref.name}"

  /** The second reference, when this is a between constraint — drives the
    * condition rendering below. */
  protected def ref2Option: Option[DataRef] = None

  /** Condition clause(s) for failure messages, with the reference's
    * branch structure (`base.py:225-246`): within constraints name one
    * condition; between constraints distinguish both/first/second-table
    * conditions.
    */
  protected def conditionString: String = {
    val c1 = ref.condition
    val c2 = ref2Option.flatMap(_.condition)
    if (c1.isEmpty && c2.isEmpty) ""
    else if (ref2Option.isEmpty)
      c1.map(c => s"Condition: ${c.render}. ").getOrElse("")
    else (c1, c2) match {
      case (Some(a), Some(b)) if a == b => s"Condition on both tables: ${a.render}; "
      case (None, Some(b))              => s"Condition on second table: ${b.render}; "
      case (Some(a), None)              => s"Condition on first table: ${a.render}; "
      case (Some(a), Some(b)) =>
        s"Condition on first table: ${a.render}. Condition on second table: ${b.render}. "
      case _ => ""
    }
  }

  def test(spark: SparkSession): TestResult
}

/** Common case: factual and target share a type; target is a literal or the
  * same retrieval against `ref2`. Exactly one of `ref2` / `refValue` must be
  * given (reference `base.py:174-190`).
  */
abstract class ValueConstraint[A] extends Constraint {
  def ref2: Option[DataRef]
  def refValue: Option[A]

  override protected def ref2Option: Option[DataRef] = ref2

  require(
    ref2.isDefined != refValue.isDefined,
    s"Exactly one of ref2 and refValue must be given for $name (ref2=$ref2, refValue=$refValue)")

  private type Captured = Seq[org.apache.spark.sql.execution.QueryExecution]

  // memoizes the retrieved value together with the (lazy) query executions
  // of the selections the retrieval touched, so a later failing test() can
  // still render the plans; rendering happens only on failure
  private val memo = TrieMap.empty[(Int, Boolean), (A, Captured)]

  protected def retrieve(spark: SparkSession, r: DataRef): A

  private def retrieveMemo(spark: SparkSession, isFactual: Boolean): (A, Captured) = {
    val r = if (isFactual) ref else ref2.get
    def run = PlanCapture.capturing(retrieve(spark, r))
    if (cachingDisabled) run
    else memo.getOrElseUpdate((System.identityHashCode(spark), isFactual), run)
  }

  protected final def factual(spark: SparkSession): A =
    retrieveMemo(spark, isFactual = true)._1

  protected final def target(spark: SparkSession): A =
    refValue.getOrElse(retrieveMemo(spark, isFactual = false)._1)

  protected final def targetPrefix: String =
    ref2.map(r => s"${r.describe}'s ").getOrElse("")

  /** (holds, assertionText) — the text is used only on failure. */
  protected def compare(factual: A, target: A): (Boolean, Option[String])

  override def test(spark: SparkSession): TestResult = {
    val (f, fPlans) = retrieveMemo(spark, isFactual = true)
    val (t, tPlans) = refValue
      .map(v => (v, Seq.empty: Captured))
      .getOrElse(retrieveMemo(spark, isFactual = false))
    val (ok, msg) = compare(f, t)
    if (ok) TestResult.success(description)
    else
      TestResult.failure(
        description,
        msg.getOrElse("(no details)"),
        PlanCapture.render(fPlans),
        PlanCapture.render(tPlans))
  }
}

object formatting {

  /** User-pluggable post-processing of a displayed collection (+ optional
    * counts) before it is rendered into a failure message — the reference's
    * `OutputProcessor` protocol (`utils.py:54-122`; accepted by constraint
    * constructors via `output_processors`, `base.py:121-158`). Processors
    * chain left to right; display elements become strings at this point so a
    * truncation sentinel can ride along as the last element.
    */
  type OutputProcessor = (Seq[Any], Option[Seq[Any]]) => (Seq[Any], Option[Seq[Any]])

  /** Reference `output_processor_limit` (`utils.py:98-122`): keep the first
    * `limit` elements and append a sentinel describing the truncation (to
    * both the values and the counts).
    */
  def processorLimit(limit: Int = 100): OutputProcessor = (values, counts) => {
    if (values.sizeIs <= limit) (values, counts)
    else {
      val sentinel =
        (what: String) =>
          s"<SHORTENED OUTPUT, displaying the first $limit / ${values.size} $what above>"
      (values.take(limit) :+ sentinel("elements"),
        counts.map(_.take(limit) :+ sentinel("counts")))
    }
  }

  /** Reference `output_processor_sort` (`utils.py:63-95`): descending count,
    * ties by ascending value string; without counts, plain ascending sort.
    */
  val processorSort: OutputProcessor = (values, counts) => {
    def num(n: Any): Double = n match {
      case x: Number => x.doubleValue()
      case other =>
        try String.valueOf(other).toDouble
        catch { case _: NumberFormatException => Double.NegativeInfinity }
    }
    counts match {
      case Some(c) =>
        val sorted = values.zip(c).sortBy { case (v, n) => (-num(n), String.valueOf(v)) }
        (sorted.map(_._1), Some(sorted.map(_._2)))
      case None => (values.sortBy(String.valueOf(_)), None)
    }
  }

  val defaultProcessors: Seq[OutputProcessor] = Seq(processorLimit())

  /** Chain processors over (values, counts) and render the values
    * (reference `_apply_output_formatting`, `base.py:295-299`).
    */
  def applyProcessors(
      processors: Seq[OutputProcessor],
      values: Seq[Any],
      counts: Option[Seq[Any]] = None): (Seq[Any], Option[Seq[Any]]) =
    processors.foldLeft((values, counts)) { case ((v, c), p) => p(v, c) }

  /** Bound a displayed collection (reference `output_processor_limit`,
    * `utils.py:98-122`, default 100).
    */
  def limited[A](values: Iterable[A], limit: Int = 100): String = {
    val list = values.toList
    val head = list.take(limit).mkString(", ")
    if (list.sizeIs > limit)
      s"$head, <SHORTENED OUTPUT, displaying the first $limit / ${list.size} elements above>"
    else head
  }

  /** Sort values by descending count, ties by value string — the reference's
    * `output_processor_sort` (`utils.py:output_processor_sort`).
    */
  def sortedByCount[A](values: Seq[A], counts: Seq[Long]): (Seq[A], Seq[Long]) = {
    val sorted = values.zip(counts).sortBy { case (v, c) => (-c, String.valueOf(v)) }
    (sorted.map(_._1), sorted.map(_._2))
  }

  /** Render a sample row (reference `_format_sample`, `base.py`). */
  def formatSample(sample: Option[org.apache.spark.sql.Row]): String =
    sample.map(_.toString).getOrElse("<no sample>")
}
