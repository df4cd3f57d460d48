package graft.constraints

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.core.{Condition, DataRef, DataSource, PlanCapture, TestResult}
import graft.ops.Ops
import graft.ops.Ops.Aggregate

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
  * retrieval run on `ref2` ("between" constraints).
  *
  * Retrievals go through a [[RetrievalScope]]: the scope of the requirement
  * being evaluated (`Requirement.test`, `Runner.collectDataTests`), or else
  * a scope of one that the constraint keeps across calls (the reference's
  * per-instance `lru_cache`, `base.py:160-171`). Either way a repeated
  * `test` re-triggers no Spark job, and within a requirement each distinct
  * retrieval runs once: the scalar aggregates over one (source, condition)
  * as one aggregation, and identical grouped or set retrievals once.
  */
abstract class Constraint {
  def ref: DataRef
  def nameOverride: Option[String] = None

  /** Retrieval-cache control (reference `base.py`'s `cache_size`,
    * `lru_cache(self._cache_size)`): `None` caches indefinitely; `Some(0)`
    * disables caching so every `test` re-retrieves — the memory valve for
    * many memory-intensive constraints tested in sequence
    * (`test_integration.py:1082-1168`). Such a constraint bypasses the
    * scope: it neither reads nor joins a shared retrieval.
    */
  def cacheSize: Option[Int] = None

  protected[constraints] final def cachingDisabled: Boolean = cacheSize.contains(0)

  @transient private lazy val ownScope = new RetrievalScope(() => Seq(this))

  private def scope: RetrievalScope = RetrievalScope.active.getOrElse(ownScope)

  /** The scalar aggregates this constraint reads, each under a slot; the
    * scope batches them with every other member's over the same
    * (source, condition). */
  private[constraints] def aggregates: Seq[(Any, Aggregate[_])] = Nil

  /** The value of one of this constraint's `aggregates`. */
  protected final def aggregated[T](spark: SparkSession, slot: Any, agg: Aggregate[T]): T =
    replayed(aggregatedWithPlans(spark, slot, agg))

  private[constraints] final def aggregatedWithPlans[T](
      spark: SparkSession,
      slot: Any,
      agg: Aggregate[T]): (T, RetrievalScope.Captured) =
    if (cachingDisabled) PlanCapture.capturing(agg.run(spark))
    else scope.aggregate(spark, this, slot, agg).asInstanceOf[(T, RetrievalScope.Captured)]

  /** A retrieval shared by every constraint of the scope that makes the same
    * call: `key` names the operator and every argument that changes its
    * result (never a tolerance or a name). */
  protected final def shared[T](spark: SparkSession, key: Any)(run: => T): T =
    replayed(sharedWithPlans(spark, key)(run))

  private[constraints] final def sharedWithPlans[T](spark: SparkSession, key: Any)(
      run: => T): (T, RetrievalScope.Captured) =
    if (cachingDisabled) PlanCapture.capturing(run)
    else scope.cell(spark, key)(run).asInstanceOf[(T, RetrievalScope.Captured)]

  /** A retrieval of this constraint alone (a multi-retrieval constraint like
    * Uniqueness names each one). */
  protected final def memoized[T](spark: SparkSession, key: String)(run: => T): T =
    shared(spark, (this, key))(run)

  /** `Ops.getUniques` under the driver-memory cap `Uniques.collectCap`: the
    * retrieval of the client-side uniques family, `VarCharRegex` and
    * `CategoricalBound`, shared by all of them over one reference. A result
    * of more than `cap` groups means overflow. */
  protected final def cappedUniques(spark: SparkSession, r: DataRef): Map[Seq[Any], Long] = {
    val limit = Uniques.collectCap(spark) + 1
    shared(spark, ("uniques", r, limit))(Ops.getUniques(spark, r, Some(limit)))
  }

  private def replayed[T](res: (T, RetrievalScope.Captured)): T = {
    PlanCapture.replay(res._2)
    res._1
  }

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

/** The retrieval memo of one requirement, or of one constraint tested on its
  * own. Per session, it holds driver-side values only (never a DataFrame,
  * so `Blocks.scoped` release is unaffected), each with the plans of the
  * retrieval that produced it, and every read hands those plans to the
  * reader's capture: a failing result carries the plans of the retrieval it
  * read, memoized or not. Two rules make each distinct retrieval run once:
  *
  *  - the scalar aggregates of the members over one (source, condition) run
  *    as one `Ops.Aggregate.run`, which the first read of any of them
  *    triggers and which fills every member's value; a member whose
  *    aggregate cannot be built is left out, and when the batch fails (a
  *    missing column, an overflow) every member runs alone, so an error
  *    fails only the constraint that has it;
  *  - a keyed retrieval (`Constraint.shared`) runs once per key.
  *
  * Each cell is computed at most once, even when two thunks race for it; a
  * retrieval that throws leaves its cell empty. Nothing outlives the scope:
  * a freshly declared requirement re-retrieves.
  */
final class RetrievalScope private[graft] (members: () => Seq[Constraint]) {
  import RetrievalScope._

  private val sessions = new ConcurrentHashMap[SparkSession, ConcurrentHashMap[Any, Cell]]

  /** Test `c` with its retrievals going through this scope. */
  private[graft] def evaluate(c: Constraint, spark: SparkSession): TestResult = {
    val outer = current.get
    current.set(Some(this))
    try c.test(spark)
    finally current.set(outer)
  }

  private[constraints] def cell(spark: SparkSession, key: Any)(run: => Any): (Any, Captured) =
    sessions
      .computeIfAbsent(spark, _ => new ConcurrentHashMap[Any, Cell])
      .computeIfAbsent(key, _ => new Cell(() => run))
      .get

  /** The value of `owner`'s aggregate in `slot`, from its group's one
    * aggregation. An aggregate the group lacks (its owner joined the
    * requirement after the group ran, or the group's aggregation failed)
    * runs alone. */
  private[constraints] def aggregate(
      spark: SparkSession,
      owner: Constraint,
      slot: Any,
      agg: Aggregate[_]): (Any, Captured) = {
    val group = Group(agg.ref.source, agg.ref.condition)
    val (values, plans) = cell(spark, group) {
      val declared: Seq[((Constraint, Any), Aggregate[_])] =
        members().filterNot(_.cachingDisabled).flatMap(c =>
          Try(c.aggregates).getOrElse(Nil).map { case (s, a) => ((c, s), a) })
      val batch = (declared :+ (((owner, slot), agg)))
        .filter { case (_, a) => Group(a.ref.source, a.ref.condition) == group }
        .distinctBy(_._1)
      try batch.map(_._1).zip(Aggregate.run(spark, batch.map(_._2))).toMap
      catch { case NonFatal(_) if batch.sizeIs > 1 => Map.empty[Any, Any] }
    }
    values.asInstanceOf[Map[Any, Any]].get((owner, slot)) match {
      case Some(v) => (v, plans)
      case None    => cell(spark, (owner, slot))(agg.run(spark))
    }
  }
}

object RetrievalScope {
  private[constraints] type Captured = Seq[org.apache.spark.sql.execution.QueryExecution]

  private val current = new ThreadLocal[Option[RetrievalScope]] {
    override def initialValue(): Option[RetrievalScope] = None
  }

  private[constraints] def active: Option[RetrievalScope] = current.get

  private final case class Group(source: DataSource, condition: Option[Condition])

  /** One memoized retrieval: computed by its first reader, under a capture
    * of its own, then read by everyone. */
  private final class Cell(private var run: () => Any) {
    private var value: (Any, Captured) = _
    def get: (Any, Captured) = synchronized {
      if (value == null) {
        value = PlanCapture.capturing(run())
        run = null
      }
      value
    }
  }
}

/** Common case: factual and target share a type; target is a literal or the
  * same retrieval against `ref2`. Exactly one of `ref2` / `refValue` must be
  * given (reference `base.py:174-190`). The retrievals go through the scope:
  * an `AggregateConstraint`'s batched with the requirement's other scalar
  * aggregates, any other one memoized per constraint and side.
  */
abstract class ValueConstraint[A] extends Constraint {
  def ref2: Option[DataRef]
  def refValue: Option[A]

  override protected def ref2Option: Option[DataRef] = ref2

  require(
    ref2.isDefined != refValue.isDefined,
    s"Exactly one of ref2 and refValue must be given for $name (ref2=$ref2, refValue=$refValue)")

  protected def retrieve(spark: SparkSession, r: DataRef): A

  /** The retrieval over `r` as one scalar aggregate, when it is one. */
  private[constraints] def aggregateOf(r: DataRef): Option[Aggregate[A]] = None

  override private[constraints] def aggregates: Seq[(Any, Aggregate[_])] =
    (Seq(true -> ref) ++ ref2.map(false -> _)).flatMap { case (side, r) =>
      aggregateOf(r).map(side -> _)
    }

  private def retrieval(spark: SparkSession, isFactual: Boolean): (A, RetrievalScope.Captured) = {
    val r = if (isFactual) ref else ref2.get
    aggregateOf(r) match {
      case Some(agg) => aggregatedWithPlans(spark, isFactual, agg)
      case None      => sharedWithPlans(spark, (this, isFactual))(retrieve(spark, r))
    }
  }

  private def retrieved(spark: SparkSession, isFactual: Boolean): A = {
    val (v, plans) = retrieval(spark, isFactual)
    PlanCapture.replay(plans)
    v
  }

  protected final def factual(spark: SparkSession): A = retrieved(spark, isFactual = true)

  protected final def target(spark: SparkSession): A =
    refValue.getOrElse(retrieved(spark, isFactual = false))

  protected final def targetPrefix: String =
    ref2.map(r => s"${r.describe}'s ").getOrElse("")

  /** (holds, assertionText) — the text is used only on failure. */
  protected def compare(factual: A, target: A): (Boolean, Option[String])

  override def test(spark: SparkSession): TestResult = {
    val (f, fPlans) = retrieval(spark, isFactual = true)
    val (t, tPlans) = refValue
      .map(v => (v, Seq.empty: RetrievalScope.Captured))
      .getOrElse(retrieval(spark, isFactual = false))
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

/** A value constraint whose retrieval is one scalar aggregate: on its own it
  * runs as its own aggregation (the batch of one), in a requirement as part
  * of the one aggregation over its (source, condition).
  */
abstract class AggregateConstraint[A] extends ValueConstraint[A] {
  protected def aggregate(r: DataRef): Aggregate[A]

  final override private[constraints] def aggregateOf(r: DataRef): Option[Aggregate[A]] =
    Some(aggregate(r))

  final override protected def retrieve(spark: SparkSession, r: DataRef): A =
    aggregate(r).run(spark)
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
