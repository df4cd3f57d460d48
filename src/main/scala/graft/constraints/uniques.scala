package graft.constraints

import org.apache.spark.sql.SparkSession

import graft.core.{DataRef, TestResult}
import graft.ops.Ops
import types.ToleranceGetter

/** Null-filtering policies over retrieved unique values
  * (reference `utils.py:125-148`). A value is the bare column value for
  * single-column refs and a `Seq[Any]` tuple for multi-column refs.
  */
object filters {
  type FilterFunc = Seq[Any] => Seq[Any]

  val filternullElement: FilterFunc = _.filter(_ != null)
  val filternullNever: FilterFunc = identity
  val filternullElementOrTupleAll: FilterFunc = _.filter {
    case null        => false
    case t: Seq[_]   => !t.forall(_ == null)
    case _           => true
  }
  val filternullElementOrTupleAny: FilterFunc = _.filter {
    case null        => false
    case t: Seq[_]   => !t.exists(_ == null)
    case _           => true
  }

  /** Engine translation of the four standard null policies (matched by
    * function identity): the same WHERE clause the client-side policy would
    * apply to collected values. User-supplied lambdas return None — opaque
    * Scala can't run in-engine, so those constraints keep the client path.
    */
  def toEngineFilter(
      f: FilterFunc,
      cols: Seq[String]): Option[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions.col
    if (cols.isEmpty) return None
    val single = cols.length == 1
    if (f eq filternullNever) Some(identity)
    else if (f eq filternullElement)
      // bare values drop nulls; multi-column tuples are never null client-side
      Some(df => if (single) df.where(col(cols.head).isNotNull) else df)
    else if (f eq filternullElementOrTupleAll)
      Some(df => df.where(cols.map(c => col(c).isNotNull).reduce(_ || _)))
    else if (f eq filternullElementOrTupleAny)
      Some(df => df.where(cols.map(c => col(c).isNotNull).reduce(_ && _)))
    else None
  }
}

/** Unique-value constraints (reference `constraints/uniques.py:46-165`).
  *
  * Retrieval = `GROUP BY columns + count(*)` pulled client-side; values then
  * flow through `filterFunc` (null policy) → `mapFunc` (per-value) →
  * `reduceFunc` (global) exactly as the reference's post-processing hooks.
  * Single-column refs yield bare values; multi-column refs yield `Seq[Any]`
  * tuples.
  */
sealed abstract class Uniques extends Constraint {
  def ref2: Option[DataRef]
  def uniquesLiteral: Option[Seq[Any]]

  override protected def ref2Option: Option[DataRef] = ref2
  def filterFunc: filters.FilterFunc
  def mapFunc: Option[Any => Any]
  def reduceFunc: Option[Seq[Any] => Seq[Any]]
  def maxRelativeViolations: Double
  def outputLimit: Int

  /** Pluggable display post-processing (reference `output_processors`,
    * `base.py:121-158`); defaults to the reference's limit processor bound
    * at `outputLimit`.
    */
  def outputProcessors: Option[Seq[formatting.OutputProcessor]] = None

  private def effectiveProcessors: Seq[formatting.OutputProcessor] =
    outputProcessors.getOrElse(Seq(formatting.processorLimit(outputLimit)))

  require(
    ref2.isDefined != uniquesLiteral.isDefined,
    s"Exactly one of ref2 and uniques must be given for $name")

  protected def retrieveUniques(spark: SparkSession, r: DataRef): (Seq[Any], Seq[Long]) = {
    val cap = Uniques.collectCap(spark)
    val raw = cappedUniques(spark, r)
    if (raw.size > cap) throw new Uniques.CollectOverflow(r.describe, cap)
    val asValues: Seq[(Any, Long)] = raw.toSeq.map {
      case (Seq(single), c) => (single, c)
      case (tuple, c)       => (tuple, c)
    }
    var values = filterFunc(asValues.map(_._1))
    val countsByValue = asValues.toMap
    val counts = values.map(v => countsByValue.getOrElse(v, 0L))
    mapFunc.foreach(f => values = values.map(f))
    reduceFunc.foreach(f => values = f(values))
    (values, counts)
  }

  // the engine path computes a whole TestResult; memoize it per constraint
  // so repeated test() calls don't re-run the anti-join jobs (unless the
  // user disabled the cache: cacheSize=0 — reference lru_cache(0)
  // semantics, pinned by test_integration.py:1082)
  protected final def memoizedEngineTest(
      spark: SparkSession)(body: => TestResult): TestResult =
    memoized(spark, "engineTest")(withPlans(body))

  protected final def factualUniques(spark: SparkSession): (Seq[Any], Seq[Long]) =
    retrieveUniques(spark, ref)

  protected final def targetUniques(spark: SparkSession): (Seq[Any], Seq[Long]) =
    uniquesLiteral.map(u => (u, Seq.empty[Long])).getOrElse(retrieveUniques(spark, ref2.get))

  protected final def fmt(values: Iterable[Any]): String =
    formatting
      .applyProcessors(effectiveProcessors, values.toSeq)._1
      .mkString(", ")

  /** Joint display of values and their counts through the processor chain
    * (sort/limit act on both in lockstep, reference `utils.py:63-122`).
    */
  protected final def fmtWithCounts(
      values: Seq[Any],
      counts: Seq[Any]): (String, String) = {
    val (v, c) =
      formatting.applyProcessors(effectiveProcessors, values, Some(counts))
    (v.mkString(", "), c.getOrElse(Seq.empty).mkString(", "))
  }

  /** Constraints with translatable hooks run the whole set comparison
    * in-engine (anti-joins over DISTINCT selections): only counts and bounded
    * display samples reach the driver. Literal target lists become a tiny
    * in-memory frame (`literalFrame`); user map/reduce/filter lambdas —
    * client-side semantic hooks — keep the reference's client path, which is
    * in turn capped at `Uniques.collectCap` distinct values and aborts loudly
    * rather than OOM the driver. 100 TB posture: this path never collects
    * more than `outputLimit` rows.
    */
  protected final def engineEligible(spark: SparkSession): Boolean =
    mapFunc.isEmpty && reduceFunc.isEmpty &&
      outputProcessors.isEmpty &&
      filters.toEngineFilter(filterFunc, ref.columnsOrEmpty).isDefined &&
      ref2.forall(r2 => filters.toEngineFilter(filterFunc, r2.columnsOrEmpty).isDefined) &&
      uniquesLiteral.forall(lits =>
        try {
          val fields = literalSchema(spark).fields
          literalTuples(lits).forall(t =>
            t.zip(fields).forall { case (v, f) => coerceExact(v, f.dataType).isDefined })
        } catch { case _: IllegalArgumentException => false })

  protected final def filteredSelection(
      spark: SparkSession,
      r: DataRef): org.apache.spark.sql.DataFrame =
    filters.toEngineFilter(filterFunc, r.columnsOrEmpty).get(r.selection(spark))

  /** The target side as a DataFrame: `ref2`'s filtered selection, or the
    * literal list lifted to a (tiny, broadcastable) in-memory frame whose
    * columns align positionally with `ref`'s. The null policy applies ONLY
    * to the retrieved side — the reference filters retrieved values, never
    * the user-provided uniques list (`uniques.py` filters `get_uniques`
    * results; literal targets pass through untouched), and the anti-joins
    * compare null-safely, so literal NULLs behave exactly as on the client
    * path.
    */
  protected final def targetFrame(spark: SparkSession): org.apache.spark.sql.DataFrame =
    uniquesLiteral match {
      case Some(lits) => literalFrame(spark, lits)
      case None       => filteredSelection(spark, ref2.get)
    }

  /** Column names of the target side (the literal frame mirrors `ref`'s). */
  protected final def targetCols: Seq[String] =
    ref2.map(_.columnsOrEmpty).getOrElse(ref.columnsOrEmpty)

  // literal columns are always nullable: the user list may carry NULLs even
  // when the factual source column is non-nullable
  private def literalSchema(spark: SparkSession): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      ref.columnsOrEmpty.map(c =>
        ref.selection(spark).schema(c).copy(name = c, nullable = true)))

  private def literalTuples(lits: Seq[Any]): Seq[Seq[Any]] = {
    val arity = ref.columnsOrEmpty.length
    lits.map { v =>
      val tuple: Seq[Any] = v match {
        case t: Seq[_] if arity > 1 => t
        case single                 => Seq(single)
      }
      require(
        tuple.length == arity,
        s"Literal uniques tuple arity ${tuple.length} != $arity column(s)")
      tuple
    }
  }

  /** Lossless coercion of a literal onto the factual column's external type;
    * None = not exactly representable (fractional value on an integral
    * column, out-of-range narrowing, non-float-exact double, type mismatch)
    * → the whole constraint keeps the strict client path, where such
    * literals compare unequal to everything, matching the reference's
    * Python-side comparison.
    */
  private def coerceExact(
      v: Any,
      dt: org.apache.spark.sql.types.DataType): Option[Any] = {
    import org.apache.spark.sql.types._
    (v, dt) match {
      case (null, _) => Some(null)
      case (n: java.lang.Number, LongType) =>
        val d = n.doubleValue()
        if (d == math.floor(d) && !d.isInfinite &&
          BigDecimal(n.toString).isValidLong)
          Some(java.lang.Long.valueOf(n.longValue()))
        else None
      case (n: java.lang.Number, IntegerType) =>
        val l = n.longValue()
        val d = n.doubleValue()
        if (d == l.toDouble && l.isValidInt) Some(java.lang.Integer.valueOf(l.toInt))
        else None
      case (n: java.lang.Number, ShortType) =>
        val l = n.longValue()
        if (n.doubleValue() == l.toDouble && l.isValidShort)
          Some(java.lang.Short.valueOf(l.toShort))
        else None
      case (n: java.lang.Number, DoubleType) =>
        val d = n.doubleValue()
        // exact-decimal comparison: a plain d.toLong round-trip admits lossy
        // coercions at |v| >= 2^53 (toLong saturates back), while longValue()
        // on a fractional BigDecimal would truncate BEFORE the compare
        val exact = n match {
          case _: java.lang.Double | _: java.lang.Float => true
          case bd: java.math.BigDecimal =>
            !d.isInfinite && scala.math.BigDecimal(d) == scala.math.BigDecimal(bd)
          case bd: scala.math.BigDecimal =>
            !d.isInfinite && scala.math.BigDecimal(d) == bd
          case _ =>
            !d.isInfinite && scala.math.BigDecimal(d) == scala.math.BigDecimal(n.longValue())
        }
        if (exact) Some(java.lang.Double.valueOf(d)) else None
      case (n: java.lang.Number, FloatType) =>
        val f = n.floatValue()
        val exact = n match {
          case _: java.lang.Float | _: java.lang.Double =>
            f.toDouble == n.doubleValue()
          case bd: java.math.BigDecimal =>
            !f.isInfinite && scala.math.BigDecimal(f.toDouble) == scala.math.BigDecimal(bd)
          case bd: scala.math.BigDecimal =>
            !f.isInfinite && scala.math.BigDecimal(f.toDouble) == bd
          case _ => // integral: double comparison already rounds at 2^53
            !f.isInfinite &&
              scala.math.BigDecimal(f.toDouble) == scala.math.BigDecimal(n.longValue())
        }
        if (exact) Some(java.lang.Float.valueOf(f)) else None
      case (s: String, StringType)                     => Some(s)
      case (b: java.lang.Boolean, BooleanType)         => Some(b)
      case (d: java.sql.Date, DateType)                => Some(d)
      case (d: java.time.LocalDate, DateType)          => Some(d)
      case (t: java.sql.Timestamp, TimestampType)      => Some(t)
      case (t: java.time.Instant, TimestampType)       => Some(t)
      case (t: java.time.LocalDateTime, TimestampNTZType) => Some(t)
      case (b: Array[Byte], BinaryType)                => Some(b)
      // a decimal literal is only engine-representable when it fits the
      // column's precision/scale losslessly — DecimalConverter would
      // otherwise silently round (HALF_UP) or overflow at runtime
      case (bd: scala.math.BigDecimal, t: DecimalType)
          if bd.scale <= t.scale && bd.precision - bd.scale <= t.precision - t.scale =>
        Some(bd)
      case (bd: java.math.BigDecimal, t: DecimalType)
          if bd.scale <= t.scale && bd.precision - bd.scale <= t.precision - t.scale =>
        Some(bd)
      case _                                           => None
    }
  }

  private def literalFrame(
      spark: SparkSession,
      lits: Seq[Any]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    val schema = literalSchema(spark)
    val rows: java.util.List[Row] = new java.util.ArrayList[Row]()
    literalTuples(lits).foreach { tuple =>
      rows.add(Row(tuple.zip(schema.fields).map {
        case (x, f) => coerceExact(x, f.dataType).get
      }: _*))
    }
    spark.createDataFrame(rows, schema)
  }

  /** Bounded, deterministic display sample: the first `outputLimit` tuples
    * in value order plus the reference's truncation sentinel. Single-column
    * rows render as bare values, multi-column rows as tuples — matching the
    * client path's collected shapes.
    */
  protected final def renderSample(
      df: org.apache.spark.sql.DataFrame,
      total: Long): String = {
    import org.apache.spark.sql.functions.col
    val rows = df
      .orderBy(df.columns.map(col).toSeq: _*)
      .limit(outputLimit)
      .collect()
    val values: Seq[Any] =
      rows.toSeq.map(r => if (r.length == 1) r.get(0) else r.toSeq)
    val shown = values.mkString(", ")
    if (total > outputLimit)
      shown +
        s", <SHORTENED OUTPUT, displaying the first $outputLimit / $total elements above>"
    else shown
  }

  /** Client-path guard: a collect that would exceed `Uniques.collectCap`
    * aborts into a loud failure (with the truncation sentinel) instead of
    * OOMing the driver — a 10M-distinct column against a literal list is a
    * mistake the engine must survive.
    */
  protected final def clientGuarded(body: => TestResult): TestResult =
    try body
    catch {
      case e: Uniques.CollectOverflow =>
        TestResult.failure(
          description,
          s"${e.what} has more than ${e.cap} distinct values; the client-side uniques " +
            s"retrieval was aborted to bound driver memory. " +
            s"<SHORTENED OUTPUT, displaying the first 0 / >${e.cap} elements above> " +
            s"Raise spark.conf '${Uniques.CollectCapKey}' or drop client-side " +
            s"map/reduce/filter hooks so the comparison runs in-engine.$conditionString")
    }
}

object Uniques {

  /** Spark-conf key bounding how many distinct groups the client-side uniques
    * path may collect to the driver. */
  val CollectCapKey = "graft.uniques.maxCollectedUniques"

  private[constraints] def collectCap(spark: SparkSession): Int =
    spark.conf.getOption(CollectCapKey).map(_.toInt).getOrElse(1000000)

  private[constraints] final class CollectOverflow(val what: String, val cap: Int)
      extends RuntimeException(
        s"$what exceeds $cap distinct values in a client-side uniques retrieval")
}

/** Set equality with excess/lacking reporting (reference `uniques.py:168-211`). */
final case class UniquesEquality(
    ref: DataRef,
    ref2: Option[DataRef] = None,
    uniquesLiteral: Option[Seq[Any]] = None,
    filterFunc: filters.FilterFunc = filters.filternullElement,
    mapFunc: Option[Any => Any] = None,
    reduceFunc: Option[Seq[Any] => Seq[Any]] = None,
    outputLimit: Int = 100,
    override val outputProcessors: Option[Seq[formatting.OutputProcessor]] = None,
    override val cacheSize: Option[Int] = None,
    override val nameOverride: Option[String] = None)
    extends Uniques {
  override def maxRelativeViolations: Double = 0.0
  override def test(spark: SparkSession): TestResult =
    if (engineEligible(spark)) memoizedEngineTest(spark)(testInEngine(spark))
    else withPlans(clientGuarded(testClientSide(spark)))

  /** Engine path: two anti-joins; the driver sees two counts and (on
    * failure) two bounded samples. */
  private def testInEngine(spark: SparkSession): TestResult = {
    val d1        = filteredSelection(spark, ref)
    val d2        = targetFrame(spark)
    val excessDf  = Ops.exceptDistinct(d1, d2)
    val lackingDf = Ops.exceptDistinct(d2, d1)
    val nExcess   = excessDf.count()
    val nLacking  = lackingDf.count()
    if (nExcess == 0 && nLacking == 0) TestResult.success(description)
    else if (nExcess > 0 && nLacking > 0)
      TestResult.failure(
        description,
        s"${ref.describe} doesn't have the element(s) '${renderSample(lackingDf, nLacking)}' " +
          s"and has the excess element(s) '${renderSample(excessDf, nExcess)}' when compared " +
          s"with the reference values. $conditionString")
    else if (nExcess > 0)
      TestResult.failure(
        description,
        s"${ref.describe} has the excess element(s) '${renderSample(excessDf, nExcess)}' " +
          s"when compared with the reference values. $conditionString")
    else
      TestResult.failure(
        description,
        s"${ref.describe} doesn't have the element(s) '${renderSample(lackingDf, nLacking)}' " +
          s"when compared with the reference values. $conditionString")
  }

  private def testClientSide(spark: SparkSession): TestResult = {
    val factual = factualUniques(spark)._1.toSet
    val target  = targetUniques(spark)._1.toSet
    val excess  = factual -- target
    val lacking = target -- factual
    if (excess.isEmpty && lacking.isEmpty) TestResult.success(description)
    else if (excess.nonEmpty && lacking.nonEmpty)
      TestResult.failure(
        description,
        s"${ref.describe} doesn't have the element(s) '${fmt(lacking)}' and has the " +
          s"excess element(s) '${fmt(excess)}' when compared with the reference values. " +
          conditionString)
    else if (excess.nonEmpty)
      TestResult.failure(
        description,
        s"${ref.describe} has the excess element(s) '${fmt(excess)}' when compared " +
          s"with the reference values. $conditionString")
    else
      TestResult.failure(
        description,
        s"${ref.describe} doesn't have the element(s) '${fmt(lacking)}' when compared " +
          s"with the reference values. $conditionString")
  }
}

/** factual ⊆ target; tolerance weighted by counts (rows) or by distinct
  * values when `compareDistinct` (reference `uniques.py:214-257`).
  */
final case class UniquesSubset(
    ref: DataRef,
    ref2: Option[DataRef] = None,
    uniquesLiteral: Option[Seq[Any]] = None,
    maxRelativeViolations: Double = 0.0,
    compareDistinct: Boolean = false,
    filterFunc: filters.FilterFunc = filters.filternullElement,
    mapFunc: Option[Any => Any] = None,
    reduceFunc: Option[Seq[Any] => Seq[Any]] = None,
    outputLimit: Int = 100,
    override val outputProcessors: Option[Seq[formatting.OutputProcessor]] = None,
    override val cacheSize: Option[Int] = None,
    override val nameOverride: Option[String] = None)
    extends Uniques {
  override def test(spark: SparkSession): TestResult =
    if (engineEligible(spark)) memoizedEngineTest(spark)(testInEngine(spark))
    else withPlans(clientGuarded(testClientSide(spark)))

  /** Engine path: factual value counts anti-joined against the target's
    * distinct set; the violation fraction aggregates in-engine, the driver
    * sees two aggregate rows and (on failure) bounded samples.
    */
  private def testInEngine(spark: SparkSession): TestResult = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}
    val cols = ref.columnsOrEmpty
    val counts1 = filteredSelection(spark, ref)
      .groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("dj_cnt"))
    val d2        = targetFrame(spark).distinct()
    val remainder = Ops.antiJoinPositional(counts1, d2, cols)

    val totalRow = counts1
      .agg(coalesce(sum(col("dj_cnt")), lit(0L)).as("rows"), count(lit(1)).as("distincts"))
      .head()
    val remRow = remainder
      .agg(coalesce(sum(col("dj_cnt")), lit(0L)).as("rows"), count(lit(1)).as("distincts"))
      .head()
    val (nViolations, nRows) =
      if (compareDistinct) (remRow.getLong(1), totalRow.getLong(1))
      else (remRow.getLong(0), totalRow.getLong(0))
    if (nRows == 0) return TestResult.success(description)
    val relative = nViolations.toDouble / nRows
    if (relative <= maxRelativeViolations) TestResult.success(description)
    else {
      val nTarget = d2.count()
      val sample = remainder
        .orderBy(cols.map(col): _*)
        .limit(outputLimit)
        .collect()
      val values: Seq[Any] =
        sample.toSeq.map(r => if (cols.length == 1) r.get(0) else r.toSeq.dropRight(1))
      val sampleCounts = sample.toSeq.map(_.getAs[Long]("dj_cnt"))
      def sentinel(what: String) =
        s", <SHORTENED OUTPUT, displaying the first $outputLimit / ${remRow.getLong(1)} $what above>"
      val more      = remRow.getLong(1) > outputLimit
      val excessStr = values.mkString(", ") + (if (more) sentinel("elements") else "")
      val countsStr = sampleCounts.mkString(", ") + (if (more) sentinel("counts") else "")
      TestResult.failure(
        description,
        s"${ref.describe} has a fraction of $relative > $maxRelativeViolations " +
          s"${if (compareDistinct) "DISTINCT " else ""}values ($nViolations / $nRows) not " +
          s"being an element of '${renderSample(d2, nTarget)}'. It has excess elements " +
          s"'$excessStr' with counts $countsStr." +
          conditionString)
    }
  }

  private def testClientSide(spark: SparkSession): TestResult = {
    val (values, counts) = factualUniques(spark)
    val target           = targetUniques(spark)._1.toSet
    val remainder: Seq[(Any, Long)] = values
      .zipAll(counts, null, -1L)
      .filterNot { case (v, _) => target.contains(v) }
    val (nViolations, nRows) =
      if (compareDistinct) (remainder.size.toLong, values.size.toLong)
      else (remainder.map(_._2).sum, counts.sum)
    if (nRows == 0) return TestResult.success(description)
    val relative = nViolations.toDouble / nRows
    if (relative <= maxRelativeViolations) TestResult.success(description)
    else
      TestResult.failure(
        description,
        {
          val (excessStr, countsStr) =
            fmtWithCounts(remainder.map(_._1), remainder.map(_._2))
          s"${ref.describe} has a fraction of $relative > $maxRelativeViolations " +
            s"${if (compareDistinct) "DISTINCT " else ""}values ($nViolations / $nRows) not " +
            s"being an element of '${fmt(target)}'. It has excess elements " +
            s"'$excessStr' with counts $countsStr." +
            conditionString
        })
  }
}

/** factual ⊇ target; violations relative to |target| (reference `uniques.py:260-291`). */
final case class UniquesSuperset(
    ref: DataRef,
    ref2: Option[DataRef] = None,
    uniquesLiteral: Option[Seq[Any]] = None,
    maxRelativeViolations: Double = 0.0,
    filterFunc: filters.FilterFunc = filters.filternullElement,
    mapFunc: Option[Any => Any] = None,
    reduceFunc: Option[Seq[Any] => Seq[Any]] = None,
    outputLimit: Int = 100,
    override val outputProcessors: Option[Seq[formatting.OutputProcessor]] = None,
    override val cacheSize: Option[Int] = None,
    override val nameOverride: Option[String] = None)
    extends Uniques {
  override def test(spark: SparkSession): TestResult =
    if (engineEligible(spark)) memoizedEngineTest(spark)(testInEngine(spark))
    else withPlans(clientGuarded(testClientSide(spark)))

  /** Engine path: target-minus-factual anti-join; counts aggregate
    * in-engine, samples are bounded. */
  private def testInEngine(spark: SparkSession): TestResult = {
    val d1       = filteredSelection(spark, ref).distinct()
    val d2       = targetFrame(spark).distinct()
    val lacking  = Ops.antiJoinPositional(d2, d1, targetCols)
    val nLacking = lacking.count()
    if (nLacking == 0) return TestResult.success(description)
    // empty-factual short-circuit (reference `len(factual_values) > 0`)
    // BEFORE the target count — that job is unused on this path
    val nFactual = d1.count()
    if (nFactual == 0) return TestResult.success(description)
    val nTarget = d2.count() // > 0: `lacking` ⊆ target is non-empty here
    val relative = nLacking.toDouble / nTarget
    if (relative <= maxRelativeViolations) TestResult.success(description)
    else
      TestResult.failure(
        description,
        s"${ref.describe} has a fraction of $relative > $maxRelativeViolations " +
          s"($nLacking / $nTarget) lacking unique values of " +
          s"'${renderSample(d2, nTarget)}'. It doesn't have the unique value(s) " +
          s"'${renderSample(lacking, nLacking)}'.$conditionString")
  }

  private def testClientSide(spark: SparkSession): TestResult = {
    val factual = factualUniques(spark)._1
    val target  = targetUniques(spark)._1
    val remainder = target.toSet -- factual.toSet
    if (factual.isEmpty || target.isEmpty || remainder.isEmpty)
      return TestResult.success(description)
    val relative = remainder.size.toDouble / target.size
    if (relative <= maxRelativeViolations) TestResult.success(description)
    else
      TestResult.failure(
        description,
        s"${ref.describe} has a fraction of $relative > $maxRelativeViolations " +
          s"(${remainder.size} / ${target.size}) lacking unique values of " +
          s"'${fmt(target.toSet)}'. It doesn't have the unique value(s) " +
          s"'${fmt(remainder)}'.$conditionString")
  }
}

/** Distinct-count constraints (reference `uniques.py:294-329`). */
sealed abstract class NUniques extends ValueConstraint[Long] {
  override protected def retrieve(spark: SparkSession, r: DataRef): Long =
    Ops.getUniqueCount(spark, r)
}

final case class NUniquesEquality(
    ref: DataRef,
    ref2: Option[DataRef] = None,
    refValue: Option[Long] = None,
    override val nameOverride: Option[String] = None)
    extends NUniques {
  override protected def compare(factual: Long, target: Long): (Boolean, Option[String]) =
    (factual == target,
      Some(s"${ref.describe} has $factual unique(s) instead of $targetPrefix$target. " +
        conditionString))
}

/** Relative distinct-count loss bound (reference `uniques.py:332-363`). */
final case class NUniquesMaxLoss(
    ref: DataRef,
    ref2Required: DataRef,
    maxRelativeLossGetter: ToleranceGetter,
    override val nameOverride: Option[String] = None)
    extends NUniques {
  override def ref2: Option[DataRef] = Some(ref2Required)
  override def refValue: Option[Long] = None
  override protected def compare(factual: Long, target: Long): (Boolean, Option[String]) =
    throw new UnsupportedOperationException
  override def test(spark: SparkSession): TestResult = withPlans {
    val maxLoss = maxRelativeLossGetter(spark)
    val f       = factual(spark)
    val t       = target(spark)
    if (t == 0L || f > t) return TestResult.success(description)
    val loss = (t - f).toDouble / t
    if (loss <= maxLoss) TestResult.success(description)
    else
      TestResult.failure(
        description,
        s"${ref.describe} has lost $loss of #uniques of ${ref2Required.describe}. " +
          s"It was only allowed to decrease $maxLoss. $conditionString")
  }
}

/** Relative distinct-count gain bound (reference `uniques.py:366-396`). */
final case class NUniquesMaxGain(
    ref: DataRef,
    ref2Required: DataRef,
    maxRelativeGainGetter: ToleranceGetter,
    override val nameOverride: Option[String] = None)
    extends NUniques {
  override def ref2: Option[DataRef] = Some(ref2Required)
  override def refValue: Option[Long] = None
  override protected def compare(factual: Long, target: Long): (Boolean, Option[String]) =
    throw new UnsupportedOperationException
  // failures are returned as VALUES, never via `return` — a non-local
  // return unwinds through withPlans and skips plan attachment
  override def test(spark: SparkSession): TestResult = withPlans {
    val maxGain = maxRelativeGainGetter(spark)
    val f       = factual(spark)
    val t       = target(spark)
    if (t == 0L) TestResult.failure(description, "Target table empty.")
    else if (f < t) TestResult.success(description)
    else {
      val gain = (f - t).toDouble / t
      if (gain <= maxGain) TestResult.success(description)
      else
        TestResult.failure(
          description,
          s"${ref.describe} has $gain of #uniques of ${ref2Required.describe}. " +
            s"It was only allowed to increase $maxGain. $conditionString")
    }
  }
}

/** Per-category share within [min,max] bounds; Counter arithmetic on
  * violations (reference `uniques.py:399-495`).
  */
final case class CategoricalBound(
    ref: DataRef,
    distribution: Map[Any, (Double, Double)],
    defaultBounds: (Double, Double) = (0.0, 0.0),
    maxRelativeViolations: Double = 0.0,
    override val nameOverride: Option[String] = None)
    extends Constraint {
  override def test(spark: SparkSession): TestResult = withPlans {
    // same driver-memory cap as the Uniques client path: a categorical
    // distribution over a high-cardinality column is a mistake to abort on,
    // not an OOM. The failure is returned as a VALUE (no non-local return):
    // a `return` would unwind through withPlans and skip plan attachment.
    val cap = Uniques.collectCap(spark)
    val raw = cappedUniques(spark, ref)
    if (raw.size > cap)
      TestResult.failure(
        description,
        s"${ref.describe} has more than $cap distinct values; the categorical-bound " +
          s"retrieval was aborted to bound driver memory. " +
          s"<SHORTENED OUTPUT, displaying the first 0 / >$cap elements above> " +
          s"Raise spark.conf '${Uniques.CollectCapKey}' if the cardinality is " +
          s"intended.$conditionString")
    else testWithCounter(raw)
  }

  private def testWithCounter(raw: Map[Seq[Any], Long]): TestResult = {
    val counter: Map[Any, Long] = raw.map {
      case (Seq(single), c) => (single: Any) -> c
      case (tuple, c)       => (tuple: Any) -> c
    }
    val total = counter.values.sum
    if (total == 0) return TestResult.success(description)
    val allVariants = counter.keySet ++ distribution.keySet
    // Counter semantics: violations = max(0, observed - maxAllowed) + max(0, minRequired - observed)
    val perVariant = allVariants.toSeq.map { k =>
      val observed = counter.getOrElse(k, 0L).toDouble
      val (lo, hi) = distribution.getOrElse(k, defaultBounds)
      val viol = math.max(0.0, observed - hi * total) + math.max(0.0, lo * total - observed)
      k -> viol
    }
    val relative = perVariant.map(_._2).sum / total
    if (relative <= maxRelativeViolations) TestResult.success(description)
    else {
      val detail = perVariant.filter(_._2 > 0).map { case (k, _) =>
        val observed = counter.getOrElse(k, 0L)
        val (lo, hi) = distribution.getOrElse(k, defaultBounds)
        f"'$k' with a share of ${observed.toDouble / total * 100}%.2f%% ($observed out of " +
          f"$total) while a share between ${lo * 100}%.2f%% and ${hi * 100}%.2f%% is required"
      }
      TestResult.failure(
        description,
        f"${ref.describe} has ${relative * 100}%.2f%% > " +
          f"${maxRelativeViolations * 100}%.2f%% of element(s) violating the bound " +
          s"constraints:\n${detail.mkString("\n")}\n$conditionString")
    }
  }
}

/** Approximate distinct-count budget via HyperLogLog++ — beyond-reference,
  * the 100 TB path for uniqueness checking: one pass over the selection,
  * bounded sketch memory, NO shuffle of the distinct tuples (the exact
  * `NUniques*` constraints shuffle the whole distinct key set). `rsd` is
  * the sketch's relative standard deviation; size [minUniques, maxUniques]
  * with ~3·rsd slack for a hard gate.
  */
final case class NUniquesApproxBetween(
    ref: graft.core.DataRef,
    minUniques: Long,
    maxUniques: Long,
    rsd: Double = 0.05,
    override val nameOverride: Option[String] = None)
    extends Constraint {
  require(minUniques >= 0 && maxUniques >= minUniques,
    s"need 0 <= minUniques <= maxUniques, got [$minUniques, $maxUniques]")
  require(rsd > 0 && rsd < 1, s"rsd must be in (0, 1), got $rsd")
  override def test(spark: org.apache.spark.sql.SparkSession): graft.core.TestResult =
    withPlans {
      val f = graft.ops.Ops.getUniqueCountApprox(spark, ref, rsd)
      if (f >= minUniques && f <= maxUniques) graft.core.TestResult.success(description)
      else
        graft.core.TestResult.failure(
          description,
          s"${ref.describe} has approximately $f unique(s) (HyperLogLog++, " +
            s"rsd=$rsd), outside [$minUniques, $maxUniques]. $conditionString")
    }
}
