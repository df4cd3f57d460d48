package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType}

import graft.core.{Condition, DataRef}

/** The retrieval-operator layer: every operator of the reference's
  * `db_access.py` re-expressed as a declarative Spark plan plus a bounded
  * action. Citations are to datajudge files under /root/reference/.
  *
  * Scale notes (100 TB posture):
  *   - Every scalar retrieval is a single `agg(...)` — map-side partial
  *     aggregation, one shuffled row per partition, O(1) driver data.
  *   - Nothing here collects an unbounded set except `columnValues` and
  *     `getUniques`, which mirror reference operators that are documented to
  *     pull group results client-side (`db_access.py:906-935, 759-786`);
  *     both take a `limit`/`groupLimit` bound, and the constraint layer caps
  *     them by default (`Uniques.collectCap`) — an over-cardinality collect
  *     aborts loudly instead of OOMing the driver.
  *   - Sorting windows are only ever applied to *aggregated distinct values*
  *     (percentile, CDF), never to raw rows — see `Stats`.
  */
object Ops {

  /** A scalar retrieval as aggregate columns over `ref`'s condition-filtered
    * source plus a decoder of their values. `Aggregate.run` evaluates any
    * number of them over one (source, condition) as ONE `agg(...).head()`:
    * one scan however many columns and statistics a specification reads
    * there (cf. Deequ's shared analyzer scans, Schelter et al., PVLDB 2018).
    * `rowCap` bounds the scan with a LIMIT; a batch is bounded by its
    * largest cap when every member has one, and else counts exactly, since
    * the scan is paid anyway.
    */
  final case class Aggregate[A](
      ref: DataRef,
      columns: Seq[Column],
      decode: Row => A,
      rowCap: Option[Long] = None) {
    def map[B](f: A => B): Aggregate[B] = copy(decode = decode.andThen(f))
    def run(spark: SparkSession): A = Aggregate.run(spark, Seq(this)).head.asInstanceOf[A]
  }

  object Aggregate {

    /** The values of `aggs`, in order, from one aggregation over their
      * shared (source, condition), projected onto the union of their columns.
      */
    def run(spark: SparkSession, aggs: Seq[Aggregate[_]]): Seq[Any] = {
      val ref = aggs.head.ref
      require(
        aggs.forall(a => a.ref.source == ref.source && a.ref.condition == ref.condition),
        "A batched aggregate reads one (source, condition)")
      val cols = aggs.flatMap(_.ref.columnsOrEmpty).distinct
      val sel = DataRef(ref.source, if (cols.isEmpty) None else Some(cols), ref.condition)
        .selection(spark)
      val caps = aggs.flatMap(_.rowCap)
      val scan = if (caps.sizeIs == aggs.size) capped(sel, caps.max) else sel
      val all = aggs.flatMap(_.columns)
      val row = scan.agg(all.head, all.tail: _*).head()
      val offsets = aggs.scanLeft(0)(_ + _.columns.length)
      aggs.zip(offsets).map { case (a, from) =>
        a.decode(Row.fromSeq(row.toSeq.slice(from, from + a.columns.length)))
      }
    }
  }

  /** `sel` under a LIMIT of `n` rows when Spark can express one (0 to
    * Int.MaxValue); a larger or negative cap leaves the scan unbounded, so
    * a count never wraps to a negative or too-small limit.
    */
  private def capped(sel: DataFrame, n: Long): DataFrame =
    if (n >= 0 && n <= Int.MaxValue) sel.limit(n.toInt) else sel

  /** count(*), with an optional LIMIT cap (the `NRowsMin` optimization,
    * reference `nrows.py:41-51`): Catalyst pushes the LocalLimit below the
    * count.
    */
  def rowCountOf(ref: DataRef, rowLimit: Option[Long] = None): Aggregate[Long] =
    Aggregate(ref, Seq(count(lit(1))), _.getLong(0), rowLimit)

  /** count(*) with optional LIMIT cap (reference `db_access.py:740-756`). */
  def rowCount(spark: SparkSession, ref: DataRef, rowLimit: Option[Long] = None): Long =
    rowCountOf(ref, rowLimit).run(spark)

  /** Single-column values, client-side (reference `db_access.py:759-786`).
    * Use `limit` to bound driver memory — at scale an unbounded collect is a
    * bug, so default to the reference's output-processor cap semantics.
    */
  def columnValues(spark: SparkSession, ref: DataRef, limit: Option[Int] = None): Seq[Any] = {
    val sel = ref.selection(spark).select(col(ref.column))
    val bounded = limit.fold(sel)(sel.limit)
    bounded.collect().toSeq.map(_.get(0))
  }

  /** One aggregate scalar over the relevant column; NULL for an empty set. */
  def scalarOf(ref: DataRef, f: Column => Column): Aggregate[Any] =
    Aggregate(ref, Seq(f(col(ref.column))), r => if (r.isNullAt(0)) null else r.get(0))

  def aggregateScalar(spark: SparkSession, ref: DataRef, f: Column => Column): Any =
    scalarOf(ref, f).run(spark)

  def getMin(spark: SparkSession, ref: DataRef): Any =
    aggregateScalar(spark, ref, min) // db_access.py:789-794

  def getMax(spark: SparkSession, ref: DataRef): Any =
    aggregateScalar(spark, ref, max) // db_access.py:796-800

  /** avg(cast(col as DECIMAL)) (reference `db_access.py:803-809`). Decimal
    * accumulation is exact and associative — deterministic across partition
    * orders, unlike a double sum.
    */
  def meanOf(ref: DataRef): Aggregate[Double] =
    scalarOf(ref, c => avg(c.cast(DecimalType(38, 9)))).map { v =>
      if (v == null) Double.NaN else v.asInstanceOf[java.math.BigDecimal].doubleValue()
    }

  def getMean(spark: SparkSession, ref: DataRef): Double = meanOf(ref).run(spark)

  def getMinLength(spark: SparkSession, ref: DataRef): Long =
    Option(aggregateScalar(spark, ref, c => min(length(c))))
      .map(_.asInstanceOf[Number].longValue()).getOrElse(0L) // db_access.py:860-866

  def getMaxLength(spark: SparkSession, ref: DataRef): Long =
    Option(aggregateScalar(spark, ref, c => max(length(c))))
      .map(_.asInstanceOf[Number].longValue()).getOrElse(0L) // db_access.py:869-875

  /** Exact percentile with the reference's semantics (`db_access.py:812-857`):
    * smallest non-NULL value v such that at least `percentage`% of non-NULL
    * rows are <= v.
    *
    * Scale-aware plan: instead of ranking every raw row (the reference's
    * row_number over the full table — a global sort), aggregate to distinct
    * values first (`groupBy(v).count` — shuffle on value, map-side combine),
    * then run the distributed prefix sum (`CumSum` — bucket-partitioned
    * windows, never a single-partition sort) over the *distinct values
    * only*. `cum * 100 >= total * p` is the tie-correct form of the
    * reference's row_number filter (for tied values the last row number of
    * the tie group is what decides, which is exactly the cumulative count).
    *
    * ONE scan of the selection: the distinct-value counts are checkpointed,
    * so CumSum's boundary estimation, its bucket-totals collect, and the
    * final filtered min all read the (tiny, |distinct|-sized) materialized
    * frame instead of re-running the base scan+shuffle per pass; the total
    * row count is the grand total CumSum's boundary job already computed.
    * The checkpoint is released before returning — a constraint suite
    * evaluating many percentiles holds no blocks between calls.
    */
  def getPercentile(spark: SparkSession, ref: DataRef, percentage: Double): Double = {
    val c = ref.column
    val counts = graft.core.Blocks.checkpoint(
      ref
        .selection(spark)
        .where(col(c).isNotNull)
        .groupBy(col(c).as("v"))
        .agg(count(lit(1)).as("cnt")))
    try {
      val (running, totals) =
        CumSum.withRunningSums(counts, "v", Seq("cnt"), Seq("cum"))
      val total = totals.head
      val row = running
        .where(col("cum") * 100.0 >= lit(total) * percentage)
        .agg(min(col("v")))
        .head()
      if (row.isNullAt(0))
        throw new IllegalArgumentException("Percentile selection could not be fetched.")
      row.get(0).asInstanceOf[Number].doubleValue()
    } finally graft.core.Blocks.release(counts)
  }

  /** Fraction of rows with lo <= col <= hi over all rows of the selection
    * (reference `db_access.py:878-903`): NULLs and out-of-range rows count in
    * the denominator only. One pass instead of the reference's two counts.
    */
  def fractionBetweenOf(
      ref: DataRef,
      lowerBound: String,
      upperBound: String): Aggregate[Option[Double]] = {
    val c = col(ref.column)
    val inRange = c.geq(expr(lowerBound)) && c.leq(expr(upperBound))
    Aggregate(ref, Seq(count(lit(1)), count(when(inRange, 1))), fractionOfAll)
  }

  def getFractionBetween(
      spark: SparkSession,
      ref: DataRef,
      lowerBound: String,
      upperBound: String): Option[Double] =
    fractionBetweenOf(ref, lowerBound, upperBound).run(spark)

  /** (count of all rows, count of some) → their ratio; None for no rows. */
  private def fractionOfAll(row: Row): Option[Double] = {
    val nAll = row.getLong(0)
    if (nAll == 0L) None else Some(row.getLong(1).toDouble / nAll)
  }

  /** GROUP BY cols + count(*), pulled client-side as a counter
    * (reference `db_access.py:906-935`). Single-column refs key by the bare
    * value; multi-column refs key by the value tuple.
    */
  def getUniques(
      spark: SparkSession,
      ref: DataRef,
      groupLimit: Option[Int] = None): Map[Seq[Any], Long] = {
    val cols = ref.columnsOrEmpty
    if (cols.isEmpty) return Map.empty
    val grouped = ref
      .selection(spark)
      .groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("dj_count"))
    // groupLimit bounds the driver collect (callers pass cap+1 and treat a
    // full result as overflow); the aggregation itself stays distributed
    groupLimit.fold(grouped)(grouped.limit)
      .collect()
      .map(r => cols.indices.map(r.get) -> r.getLong(cols.length))
      .toMap
  }

  /** Distinct tuples of `df1` absent from `df2` — the engine-side EXCEPT
    * behind the between-source Uniques constraints. `df2`'s columns are
    * renamed positionally onto `df1`'s (the reference compares selections
    * positionally); the anti-join keys are null-safe (`<=>`) so NULL tuples
    * compare equal under the `filternullNever` policy.
    *
    * 100 TB shape: both sides reduce to DISTINCT before the join (map-side
    * combine shrinks the shuffle to |distinct|); the anti-join shuffles
    * only distinct tuples; nothing reaches the driver — callers aggregate
    * counts in-engine and `limit` display samples.
    */
  def exceptDistinct(df1: DataFrame, df2: DataFrame): DataFrame =
    antiJoinPositional(df1.distinct(), df2.distinct(), df1.columns.toSeq)

  /** Left-anti join of `df1` (on `keys1`, which must lead its schema)
    * against `df2`, whose columns align positionally with `keys1`. */
  def antiJoinPositional(df1: DataFrame, df2: DataFrame, keys1: Seq[String]): DataFrame = {
    require(
      df2.columns.length == keys1.length,
      s"Positional comparison requires matching arity: ${keys1.length} key column(s) " +
        s"vs ${df2.columns.length} on the other side " +
        s"(${df2.columns.mkString(", ")})")
    val d2 = df2.select(
      df2.columns.toSeq.zip(keys1).map { case (c2, c1) => col(c2).as(c1 + "_dj2") }: _*)
    val cond = keys1.map(c => col(c) <=> col(c + "_dj2")).reduce(_ && _)
    df1.join(d2, cond, "left_anti")
  }

  /** Engine-side distinct-set difference of two references
    * (`r1`'s distinct selection EXCEPT `r2`'s). */
  def uniquesDiff(spark: SparkSession, r1: DataRef, r2: DataRef): DataFrame =
    exceptDistinct(r1.selection(spark), r2.selection(spark))

  /** count(*) over SELECT DISTINCT selection (reference `db_access.py:938-949`). */
  def getUniqueCount(spark: SparkSession, ref: DataRef): Long =
    ref.selection(spark).distinct().count()

  /** Approximate distinct count (HyperLogLog++) — the `exact=false` fast
    * mode for 100 TB scale: no shuffle of the distinct tuples, one pass,
    * bounded relative error (default 5%). Beyond-reference (SURVEY §7).
    */
  def getUniqueCountApprox(spark: SparkSession, ref: DataRef, rsd: Double = 0.05): Long = {
    val sel  = ref.selection(spark)
    val tup  = struct(sel.columns.map(col).toSeq: _*)
    sel.agg(approx_count_distinct(tup, rsd)).head().getLong(0)
  }

  /** Approximate percentile (t-digest-style sketch) — the `exact=false`
    * fast mode: one pass, no per-value shuffle; `accuracy` trades memory for
    * error (err <= 1/accuracy). NOT the reference's exact semantics — use
    * `getPercentile` when parity matters. Beyond-reference (SURVEY §7).
    */
  def getPercentileApprox(
      spark: SparkSession,
      ref: DataRef,
      percentage: Double,
      accuracy: Int = 10000): Double = {
    val row = ref
      .selection(spark)
      .where(col(ref.column).isNotNull)
      .agg(percentile_approx(
        col(ref.column).cast("double"), lit(percentage / 100.0), lit(accuracy)))
      .head()
    if (row.isNullAt(0))
      throw new IllegalArgumentException("Percentile selection could not be fetched.")
    row.getDouble(0)
  }

  /** count(*) over DISTINCT(sel1 UNION sel2) (reference `db_access.py:952-964`).
    * Spark `union` is by position, matching SQL UNION; dedup after.
    */
  def getUniqueCountUnion(spark: SparkSession, ref: DataRef, ref2: DataRef): Long =
    ref.selection(spark).union(ref2.selection(spark)).distinct().count()

  /** NULL fraction of the relevant column (reference `db_access.py:967-986`). */
  def missingFractionOf(ref: DataRef): Aggregate[Option[Double]] =
    Aggregate(ref, Seq(count(lit(1)), count(when(col(ref.column).isNull, 1))), fractionOfAll)

  def getMissingFraction(spark: SparkSession, ref: DataRef): Option[Double] =
    missingFractionOf(ref).run(spark)

  /** Reflected column names (reference `db_access.py:989-993`). */
  def getColumnNames(spark: SparkSession, ref: DataRef): Seq[String] =
    ref.source.df(spark).columns.toSeq

  /** Reflected type of the relevant column (reference `db_access.py:996-999`). */
  def getColumnType(spark: SparkSession, ref: DataRef): DataType =
    ref.selection(spark).schema.head.dataType

  /** Distinct-row set sizes of two selections plus one sample row of each
    * difference: |L∖R|, |R∖L|, |L|, |R|, |L∪R|. */
  final case class RowSets(
      leftOnly: Long,
      rightOnly: Long,
      left: Long,
      right: Long,
      union: Long,
      leftOnlySample: Option[Row],
      rightOnlySample: Option[Row])

  /** Every row-set quantity of two selections in one aggregation — the
    * fused form of two EXCEPT counts (reference `db_access.py:1027-1041`),
    * two distinct counts, the DISTINCT UNION count (`db_access.py:952-964`)
    * and the difference samples (`db_access.py:1016-1024`). Both sides are
    * renamed positionally and tagged, unioned (by position, so
    * WidenSetOperationTypes coerces as for EXCEPT), grouped on every column
    * (NULLs group as equal, NaN and -0.0 normalized — EXCEPT DISTINCT's set
    * semantics), and one global aggregate counts the side-flag combinations.
    * Samples are cast back to their own side's column types and names.
    */
  def getRowSets(spark: SparkSession, ref: DataRef, ref2: DataRef): RowSets = {
    val l = ref.selection(spark)
    val r = ref2.selection(spark)
    def tagged(df: DataFrame, isLeft: Boolean) =
      df.toDF(df.columns.indices.map(i => s"_dj$i"): _*)
        .withColumn("_dj_l", lit(isLeft))
        .withColumn("_dj_r", lit(!isLeft))
    val cols = l.columns.indices.map(i => s"_dj$i")
    val inL = col("_dj_l")
    val inR = col("_dj_r")
    def sample(side: DataFrame, only: Column) =
      first(when(only, struct(cols.zip(side.schema.fields).map { case (c, f) =>
        col(c).cast(f.dataType).as(f.name)
      }: _*)), ignoreNulls = true)
    val row = tagged(l, isLeft = true)
      .union(tagged(r, isLeft = false))
      .groupBy(cols.map(col): _*)
      .agg(max(inL).as("_dj_l"), max(inR).as("_dj_r"))
      .agg(
        count(when(inL && !inR, 1)),
        count(when(inR && !inL, 1)),
        count(when(inL, 1)),
        count(when(inR, 1)),
        count(lit(1)),
        sample(l, inL && !inR),
        sample(r, inR && !inL))
      .head()
    RowSets(
      row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4),
      Option(row.getStruct(5)), Option(row.getStruct(6)))
  }

  /** |sel1 EXCEPT sel2| (already distinct; reference `db_access.py:1027-1041`). */
  def getRowDifferenceCount(spark: SparkSession, ref: DataRef, ref2: DataRef): Long =
    ref.selection(spark).except(ref2.selection(spark)).count()

  /** Match/compare column pairs (reference `_MatchAndCompare`,
    * `db_access.py:80-120`).
    */
  final case class MatchAndCompare(
      matchingColumns1: Seq[String],
      matchingColumns2: Seq[String],
      comparisonColumns1: Seq[String],
      comparisonColumns2: Seq[String]) {
    override def toString: String =
      s"Matched on ${matchingColumns1.mkString(", ")} and compared on " +
        s"${comparisonColumns1.mkString(", ")}"
  }

  /** Inner equi-join on match columns; mismatch fraction = avg over joined
    * rows of (compare columns not all null-safe-equal), plus joined row count
    * (reference `db_access.py:1044-1094`). Null-safe equality is Spark's
    * built-in `<=>`; the equi-join shuffles both sides on the match keys
    * (hash join; AQE broadcasts the small side at runtime).
    * One action instead of the reference's two round trips.
    */
  def getRowMismatch(
      spark: SparkSession,
      ref: DataRef,
      ref2: DataRef,
      mc: MatchAndCompare): (Double, Long) = {
    val left  = renameAll(ref.selection(spark), "_l")
    val right = renameAll(ref2.selection(spark), "_r")
    val matchCond = mc.matchingColumns1
      .zip(mc.matchingColumns2)
      .map { case (a, b) => col(a + "_l") === col(b + "_r") }
      .reduce(_ && _)
    val compareCond = mc.comparisonColumns1
      .zip(mc.comparisonColumns2)
      .map { case (a, b) => col(a + "_l") <=> col(b + "_r") }
      .reduce(_ && _)
    val row = left
      .join(right, matchCond)
      .agg(
        avg(when(compareCond, 0.0).otherwise(1.0)).as("mismatch"),
        count(lit(1)).as("n"))
      .head()
    if (row.isNullAt(0)) (0.0, 0L) else (row.getDouble(0), row.getLong(1))
  }

  /** Rows occurring more than once: group by all columns HAVING count>1,
    * emitting one row per duplicated content (reference `db_access.py:1097-1115`).
    */
  def duplicates(df: DataFrame): DataFrame = {
    val cols = df.columns.map(col).toSeq
    df.groupBy(cols: _*)
      .agg(count(lit(1)).as("dj_cnt"))
      .where(col("dj_cnt") > 1)
      .drop("dj_cnt")
  }

  /** First duplicate row (reference `db_access.py:1118-1125`). */
  def getDuplicateSample(spark: SparkSession, ref: DataRef): Option[Row] =
    duplicates(ref.selection(spark)).head(1).headOption

  /** GROUP BY group columns + collect_list(agg column)
    * (reference `column_array_agg_query`, `db_access.py:1128-1161`).
    * `collect_list` is the direct `array_agg` analogue; values within a list
    * are sorted for determinism (the reference's DBs give no order either —
    * client code treats them as multisets).
    */
  def columnArrayAgg(
      spark: SparkSession,
      ref: DataRef,
      aggregationColumn: String): DataFrame = {
    val groupCols = ref.columnsOrEmpty
    ref.source
      .df(spark)
      .where(ref.condition.map(c => expr(c.render)).getOrElse(lit(true)))
      .groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(col(aggregationColumn))).as(aggregationColumn))
  }

  /** datediff(day, min, max) (reference `get_date_span`, `db_access.py:224-299`
    * — five dialect variants collapse to one `datediff`).
    */
  def getDateSpan(spark: SparkSession, ref: DataRef): Double = {
    val c = col(ref.column)
    val row = ref.selection(spark).agg(datediff(max(c), min(c))).head()
    if (row.isNullAt(0))
      throw new IllegalArgumentException(s"Date span could not be fetched for ${ref.describe}")
    row.getInt(0).toDouble
  }

  /** Ratio of two date spans - 1 (reference `db_access.py:302-313`). */
  def getDateGrowthRate(
      spark: SparkSession,
      ref: DataRef,
      ref2: DataRef): Double = {
    val span1 = getDateSpan(spark, ref)
    val span2 = getDateSpan(spark, ref2)
    if (span2 == 0) throw new IllegalArgumentException("Reference date span is empty.")
    span1 / span2 - 1.0
  }

  /** Functional-dependency violations (reference `db_access.py:711-737`):
    * distinct tuples whose key columns map to >1 distinct remainder.
    * `bad` (violating keys) is typically tiny → AQE broadcast-joins it back.
    */
  def functionalDependencyViolations(
      spark: SparkSession,
      ref: DataRef,
      keyColumns: Seq[String]): DataFrame = {
    val uniq = ref.selection(spark).distinct()
    val bad = uniq
      .groupBy(keyColumns.map(col): _*)
      .agg(count(lit(1)).as("dj_cnt"))
      .where(col("dj_cnt") > 1)
      .drop("dj_cnt")
    uniq.join(bad, keyColumns)
  }

  /** Regex violation count + up-to-n counterexamples (reference
    * `db_access.py:1318-1363`). `aggregated=true` evaluates over DISTINCT
    * values (one regex eval per distinct value — the cheap path at scale).
    * Spark `rlike` is a *search* (unanchored), matching the reference's
    * in-DB `regexp_match` semantics; callers wanting the reference's
    * in-memory `re.match` behavior anchor the pattern with `^`
    * (see `VarCharRegex`, reference `varchar.py:122-123`).
    * nCounterexamples: -1 = all, 0 = none, n = LIMIT n.
    */
  def getRegexViolations(
      spark: SparkSession,
      ref: DataRef,
      aggregated: Boolean,
      regex: String,
      nCounterexamples: Int): (Long, Seq[String]) = {
    val c   = col(ref.column)
    val sel = ref.selection(spark).select(c)
    val base       = if (aggregated) sel.distinct() else sel
    val violations = base.where(c.isNotNull && !c.rlike(regex))
    val n          = violations.count()
    val examples: Seq[String] = nCounterexamples match {
      case 0 => Seq.empty
      case -1 =>
        // "all" is reference parity (`db_access.py:1340-1347`) but an
        // unbounded driver collect is the one thing a 100 TB engine must
        // not do on request — bound it like the uniques path and make the
        // truncation loud via a sentinel tail element
        val cap = spark.conf.getOption(RegexCollectCapKey)
          .map(_.toInt).getOrElse(DefaultRegexCollectCap)
        val collected =
          violations.limit(cap).collect().toSeq.map(r => String.valueOf(r.get(0)))
        if (n > cap)
          collected :+
            s"<SHORTENED OUTPUT, displaying the first $cap / $n counterexamples; " +
            s"raise spark.conf '$RegexCollectCapKey' for more>"
        else collected
      case k => violations.limit(k).collect().toSeq.map(r => String.valueOf(r.get(0)))
    }
    (n, examples)
  }

  /** Spark-conf key bounding the `nCounterexamples = -1` ("all") regex
    * violation collect; overflow appends a visible truncation sentinel.
    */
  val RegexCollectCapKey = "graft.regex.maxCollectedViolations"
  private val DefaultRegexCollectCap = 100000

  /** Rename every column with a suffix — makes self-join and two-source join
    * lineage unambiguous without relying on alias resolution.
    */
  private[graft] def renameAll(df: DataFrame, suffix: String): DataFrame =
    df.select(df.columns.map(c => col(c).as(c + suffix)).toSeq: _*)
}
