package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational data-quality operators beyond the reference surface:
  * referential integrity (FK orphans), within-key monotonicity, and
  * z-score outliers. All three are single-purpose plans — an anti hash
  * join, one per-key window, one aggregate + broadcast — with the same
  * declarative posture as the reference ops in [[Ops]].
  */
object Integrity {

  /** Orphan rows: `child` rows whose key tuple has no match in `parent` —
    * a LEFT ANTI hash join (AQE broadcasts a small parent; no plan
    * branches here). `nullExempt` follows the SQL standard's MATCH SIMPLE
    * foreign-key semantics: a child row with any NULL key column is exempt
    * (dropped from the check), not an orphan.
    */
  def orphans(
      child: DataFrame,
      parent: DataFrame,
      childKeys: Seq[String],
      parentKeys: Seq[String],
      nullExempt: Boolean = true): DataFrame = {
    require(childKeys.nonEmpty && childKeys.size == parentKeys.size,
      "childKeys and parentKeys must be non-empty and of equal length")
    val checked =
      if (nullExempt)
        child.where(childKeys.map(col(_).isNotNull).reduce(_ && _))
      else child
    val parentSide = parent
      .select(parentKeys.zip(childKeys).map { case (p, c) => col(p).as(s"dj_pk_$c") }: _*)
      .distinct()
    val cond = childKeys.map(c =>
      if (nullExempt) col(c) === col(s"dj_pk_$c")
      else col(c) <=> col(s"dj_pk_$c")).reduce(_ && _)
    checked.join(parentSide, cond, "left_anti")
  }

  /** One-row orphan summary: checked row count, orphan rows, distinct
    * orphan key tuples.
    */
  def orphanStats(
      child: DataFrame,
      parent: DataFrame,
      childKeys: Seq[String],
      parentKeys: Seq[String],
      nullExempt: Boolean = true): DataFrame = {
    val checked =
      if (nullExempt)
        child.where(childKeys.map(col(_).isNotNull).reduce(_ && _))
      else child
    val o = orphans(child, parent, childKeys, parentKeys, nullExempt)
      .agg(
        count(lit(1)).as("n_orphans"),
        countDistinct(childKeys.head, childKeys.tail: _*).as("n_orphan_keys"))
    checked.agg(count(lit(1)).as("n_rows")).crossJoin(o)
  }

  /** Per-key monotonicity violations of `valueCol` along `orderCol`: a
    * violation is an adjacent pair (ordered by `orderCol`, ties broken by
    * the value itself so equal-order rows can never fabricate one) where
    * the value strictly decreases (`strict = true` flags non-increase,
    * i.e. requires strict growth). One per-key window — the
    * "timestamps/sequence numbers must not run backwards" check.
    * Output: one row per key with `n_pairs` and `n_violations`.
    */
  def monotonicityViolations(
      df: DataFrame,
      keyCol: String,
      orderCol: String,
      valueCol: String,
      strict: Boolean = false): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol), col(valueCol))
    // the flag must read the MATERIALIZED lag column: a window expression
    // inside the aggregate below is illegal SQL
    val bad =
      if (strict) col(valueCol) <= col("dj_prev")
      else col(valueCol) < col("dj_prev")
    df.where(col(orderCol).isNotNull && col(valueCol).isNotNull)
      .withColumn("dj_prev", lag(col(valueCol), 1).over(w))
      .groupBy(keyCol)
      .agg(
        count(col("dj_prev")).as("n_pairs"),
        count(when(bad, 1)).as("n_violations"))
  }

  /** Z-score outlier flags with EXACT cross-engine arithmetic: the
    * condition |x − μ| > k·σ (population σ) is evaluated as the
    * integer-scaled equivalent `(x·n − S)² > k²·(n·Q − S²)` over DECIMAL
    * sums of `round(value · scale)` — no float mean/stddev enters the
    * comparison, so engines can never disagree on a boundary row. `scale`
    * lifts fixed-point data to integers (100 for cents); `k` is an
    * integer number of standard deviations.
    *
    * Two passes by necessity (the aggregate, then the scan with the 1-row
    * stats broadcast); adds `is_outlier`.
    */
  def zOutliers(
      df: DataFrame,
      valueCol: String,
      k: Int = 3,
      scale: Long = 1L): DataFrame = {
    require(k >= 1 && scale >= 1, s"bad outlier params: k=$k scale=$scale")
    val v = round(col(valueCol) * scale).cast("decimal(38,0)")
    val base = df.where(col(valueCol).isNotNull).withColumn("dj_v", v)
    val stats = base.agg(
      count(lit(1)).cast("decimal(38,0)").as("dj_n"),
      sum(col("dj_v")).as("dj_s"),
      sum(col("dj_v") * col("dj_v")).as("dj_q"))
    val lhs = (col("dj_v") * col("dj_n") - col("dj_s")) *
      (col("dj_v") * col("dj_n") - col("dj_s"))
    val rhs = lit(k.toLong * k).cast("decimal(38,0)") *
      (col("dj_n") * col("dj_q") - col("dj_s") * col("dj_s"))
    base
      .crossJoin(broadcast(stats))
      .withColumn("is_outlier", lhs > rhs)
      .drop("dj_v", "dj_n", "dj_s", "dj_q")
  }

  /** Rank selection over a PRE-BUILT (dj_ov decimal, dj_cnt long)
    * distinct-value frame with CALLER-SUPPLIED bucket boundaries (the
    * fused q_mad_outliers path: boundaries reuse only shapes load
    * balance, the selected values are exact). Two jobs: per-bucket
    * totals + the min-when selection.
    */
  private def valuesAtRanksFromCounts(
      counts: DataFrame,
      boundaries: Seq[Double],
      r1: Long,
      r2: Long): (java.math.BigDecimal, java.math.BigDecimal) = {
    val running = graft.ops.CumSum.withRunningSumsAt(
      counts, "dj_ov", Seq("dj_cnt"), Seq("dj_cum"), boundaries)
    val row = running.agg(
      min(when(col("dj_cum") >= r1, col("dj_ov"))).as("v1"),
      min(when(col("dj_cum") >= r2, col("dj_ov"))).as("v2")).head()
    (row.getDecimal(0), row.getDecimal(1))
  }

  /** Robust MAD outliers: flag rows with `|v − median| > k · c · MAD`
    * where `MAD = median(|v − median|)` and `c = 1.4826` (the normal
    * consistency constant, so `k` is in robust-σ units like [[zOutliers]]'
    * k — but immune to the outliers' own pull on mean/variance, the
    * classic masking failure of z-scores).
    *
    * EXACT arithmetic, no float boundary flips: values scale to integers
    * (`round(v·scale)`), both medians use doubled order statistics
    * (`M2 = v_(⌈n/2⌉) + v_(⌈(n+1)/2⌉)`, so even-count averaging never
    * divides), deviations are the exact integers `|2v − M2|`, and the
    * flag compares `2 · dev · 10⁴ > K · D2` with
    * `K = round(k · c · 10⁴)` — the threshold is quantized to 10⁻⁴
    * robust-σ, everything else is exact. Degenerate spread (MAD = 0)
    * flags every v ≠ median, matching the definition's limit.
    *
    * Scale shape: ONE distinct-value aggregate serves both rank
    * selections (r15 fusion, guide §1.2/§2.4): the deviation
    * distribution |2v − M2| is a deterministic map of v, so its
    * per-distinct counts derive from the first selection's (value,
    * count) frame — never a second scan or shuffle of the corpus — and
    * its bucket boundaries are the first selection's boundaries FOLDED
    * around the median (load balance only; each dev bucket unions ≤2
    * half-buckets, so balance degrades ≤2×). The base count rides the
    * boundary-estimation aggregate. 5 jobs total (was 7), one corpus
    * exchange (was two); nothing collects beyond four scalars.
    */
  def madOutliers(
      df: DataFrame,
      valueCol: String,
      k: Double = 3.5,
      scale: Long = 1L,
      consistency: Double = 1.4826): DataFrame = {
    require(k > 0 && scale >= 1, s"bad MAD params: k=$k scale=$scale")
    val kQ = Math.round(k * consistency * 10000)
    // The scaled frame stays LAZY (r15): it is read once eagerly (the
    // distinct-value aggregate) and once by the returned frame — a
    // checkpoint would trade one pruned two-column scan for a dedicated
    // materialization job plus pinned memory. The distinct-value counts
    // are a LAZY checkpoint: three jobs read them, and materialization
    // rides the first (the boundary estimate). Release via
    // `Blocks.releaseAll()` (or a `Blocks.scoped`) after consuming.
    val base = df.where(col(valueCol).isNotNull)
      .withColumn("dj_v", round(col(valueCol) * scale).cast("decimal(38,0)"))
    val counts = graft.core.Blocks.checkpointLazy(
      base.groupBy(col("dj_v").as("dj_ov")).agg(count(lit(1)).as("dj_cnt")))
    try {
      // one job: boundaries + n (the sum of per-value counts) — also the
      // materialization pass for the base and counts caches
      graft.ops.CumSum
        .estimateBoundaries(counts, "dj_ov", Seq("dj_cnt")) match {
        case None =>
          base.withColumn("is_outlier", lit(false)).drop("dj_v")
        case Some((bounds, totals)) =>
          val n = totals.head
          val r1 = (n + 1) / 2
          val r2 = (n + 2) / 2
          val (m1, m2) = valuesAtRanksFromCounts(counts, bounds, r1, r2)
          val mm2 = m1.add(m2) // 2 x median, exact
          // deviation distinct counts from the distinct-VALUE frame (the
          // map v → |2v − M2| merges value pairs; summing their counts is
          // exactly the deviation histogram)
          val devCounts = graft.core.Blocks.checkpointLazy(
            counts.groupBy(
              abs(col("dj_ov") * 2 - lit(mm2).cast("decimal(38,0)"))
                .as("dj_ov"))
              .agg(sum(col("dj_cnt")).as("dj_cnt")))
          try {
            val m2d = mm2.doubleValue
            val devBounds =
              (bounds.map(b => math.abs(2 * b - m2d)) :+ 0.0).distinct.sorted
            val (d1, d2) =
              valuesAtRanksFromCounts(devCounts, devBounds, r1, r2)
            val dd2 = d1.add(d2) // 4 x MAD, exact
            base
              .withColumn(
                "dj_dev",
                abs(col("dj_v") * 2 - lit(mm2).cast("decimal(38,0)")))
              .withColumn(
                "is_outlier",
                col("dj_dev") * lit(2L) * lit(10000L) >
                  lit(kQ).cast("decimal(38,0)") * lit(dd2).cast("decimal(38,0)"))
              .drop("dj_v", "dj_dev")
          } finally graft.core.Blocks.release(devCounts)
      }
    } finally graft.core.Blocks.release(counts)
  }

  /** Benford first-significant-digit profile — the classic fabricated- or
    * corrupted-numbers audit (Nigrini 2012; Benford 1938): for naturally
    * occurring multi-order-of-magnitude positive values, the first digit d
    * appears with probability log10(1 + 1/d); synthetic, truncated, or
    * copy-pasted columns deviate sharply. Values with |v| >= 1 contribute
    * (their integer part's first digit — exact string arithmetic, no
    * float log that two engines could round differently); NULLs and
    * |v| < 1 are excluded and reported via `n_excluded`.
    *
    * The expectations are HARDCODED shortest-repr double literals shared
    * verbatim with the SQL oracle (log10 is 1-ulp engine-dependent — the
    * PoissonCdf lesson). One aggregate + a 9-row spine join; out: nine
    * rows (digit, n_digit, observed_share, expected_share) — zero-count
    * digits included, shares NULL on an empty eligible set.
    */
  val BenfordExpected: Seq[Double] = Seq(
    0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514)

  def benfordProfile(df: DataFrame, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    val v = abs(col(valueCol))
    // |v| >= 1e38 is EXCLUDED explicitly (counted into n_excluded): the
    // decimal(38,0) rendering below would overflow to NULL under non-ANSI
    // arithmetic and the row would silently vanish from BOTH n_digit and
    // n_excluded (and DuckDB's HUGEINT oracle errors near 1.7e38) — the
    // exclusion keeps the row accounting exhaustive and engine-parity
    // exact. Doubles that large are not Benford-auditable business values.
    val eligible = col(valueCol).isNotNull && v >= 1 && v < lit(1e38)
    // first digit of the integer part: decimal(38,0) renders without
    // scientific notation in both engines, so substring(1,1) is exact
    val digit = substring(
      floor(v).cast("decimal(38,0)").cast("string"), 1, 1).cast("int")
    val counts = df
      .select(
        when(eligible, digit).as("dj_d"),
        when(eligible, 0L).otherwise(1L).as("dj_ex"))
      .groupBy("dj_d")
      .agg(count(lit(1)).as("dj_n"), sum(col("dj_ex")).as("dj_nex"))
    val byDigit = graft.core.Blocks.checkpoint(counts)
    val spine = spark.range(1, 10).select(col("id").cast("int").as("digit"))
    val expected = spine.withColumn(
      "expected_share",
      element_at(array(BenfordExpected.map(lit): _*), col("digit")))
    val totals = byDigit.agg(
      sum(when(col("dj_d").isNotNull, col("dj_n")).otherwise(0L)).as("dj_tot"),
      sum(col("dj_nex")).as("dj_ex"))
    expected
      .join(byDigit.where(col("dj_d").isNotNull)
        .select(col("dj_d").as("digit"), col("dj_n")), Seq("digit"), "left")
      .crossJoin(broadcast(totals))
      .select(
        col("digit"),
        coalesce(col("dj_n"), lit(0L)).as("n_digit"),
        when(col("dj_tot") > 0,
          coalesce(col("dj_n"), lit(0L)).cast("double") / col("dj_tot").cast("double"))
          .as("observed_share"),
        col("expected_share"),
        coalesce(col("dj_ex"), lit(0L)).as("n_excluded"))
  }
}
