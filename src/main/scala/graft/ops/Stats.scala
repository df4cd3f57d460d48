package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.DataRef

/** Empirical-CDF machinery and the two-sample Kolmogorov–Smirnov statistic
  * (reference `db_access.py:1164-1315`, `constraints/stats.py:25-75`).
  *
  * Scale-aware plan: the reference computes `cume_dist()` over every raw row
  * (a global sort of the full table). We instead aggregate to distinct values
  * first (`groupBy(value).count` — shuffled with map-side combine) and build
  * the CDF as `cumsum(count)/total` over the *distinct values only*. The
  * ordered window runs over |distinct| rows, not |rows| — at 100 TB the
  * difference between an impossible global sort and a trivial one.
  */
object Stats {

  /** One row per distinct value with its empirical CDF
    * (reference `_cdf_selection`, `db_access.py:1164-1191`: cume_dist then
    * max per value — identical to cumulative count / total).
    */
  def cdfSelection(
      spark: SparkSession,
      ref: DataRef,
      valueLabel: String,
      cdfLabel: String): DataFrame = {
    // feeds boundary estimation AND bucketing — one eager registry-tracked
    // checkpoint (graft.core.Blocks): a KS/CDF constraint evaluation
    // releases it with its scope, a harness with releaseAll; the former
    // `.cache()` pinned one CacheManager entry per evaluation until a
    // session-wide clearCache
    val counts = graft.core.Blocks.checkpointLazy(
      ref
        .selection(spark)
        .select(col(ref.column).as(valueLabel))
        .groupBy(valueLabel)
        .agg(count(lit(1)).as("dj_cnt")))
    // distributed prefix sum over the distinct values (no single-partition
    // window; see CumSum); the sample total rides along in the boundary job
    val (running, totals) =
      CumSum.withRunningSums(counts, valueLabel, Seq("dj_cnt"), Seq("dj_running"))
    running.select(
      col(valueLabel),
      (col("dj_running").cast("double") / totals.head.toDouble).as(cdfLabel))
  }

  /** Align two empirical CDFs on the value axis
    * (reference `_cross_cdf_selection`, `db_access.py:1194-1280`):
    * full outer join on value, coalesced value, then forward-fill each CDF.
    * Spark's `last(_, ignoreNulls = true)` running window replaces the
    * reference's two-step count-group + first_value trick in one pass.
    * Leading NULLs (values seen only in the other sample before this sample's
    * first value) coalesce to 0.
    */
  /** Fused cross-CDF: both samples' CDFs aligned on the union value axis,
    * plus both sample sizes — ONE pass.
    *
    * The round-1 plan ran two `cdfSelection`s, a full-outer join, a
    * three-job distributed forward fill, and two extra row counts. All of
    * that collapses: tag each sample with a 0/1 weight pair, union, and
    * `groupBy(value)` — one shuffle yields (value, cnt1, cnt2) already
    * "joined"; the running sums of cnt1/cnt2 over the union axis ARE the
    * forward-filled CDFs (a value missing from one sample contributes 0, so
    * its running sum simply carries the previous value — no fill step), and
    * the sample totals ride along in the boundary-estimation job
    * (`CumSum.withRunningSums`). NULL values stay IN: the sample sizes are
    * then plain row counts (reference `stats.py:90-91` uses
    * `get_row_count` = COUNT(*), nulls included), and the NULL group rides
    * bucket 0 of the prefix sum — i.e. NULLS-FIRST `cume_dist` semantics.
    * (The reference's own NULL placement is dialect-dependent — its
    * `cume_dist` ordering puts NULLs wherever the backend does; this engine
    * picks the NULLS-FIRST convention deterministically.)
    */
  def crossCdfWithCounts(
      spark: SparkSession,
      ref1: DataRef,
      ref2: DataRef,
      valueLabel: String,
      cdfLabel: String): (DataFrame, Long, Long) = {
    def side(r: DataRef, first: Boolean) = r
      .selection(spark)
      .select(
        col(r.column).as(valueLabel),
        lit(if (first) 1L else 0L).as("dj_w1"),
        lit(if (first) 0L else 1L).as("dj_w2"))
    // one eager registry-tracked checkpoint (see cdfSelection) — released
    // by the constraint scope / harness instead of lingering per evaluation
    val counts = graft.core.Blocks.checkpointLazy(
      side(ref1, first = true)
        .unionAll(side(ref2, first = false))
        .groupBy(valueLabel)
        .agg(sum(col("dj_w1")).as("dj_cnt1"), sum(col("dj_w2")).as("dj_cnt2")))
    val (running, totals) = CumSum.withRunningSums(
      counts, valueLabel, Seq("dj_cnt1", "dj_cnt2"), Seq("dj_run1", "dj_run2"))
    val (n, m) = (totals(0), totals(1))
    // an empty sample's CDF is 0 everywhere (the pre-fused plan's
    // forward-fill + coalesce semantics; D then reads 1.0) — never divide
    // by a zero total
    def cdfOf(runCol: String, total: Long) =
      if (total == 0L) lit(0.0) else col(runCol).cast("double") / total.toDouble
    val cross = running.select(
      col(valueLabel),
      cdfOf("dj_run1", n).as(cdfLabel + "1"),
      cdfOf("dj_run2", m).as(cdfLabel + "2"))
    (cross, n, m)
  }

  /** Align two empirical CDFs on the value axis
    * (reference `_cross_cdf_selection`, `db_access.py:1194-1280`).
    */
  def crossCdf(
      spark: SparkSession,
      ref1: DataRef,
      ref2: DataRef,
      valueLabel: String,
      cdfLabel: String): DataFrame =
    crossCdfWithCounts(spark, ref1, ref2, valueLabel, cdfLabel)._1

  /** Two-sample KS D statistic with both sample sizes
    * (reference `get_ks_2sample`, `db_access.py:1283-1315`): max |cdf1-cdf2|
    * over the fused cross-CDF; n and m are free from the same computation.
    */
  def ks2SampleWithCounts(
      spark: SparkSession,
      ref1: DataRef,
      ref2: DataRef): (Double, Long, Long) = {
    val (cross, n, m) = crossCdfWithCounts(spark, ref1, ref2, "val", "cdf")
    val row = cross.agg(max(abs(col("cdf1") - col("cdf2")))).head()
    if (row.isNullAt(0))
      throw new IllegalArgumentException("Could not compute d statistic.")
    (row.getDouble(0), n, m)
  }

  def ks2Sample(spark: SparkSession, ref1: DataRef, ref2: DataRef): Double =
    ks2SampleWithCounts(spark, ref1, ref2)._1

  /** Acceptance check at significance level alpha
    * (reference `constraints/stats.py:56-75`):
    * D <= c(alpha) * sqrt((n+m)/(n*m)), c(a) = sqrt(-ln(a/2 + 1e-10)/2).
    */
  def ksCheckAcceptance(
      dStatistic: Double,
      nSamples: Long,
      mSamples: Long,
      acceptedLevel: Double): Boolean = {
    val c = math.sqrt(-math.log(acceptedLevel / 2.0 + 1e-10) * 0.5)
    val threshold =
      c * math.sqrt((nSamples + mSamples).toDouble / (nSamples.toDouble * mSamples))
    dStatistic <= threshold
  }

  /** Quasi-exact p-value — the reference's scipy upgrade path
    * (`constraints/stats.py:38-54`): `kstwo.sf(d, round(nm/(n+m)))`, the
    * exact finite-sample Kolmogorov distribution at the effective sample
    * size (Marsaglia–Tsang–Wang, see `Kolmogorov`). None below 35 samples,
    * matching the reference's early return.
    */
  def ksExactPValue(d: Double, nSamples: Long, mSamples: Long): Option[Double] = {
    val samples = math.min(nSamples, mSamples)
    if (samples < 35) None
    else {
      val en = math.round(
        nSamples.toDouble * mSamples.toDouble / (nSamples + mSamples).toDouble)
      Some(Kolmogorov.sf(en, d))
    }
  }

  /** Shared kernel for the integral two-sample statistics (Cramér–von
    * Mises here, Wasserstein-1 in [[Drift]]): both samples reduced to one
    * distinct-value frame on the SCALED-INTEGER axis
    * `dj_v = round(value·scale)` with per-sample counts and running counts
    * — (dj_v, dj_cnt1, dj_cnt2, dj_run1, dj_run2) — plus both sample
    * sizes. Same fused union-tag plan as [[crossCdfWithCounts]] (one
    * shuffle, bucketed prefix sums, no unpartitioned window), but the
    * running counts stay EXACT integers: the statistics built on top
    * multiply them with integer sample sizes and sum as decimals, so the
    * results are partitioning-independent and bit-reproducible
    * cross-engine. NULL values are excluded (these are drift statistics
    * over observed values, not the reference's cume_dist parity path —
    * that one keeps NULLs and lives in [[crossCdfWithCounts]]).
    */
  private[graft] def crossRunningCounts(
      a: DataFrame,
      b: DataFrame,
      valueCol: String,
      scale: Long): (DataFrame, Long, Long) = {
    require(scale >= 1L, s"scale must be >= 1: $scale")
    def side(df: DataFrame, first: Boolean) = df
      .where(col(valueCol).isNotNull)
      .select(
        round(col(valueCol) * scale).cast("long").as("dj_v"),
        lit(if (first) 1L else 0L).as("dj_w1"),
        lit(if (first) 0L else 1L).as("dj_w2"))
    // eager registry-tracked checkpoint (the cdfSelection posture): the
    // bucket scheme's boundary job, per-bucket-totals collect, and the
    // caller's final aggregate would otherwise each re-run the base scans
    // + union + shuffle
    val counts = graft.core.Blocks.checkpointLazy(
      side(a, first = true)
        .unionAll(side(b, first = false))
        .groupBy("dj_v")
        .agg(sum(col("dj_w1")).as("dj_cnt1"), sum(col("dj_w2")).as("dj_cnt2")))
    val (running, totals) = CumSum.withRunningSums(
      counts, "dj_v", Seq("dj_cnt1", "dj_cnt2"), Seq("dj_run1", "dj_run2"))
    (running, totals(0), totals(1))
  }

  /** [[crossRunningCounts]] with each row's successor value (`dj_next`)
    * and the exact scaled-axis span fused into the same bucket pass
    * ([[CumSum.withRunningSumsNext]]) — the area statistics (W1, drift
    * report) consumed three extra jobs per column re-deriving them.
    * Returns (running frame incl. dj_next, n, m, Some((minV, maxV)) when
    * non-empty). Values identical to the unfused pair by construction.
    */
  private[graft] def crossRunningCountsNext(
      a: DataFrame,
      b: DataFrame,
      valueCol: String,
      scale: Long): (DataFrame, Long, Long, Option[(Long, Long)]) = {
    require(scale >= 1L, s"scale must be >= 1: $scale")
    def side(df: DataFrame, first: Boolean) = df
      .where(col(valueCol).isNotNull)
      .select(
        round(col(valueCol) * scale).cast("long").as("dj_v"),
        lit(if (first) 1L else 0L).as("dj_w1"),
        lit(if (first) 0L else 1L).as("dj_w2"))
    val counts = graft.core.Blocks.checkpointLazy(
      side(a, first = true)
        .unionAll(side(b, first = false))
        .groupBy("dj_v")
        .agg(sum(col("dj_w1")).as("dj_cnt1"), sum(col("dj_w2")).as("dj_cnt2")))
    val rn = CumSum.withRunningSumsNext(
      counts, "dj_v", Seq("dj_cnt1", "dj_cnt2"), Seq("dj_run1", "dj_run2"),
      "dj_next")
    val span = (rn.minOrder, rn.maxOrder) match {
      case (Some(lo: java.lang.Long), Some(hi: java.lang.Long)) =>
        Some((lo.longValue(), hi.longValue()))
      case _ => None
    }
    (rn.frame, rn.totals(0), rn.totals(1), span)
  }

  /** Two-sample Cramér–von Mises statistic — the L² companion of the KS
    * D (KS sees only the single worst CDF gap; CvM integrates every gap,
    * so a distribution that drifts a little everywhere registers):
    * T = nm/(n+m)² · Σ_z (F₁(z) − F₂(z))² over the pooled observations z
    * (with multiplicity). Computed EXACTLY over the distinct-value frame:
    * (F₁−F₂) at value v is (r₁·m − r₂·n)/(n·m) with integer running
    * counts r, so
    * T = Σ (cnt₁+cnt₂)·(r₁·m − r₂·n)² / ((n+m)²·n·m),
    * an integer sum divided once in a fixed double shape. Decimal
    * headroom: |r₁·m − r₂·n| ≤ n·m in the worst case, so the SUMMED
    * statistic needs (n·m)²·(n+m) ≤ 10³⁸ — that fails near ~3·10⁷ rows
    * per side, and past it a decimal overflow under non-ANSI arithmetic
    * becomes NULL and `sum()` silently DROPS the term (understating T
    * instead of erroring). The sizes are known on the driver before the
    * statistic runs, so the guard below fails loudly at the boundary;
    * samples that big should be subsampled or scaled down first. One
    * shuffle + bucketed prefix sums; out: one row (n_a, n_b, cvm_t),
    * NULL statistic when either sample is empty.
    */
  def cvm2Sample(
      a: DataFrame,
      b: DataFrame,
      valueCol: String,
      scale: Long = 1L): DataFrame = {
    val (running, n, m) = crossRunningCounts(a, b, valueCol, scale)
    require(
      (BigInt(n) * BigInt(m)).pow(2) * BigInt(n + m) <= BigInt(10).pow(38),
      s"cvm2Sample decimal headroom exceeded at n=$n, m=$m " +
        "((n*m)^2*(n+m) > 1e38): a silent decimal overflow would understate " +
        "the statistic — subsample either side below ~3e7 rows")
    val spark = a.sparkSession
    if (n == 0L || m == 0L)
      return spark.range(1).select(
        lit(n).as("n_a"), lit(m).as("n_b"),
        lit(null).cast("double").as("cvm_t"))
    val d = col("dj_run1").cast("decimal(19,0)") * lit(m).cast("decimal(19,0)") -
      col("dj_run2").cast("decimal(19,0)") * lit(n).cast("decimal(19,0)")
    val term = (col("dj_cnt1") + col("dj_cnt2")).cast("decimal(19,0)") * (d * d)
    // denominator in a FIXED left-associated double shape the oracle
    // spells identically: ((n+m)·(n+m))·n·m
    val denom =
      (n + m).toDouble * (n + m).toDouble * n.toDouble * m.toDouble
    running
      .agg(sum(term).as("dj_u"))
      .select(
        lit(n).as("n_a"),
        lit(m).as("n_b"),
        (col("dj_u").cast("double") / lit(denom)).as("cvm_t"))
  }

  /** Per-group two-sample KS drift — "which sources/segments drifted":
    * the D statistic of `valueCol` between the two snapshots computed
    * independently WITHIN each `keyCol` group, in one pass. The
    * production shape of drift monitoring (a whole-table KS averages a
    * localized drift away; per-domain/per-day keys surface it).
    *
    * Exact arithmetic: per key with sample sizes n, m and integer
    * running counts r₁/r₂ over the scaled value axis,
    * D = max|r₁·m − r₂·n| / (n·m) — the max over exact integers, one
    * double division per key. Plan: one union-tag shuffle to
    * (key, value) class counts, then ONE per-key sort carrying the
    * running-sum and group-total windows (same partitioning → one
    * Exchange+Sort, the [[groupPercentiles]] posture; keys distribute
    * across the cluster, a hot key costs its own d log d sort). NULL
    * values and NULL keys are excluded. Out: one row per key
    * (keyCol, n_a, n_b, ks_d); ks_d NULL when the key is absent from
    * either snapshot.
    */
  def ksByGroup(
      a: DataFrame,
      b: DataFrame,
      valueCol: String,
      keyCol: String,
      scale: Long = 1L): DataFrame = {
    require(scale >= 1L, s"scale must be >= 1: $scale")
    def side(df: DataFrame, first: Boolean) = df
      .where(col(valueCol).isNotNull && col(keyCol).isNotNull)
      .select(
        col(keyCol).as("dj_k"),
        round(col(valueCol) * scale).cast("long").as("dj_v"),
        lit(if (first) 1L else 0L).as("dj_w1"),
        lit(if (first) 0L else 1L).as("dj_w2"))
    val counts = side(a, first = true)
      .unionAll(side(b, first = false))
      .groupBy("dj_k", "dj_v")
      .agg(sum(col("dj_w1")).as("dj_cnt1"), sum(col("dj_w2")).as("dj_cnt2"))
    val wRun = Window.partitionBy(col("dj_k")).orderBy(col("dj_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("dj_k"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = counts
      .withColumn("dj_r1", sum(col("dj_cnt1")).over(wRun))
      .withColumn("dj_r2", sum(col("dj_cnt2")).over(wRun))
      .withColumn("dj_n", sum(col("dj_cnt1")).over(wAll))
      .withColumn("dj_m", sum(col("dj_cnt2")).over(wAll))
    val num = abs(
      col("dj_r1").cast("decimal(19,0)") * col("dj_m").cast("decimal(19,0)") -
        col("dj_r2").cast("decimal(19,0)") * col("dj_n").cast("decimal(19,0)"))
    ranked
      .groupBy(col("dj_k"))
      .agg(
        max(col("dj_n")).as("dj_na"),
        max(col("dj_m")).as("dj_nb"),
        max(num).as("dj_num"))
      .select(
        col("dj_k").as(keyCol),
        col("dj_na").as("n_a"),
        col("dj_nb").as("n_b"),
        when(col("dj_na") > 0 && col("dj_nb") > 0,
          col("dj_num").cast("double") /
            (col("dj_na").cast("double") * col("dj_nb").cast("double")))
          .as("ks_d"))
  }

  /** Pairwise Pearson correlation matrix over several numeric columns in
    * ONE aggregate pass — the profiling step before anyone trusts a
    * score: per pair, pairwise-complete (rows where BOTH are non-NULL)
    * exact integer power sums ([[pearsonExact]] arithmetic, each column
    * lifted by its own fixed-point `scale`), with the final closed form
    * evaluated in the identical double shape. k columns cost one scan
    * with 6·k(k−1)/2 partial-aggregated expressions; the result pivot is
    * driver-side over a single row. Out: one row per unordered pair
    * (col_x, col_y, n, pearson_r), NULL r when a pair has < 2 complete
    * rows or a degenerate variance.
    */
  def correlationMatrix(
      df: DataFrame,
      columns: Seq[(String, Long)]): DataFrame = {
    require(columns.size >= 2, "need at least two columns")
    require(columns.map(_._1).distinct.size == columns.size,
      s"duplicate columns: ${columns.map(_._1)}")
    val pairs = for {
      i <- columns.indices
      j <- columns.indices if j > i
    } yield (columns(i)._1, columns(j)._1)
    val spark = df.sparkSession
    // strategy pre-pass (r14, guide §1.2/§4): the decimal(38,0) power sums
    // ran every row through non-compact BigDecimal aggregation buffers
    // (38-digit sums never fit Spark's compact-long decimal). When the
    // scaled values fit |v| ≤ 3e9 — so every pairwise product fits a LONG
    // — and n ≤ 1e12, the sums run as pure codegen long arithmetic
    // instead: each product splits into three 21-bit tiers
    // (t = (t>>42)<<42 + ((t>>21)&M)<<21 + (t&M), exact two's-complement
    // identity), each tier sums without overflow (≤ n·2²¹ ≤ 2⁶² at 1e12
    // rows), and the driver reassembles the exact integers. Identical
    // output by construction — the same exact power sums enter the same
    // closed-form double shape; out-of-range data falls back to the
    // decimal path unchanged.
    val boundsAggs = count(lit(1)) +:
      columns.map { case (c, sc) => max(abs(col(c).cast("double") * sc)) }
    val boundsRow = df.agg(boundsAggs.head, boundsAggs.tail: _*).head()
    val nTotal = boundsRow.getLong(0)
    val longSafe = nTotal <= 1000000000000L &&
      columns.indices.forall { i =>
        boundsRow.isNullAt(i + 1) || boundsRow.getDouble(i + 1) <= 3.0e9
      }
    val out =
      if (longSafe) {
        val scaled = columns.map { case (c, sc) =>
          round(col(c) * sc).cast("long").as(s"dj_$c")
        }
        val base = df.select(scaled: _*)
        val M = lit((1L << 21) - 1)
        def tiers(t: Column, tag: String, both: Column) = Seq(
          sum(when(both, shiftright(t, 42))).as(s"${tag}_hi"),
          sum(when(both, shiftright(t, 21).bitwiseAND(M))).as(s"${tag}_mid"),
          sum(when(both, t.bitwiseAND(M))).as(s"${tag}_lo"))
        val aggs = pairs.zipWithIndex.flatMap { case ((cx, cy), p) =>
          val x = col(s"dj_$cx"); val y = col(s"dj_$cy")
          val both = x.isNotNull && y.isNotNull
          count(when(both, 1)).as(s"dj_n_$p") +:
            (tiers(x, s"dj_sx_$p", both) ++ tiers(y, s"dj_sy_$p", both) ++
              tiers(x * x, s"dj_sxx_$p", both) ++
              tiers(y * y, s"dj_syy_$p", both) ++
              tiers(x * y, s"dj_sxy_$p", both))
        }
        val row = base.agg(aggs.head, aggs.tail: _*).head()
        def dec(tag: String): BigDecimal = {
          val hi = BigDecimal(row.getAs[Long](s"${tag}_hi"))
          val mid = BigDecimal(row.getAs[Long](s"${tag}_mid"))
          val lo = BigDecimal(row.getAs[Long](s"${tag}_lo"))
          hi * BigDecimal(1L << 42) + mid * BigDecimal(1L << 21) + lo
        }
        pairs.zipWithIndex.map { case ((cx, cy), p) =>
          val n = row.getAs[Long](s"dj_n_$p")
          val r: java.lang.Double =
            if (n < 2) null
            else {
              val nd = BigDecimal(n)
              val (sx, sy) = (dec(s"dj_sx_$p"), dec(s"dj_sy_$p"))
              // exact integer power sums into the IDENTICAL double shape
              // as the decimal path / the SQL oracle
              val num = (nd * dec(s"dj_sxy_$p") - sx * sy).toDouble
              val dx = (nd * dec(s"dj_sxx_$p") - sx * sx).toDouble
              val dy = (nd * dec(s"dj_syy_$p") - sy * sy).toDouble
              if (dx <= 0.0 || dy <= 0.0) null
              else java.lang.Double.valueOf(num / (math.sqrt(dx) * math.sqrt(dy)))
            }
          org.apache.spark.sql.Row(cx, cy, n, r)
        }
      } else {
        val scaled = columns.map { case (c, sc) =>
          round(col(c) * sc).cast("decimal(38,0)").as(s"dj_$c")
        }
        val base = df.select(scaled: _*)
        val aggs = pairs.zipWithIndex.flatMap { case ((cx, cy), p) =>
          val x = col(s"dj_$cx"); val y = col(s"dj_$cy")
          val both = x.isNotNull && y.isNotNull
          Seq(
            count(when(both, 1)).as(s"dj_n_$p"),
            sum(when(both, x)).as(s"dj_sx_$p"),
            sum(when(both, y)).as(s"dj_sy_$p"),
            sum(when(both, x * x)).as(s"dj_sxx_$p"),
            sum(when(both, y * y)).as(s"dj_syy_$p"),
            sum(when(both, x * y)).as(s"dj_sxy_$p"))
        }
        val row = base.agg(aggs.head, aggs.tail: _*).head()
        pairs.zipWithIndex.map { case ((cx, cy), p) =>
          val n = row.getAs[Long](s"dj_n_$p")
          val r: java.lang.Double =
            if (n < 2) null
            else {
              def dec(name: String) =
                BigDecimal(row.getAs[java.math.BigDecimal](name))
              val nd = BigDecimal(n)
              val (sx, sy) = (dec(s"dj_sx_$p"), dec(s"dj_sy_$p"))
              // exact decimal products cast to double LAST — the same shape
              // as pearsonExact's in-plan expression and the SQL oracle
              val num = (nd * dec(s"dj_sxy_$p") - sx * sy).toDouble
              val dx = (nd * dec(s"dj_sxx_$p") - sx * sx).toDouble
              val dy = (nd * dec(s"dj_syy_$p") - sy * sy).toDouble
              if (dx <= 0.0 || dy <= 0.0) null
              else java.lang.Double.valueOf(num / (math.sqrt(dx) * math.sqrt(dy)))
            }
          org.apache.spark.sql.Row(cx, cy, n, r)
        }
      }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "col_x", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField(
          "col_y", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField(
          "n", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "pearson_r", org.apache.spark.sql.types.DoubleType))))
  }

  /** Exact ROC AUC of a score column against a binary outcome — the
    * Mann–Whitney U form with midrank tie handling:
    * AUC = P(s⁺ > s⁻) + ½·P(s⁺ = s⁻). The number a model-based curation
    * pipeline must report next to its classifier ([[Classifier]]) scores:
    * "the quality score separates good from bad documents with AUC x".
    *
    * Computed EXACTLY on the scaled-integer score axis: per distinct
    * value v with c⁺/c⁻ class counts and running negative count r⁻,
    * 2U = Σ c⁺·(2·r⁻ − c⁻) (each positive at v beats the r⁻ − c⁻
    * negatives strictly below and half-ties the c⁻ at v), an integer sum
    * divided once as 2U / (2·n⁺·n⁻) in a fixed double shape. Same
    * union-free one-shuffle plan as [[crossRunningCounts]]: distinct-
    * value class counts, bucketed prefix sums, no unpartitioned window.
    *
    * `positive` must evaluate non-NULL true/false; NULL evaluates to the
    * negative class (when/otherwise semantics). NULL scores are excluded.
    * Out: one row (n_pos, n_neg, auc); auc NULL when either class is
    * empty (no ranking to measure).
    */
  def aucExact(
      df: DataFrame,
      scoreCol: String,
      positive: org.apache.spark.sql.Column,
      scale: Long = 1L): DataFrame = {
    require(scale >= 1L, s"scale must be >= 1: $scale")
    // LAZY checkpoint (r15): the boundary-estimation job is the sole
    // first consumer; the later jobs read the cached blocks — same
    // no-rescan guarantee, one fewer dedicated pass
    val counts = graft.core.Blocks.checkpointLazy(
      df
        .where(col(scoreCol).isNotNull)
        .select(
          round(col(scoreCol) * scale).cast("long").as("dj_v"),
          when(positive, 1L).otherwise(0L).as("dj_w1"),
          when(positive, 0L).otherwise(1L).as("dj_w2"))
        .groupBy("dj_v")
        .agg(sum(col("dj_w1")).as("dj_cnt1"), sum(col("dj_w2")).as("dj_cnt2")))
    val (running, totals) = CumSum.withRunningSums(
      counts, "dj_v", Seq("dj_cnt1", "dj_cnt2"), Seq("dj_run1", "dj_run2"))
    val (nPos, nNeg) = (totals(0), totals(1))
    val spark = df.sparkSession
    if (nPos == 0L || nNeg == 0L)
      return spark.range(1).select(
        lit(nPos).as("n_pos"), lit(nNeg).as("n_neg"),
        lit(null).cast("double").as("auc"))
    val term = col("dj_cnt1").cast("decimal(19,0)") *
      (col("dj_run2") * 2 - col("dj_cnt2")).cast("decimal(19,0)")
    // fixed left-associated double denominator the oracle spells
    // identically: (2·n⁺)·n⁻
    val denom = 2.0 * nPos.toDouble * nNeg.toDouble
    running
      .agg(sum(term).as("dj_u2"))
      .select(
        lit(nPos).as("n_pos"),
        lit(nNeg).as("n_neg"),
        (col("dj_u2").cast("double") / lit(denom)).as("auc"))
  }

  /** Exact per-group discrete percentiles (the group-wise flavor of
    * `Ops.getPercentile`): for each `groupCol` value and each integer
    * percent p, the smallest value whose within-group cumulative count
    * reaches ⌈p% · n⌉ — `quantile_disc` semantics, chosen over
    * interpolation because the result is a VALUE FROM THE DATA (no float
    * arithmetic to diverge across engines).
    *
    * Plan: distinct-value counts (partial-agg shuffle on (group, value)),
    * then ONE per-group sort carrying both windows (running sum + group
    * total — same partitioning, Spark plans a single Exchange+Sort), then
    * a per-group aggregate. The rank comparison is the integer cross-
    * product form (`cum·100 ≥ total·p`) — no double percentage ever
    * multiplies a count. No unpartitioned window: a group's values sort
    * within the group's partition only, so 10^4 groups × 10^8 values
    * spread across the cluster.
    */
  def groupPercentiles(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      percents: Seq[Int]): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      s"percents must be integers in [1,100]: $percents")
    val counts = df
      .where(col(valueCol).isNotNull)
      .groupBy(col(groupCol), col(valueCol).as("dj_v"))
      .agg(count(lit(1)).as("dj_cnt"))
    val wRun = Window.partitionBy(col(groupCol)).orderBy(col("dj_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(groupCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = counts
      .withColumn("dj_cum", sum(col("dj_cnt")).over(wRun))
      .withColumn("dj_total", sum(col("dj_cnt")).over(wAll))
    val aggs = percents.map { p =>
      min(when(col("dj_cum") * 100 >= col("dj_total") * p, col("dj_v")))
        .as(s"p$p")
    }
    ranked.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Equi-width histogram with EXPLICIT bounds (so bucket edges are pure
    * arithmetic both engines reproduce — a data-derived min/max would work
    * too, at the cost of one extra count-first aggregate): `nBuckets`
    * buckets over [lo, hi), out-of-range values clamped into the edge
    * buckets (profiling convention: nothing silently dropped). One
    * partial-agg shuffle of ≤ nBuckets rows.
    */
  def histogram(
      df: DataFrame,
      valueCol: String,
      lo: Double,
      hi: Double,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 1 && hi > lo, s"bad histogram: [$lo,$hi) x $nBuckets")
    val idx = floor((col(valueCol) - lo) * nBuckets / (hi - lo)).cast("long")
    val clamped = least(greatest(idx, lit(0L)), lit(nBuckets - 1L))
    df.where(col(valueCol).isNotNull)
      .groupBy(clamped.as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Pearson correlation with EXACT cross-engine arithmetic: the five sums
    * accumulate as integer-scaled DECIMALs (`scaleX`/`scaleY` lift
    * fixed-point data to integers), so
    * r = (n·Σxy − Σx·Σy) / (√(n·Σx² − (Σx)²) · √(n·Σy² − (Σy)²))
    * evaluates as identical IEEE ops on identical exact inputs — no
    * partial-aggregation-order float drift (the same posture as
    * `Integrity.zOutliers`). One aggregate, one row out.
    */
  def pearsonExact(
      df: DataFrame,
      xCol: String,
      yCol: String,
      scaleX: Long = 1L,
      scaleY: Long = 1L): DataFrame = {
    val x = round(col(xCol) * scaleX).cast("decimal(38,0)")
    val y = round(col(yCol) * scaleY).cast("decimal(38,0)")
    val base = df
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(x.as("dj_x"), y.as("dj_y"))
    base
      .agg(
        count(lit(1)).cast("decimal(38,0)").as("dj_n"),
        sum(col("dj_x")).as("dj_sx"),
        sum(col("dj_y")).as("dj_sy"),
        sum(col("dj_x") * col("dj_x")).as("dj_sxx"),
        sum(col("dj_y") * col("dj_y")).as("dj_syy"),
        sum(col("dj_x") * col("dj_y")).as("dj_sxy"))
      .select(
        col("dj_n").cast("long").as("n"),
        ((col("dj_n") * col("dj_sxy") - col("dj_sx") * col("dj_sy")).cast("double") /
          (sqrt((col("dj_n") * col("dj_sxx") - col("dj_sx") * col("dj_sx")).cast("double")) *
            sqrt((col("dj_n") * col("dj_syy") - col("dj_sy") * col("dj_sy")).cast("double"))))
          .as("pearson_r"))
  }

  /** Exact distributed moments profile — count, mean, population
    * variance, skewness (g₁ = m₃/m₂^{3/2}) and excess kurtosis
    * (g₂ = m₄/m₂² − 3) per group (pass `groupCols = Nil` for the global
    * row), from EXACT integer power sums like [[pearsonExact]]: values are
    * scaled (`round(x·scale)`), summed as `DECIMAL(38,0)` (associative —
    * partitioning-independent), and only the FINAL closed-form central-
    * moment formulas run in double, in a fixed expression shape both
    * engines evaluate identically on identical inputs. No two-pass
    * mean-then-deviations scan, no fold-order-dependent float sums.
    *
    * Central moments from raw sums (scaled units; scale cancels in g₁/g₂):
    * m₂ = (n·S₂ − S₁²)/n², m₃ = (n²·S₃ − 3n·S₁·S₂ + 2S₁³)/n³,
    * m₄ = (n³·S₄ − 4n²·S₁·S₃ + 6n·S₁²·S₂ − 3S₁⁴)/n⁴.
    *
    * Sizing: with e = round(x·scale), Σe⁴ must fit the caller's accuracy
    * budget — exact to 2⁵³ after the decimal→double cast, which covers
    * |e| ≤ 50 up to ~10⁹ rows; larger domains trade ulps, never
    * correctness of the exact decimal sums themselves. One hash aggregate,
    * map-side partials; degenerate groups (n < 2 or zero variance) emit
    * NULL skewness/kurtosis rather than NaN.
    */
  def momentsExact(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String] = Nil,
      scale: Long = 1L): DataFrame = {
    val e = round(col(valueCol) * scale).cast("decimal(38,0)")
    val base = df.where(col(valueCol).isNotNull).withColumn("dj_e", e)
    val grouped =
      if (groupCols.isEmpty) base.groupBy()
      else base.groupBy(groupCols.map(col): _*)
    val agged = grouped.agg(
      count(lit(1)).as("dj_nl"),
      sum(col("dj_e")).as("dj_s1"),
      sum(col("dj_e") * col("dj_e")).as("dj_s2d"),
      sum((col("dj_e") * col("dj_e")).cast("decimal(38,0)") * col("dj_e"))
        .as("dj_s3d"),
      sum(((col("dj_e") * col("dj_e")).cast("decimal(38,0)") *
        (col("dj_e") * col("dj_e")).cast("decimal(38,0)")).cast("decimal(38,0)"))
        .as("dj_s4d"))
    val n = col("dj_nl").cast("double")
    val s1 = col("dj_s1").cast("double")
    val s2 = col("dj_s2d").cast("double")
    val s3 = col("dj_s3d").cast("double")
    val s4 = col("dj_s4d").cast("double")
    val sc = lit(scale.toDouble)
    val m2 = (n * s2 - s1 * s1) / (n * n)
    val m3 = (n * n * s3 - lit(3.0) * n * s1 * s2 + lit(2.0) * s1 * s1 * s1) /
      (n * n * n)
    val m4 = (n * n * n * s4 - lit(4.0) * n * n * s1 * s3 +
      lit(6.0) * n * s1 * s1 * s2 - lit(3.0) * s1 * s1 * s1 * s1) /
      (n * n * n * n)
    val ok = col("dj_nl") >= 2 && m2 > 0.0
    agged.select(
      groupCols.map(col) ++ Seq(
        col("dj_nl").as("n"),
        (s1 / n / sc).as("mean"),
        (m2 / (sc * sc)).as("variance_pop"),
        when(ok, m3 / (m2 * sqrt(m2))).as("skewness"),
        when(ok, m4 / (m2 * m2) - lit(3.0)).as("kurtosis_excess")): _*)
  }

  /** Per-group proportion with a Wilson score interval (Wilson 1927 — the
    * interval that stays honest at small n and extreme p, unlike the Wald
    * ±z·√(p(1−p)/n)): for a boolean `valueCol`, each group's
    * p̂ = k/n and [ci_lo, ci_hi] at confidence z. The monitoring primitive
    * for filter/keep rates — "did source X's Gopher pass-rate move outside
    * its interval" is a Wilson comparison, not a raw-share comparison,
    * when per-group row counts differ by orders of magnitude.
    *
    * NULL values carry no evidence and are excluded from n. All arithmetic
    * downstream of the exact integer (k, n) aggregate is plain double with
    * a fixed operand order, so results are engine-reproducible (the gate
    * oracle re-derives them in SQL); one map-side-partial aggregate, no
    * shuffle beyond it.
    */
  def proportionCI(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String] = Nil,
      z: Double = 1.959963984540054): DataFrame = {
    require(z > 0, s"z must be positive: $z")
    val base = df.where(col(valueCol).isNotNull)
    val grouped =
      if (groupCols.isEmpty) base.groupBy()
      else base.groupBy(groupCols.map(col): _*)
    val agged = grouped.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col(valueCol).cast("boolean"), 1L).otherwise(0L)).as("n_true"))
    val n = col("n_rows").cast("double")
    val k = col("n_true").cast("double")
    val z2 = lit(z * z)
    val phat = k / n
    val denom = lit(1.0) + z2 / n
    val center = phat + z2 / (lit(2.0) * n)
    val half = lit(z) * sqrt(
      phat * (lit(1.0) - phat) / n + z2 / (lit(4.0) * n * n))
    // zero-evidence guard: with groupCols empty an empty (or all-NULL)
    // input still aggregates to ONE row with n_rows = 0, and 0/0 would
    // emit NaN — which Spark orders ABOVE every real number, so a
    // min-lower-bound comparison passes vacuously by accident and NaN
    // leaks to downstream consumers. No evidence → NULL, loudly.
    val hasRows = col("n_rows") > 0
    agged.select(
      groupCols.map(col) ++ Seq(
        col("n_rows"),
        col("n_true"),
        when(hasRows, round(phat, 6)).as("p_hat"),
        when(hasRows, round((center - half) / denom, 6)).as("ci_lo"),
        when(hasRows, round((center + half) / denom, 6)).as("ci_hi")): _*)
  }

  /** Approximate p-value (Fachinetti 2009; reference
    * `constraints/stats.py:25-54`'s no-scipy fallback): 2·exp(−(D·√min(n,m))²),
    * clamped to [0,1]; None below 35 samples (approximation inaccurate).
    */
  def ksApproxPValue(d: Double, nSamples: Long, mSamples: Long): Option[Double] = {
    val samples = math.min(nSamples, mSamples)
    if (samples < 35) None
    else {
      val dAlpha = d * math.sqrt(samples.toDouble)
      val p      = 2.0 * math.exp(-(dAlpha * dAlpha))
      Some(math.max(0.0, math.min(1.0, p)))
    }
  }

  /** Robust trimmed and winsorized mean — the location estimate a corpus
    * metric should gate on when heavy tails are expected (a handful of
    * 100 MB documents must not move "mean document length"): drop (trim)
    * or clamp (winsorize) the bottom/top ⌊trimFraction·n⌋ observations by
    * EXACT rank and average the rest.
    *
    * Plan: the distinct-value + bucketed-prefix-sum scheme ([[CumSum]]) —
    * per distinct scaled value v with count c and running count r, the
    * kept multiplicity is the overlap of (r−c, r] with (k, n−k], an exact
    * integer; kept·v sums as decimals, ONE division at the end. No
    * unpartitioned window, no data-sized sort — the same posture as
    * [[graft.ops.Ops.getPercentile]]. Out: EXACTLY one row (n,
    * n_trimmed_each_side, trimmed_mean, winsorized_mean, lo_cut, hi_cut);
    * NULL means when the trim swallows everything or the input is empty.
    */
  def trimmedMean(
      df: DataFrame,
      valueCol: String,
      trimFraction: Double = 0.05,
      scale: Long = 1000000L): DataFrame = {
    require(trimFraction >= 0 && trimFraction < 0.5,
      s"trimFraction must be in [0, 0.5): $trimFraction")
    require(scale >= 1, s"scale must be >= 1: $scale")
    val spark = df.sparkSession
    val counts = graft.core.Blocks.checkpointLazy(
      df.where(col(valueCol).isNotNull)
        .select(round(col(valueCol) * scale).cast("long").as("dj_v"))
        .groupBy("dj_v")
        .agg(count(lit(1)).as("dj_cnt")))
    val (running, totals) =
      CumSum.withRunningSums(counts, "dj_v", Seq("dj_cnt"), Seq("dj_run"))
    val n = totals.head
    val k = (trimFraction * n).toLong
    if (n == 0L || n - 2 * k <= 0L)
      return spark.range(1).select(
        lit(n).as("n"),
        lit(k).as("n_trimmed_each_side"),
        lit(null).cast("double").as("trimmed_mean"),
        lit(null).cast("double").as("winsorized_mean"),
        lit(null).cast("double").as("lo_cut"),
        lit(null).cast("double").as("hi_cut"))
    val hi = n - k
    val kept = greatest(
      lit(0L),
      least(col("dj_run"), lit(hi)) - greatest(col("dj_run") - col("dj_cnt"), lit(k)))
    val agged = running.agg(
      sum(kept.cast("decimal(19,0)") * col("dj_v").cast("decimal(19,0)"))
        .as("dj_s"),
      // cut values by exact rank: lowest kept rank k+1, highest kept rank n-k
      min(when(col("dj_run") >= k + 1, col("dj_v"))).as("dj_lo"),
      min(when(col("dj_run") >= hi, col("dj_v"))).as("dj_hi"))
    agged.select(
      lit(n).as("n"),
      lit(k).as("n_trimmed_each_side"),
      (col("dj_s").cast("double") / lit((n - 2 * k).toDouble) / lit(scale.toDouble))
        .as("trimmed_mean"),
      // winsorize: the trimmed tails re-enter CLAMPED to the cut values
      ((col("dj_s").cast("double")
        + lit(k.toDouble) * col("dj_lo").cast("double")
        + lit(k.toDouble) * col("dj_hi").cast("double"))
        / lit(n.toDouble) / lit(scale.toDouble)).as("winsorized_mean"),
      (col("dj_lo").cast("double") / lit(scale.toDouble)).as("lo_cut"),
      (col("dj_hi").cast("double") / lit(scale.toDouble)).as("hi_cut"))
  }

  /** Corpus concentration profile over a weight per group — "is the
    * training mix dominated by a few domains": exact Gini coefficient
    * (rank-weighted form G = 2·Σᵢ i·wᵢ/(g·Σw) − (g+1)/g over weights
    * sorted ascending), Herfindahl–Hirschman index Σ(wᵢ/Σw)², and the
    * top group's share, in one pass.
    *
    * Plan: per-key totals (map-side combined), a BUCKETED global rank
    * ([[CumSum.withGlobalRank]] — no unpartitioned window even at many
    * millions of groups), exact decimal rank·w and w² sums, divisions
    * once at the end. Negative weights make Gini meaningless — they are
    * counted out loudly in `n_negative` and the statistics are NULL when
    * any exist. Out: EXACTLY one row (n_groups, total_weight, gini, hhi,
    * top_share, n_negative); NULL statistics on empty input.
    */
  def concentrationProfile(
      df: DataFrame,
      keyCol: String,
      weightCol: String,
      weightScale: Long = 1L): DataFrame = {
    require(weightScale >= 1, s"weightScale must be >= 1: $weightScale")
    // weights enter the exact-decimal rank/HHI sums as integers: a
    // FRACTIONAL weight column (probabilities, fractions of a corpus)
    // must be scaled up (`weightScale`, the trimmedMean `scale`
    // convention) or every sub-0.5 row rounds to 0 and the profile
    // degenerates silently — total_weight is reported back in the
    // column's own units (divided by the scale)
    // loud magnitude guard (the requireW1Headroom posture): a scaled
    // weight past decimal(19,0) would go NULL under non-ANSI arithmetic
    // and sum() would silently DROP the row — partial mass, no error.
    // 9e18 is conservatively inside the 19-digit range.
    // the guard product is evaluated in DOUBLE: in the column's native type
    // a LONG weight would WRAP under non-ANSI semantics (w=1e18·scale=100
    // goes negative) and a DECIMAL would go NULL — either way the >= 9e18
    // predicate is false/null and the guard passes on exactly the overflow
    // it exists to catch
    val tooBig = df
      .where(col(weightCol).isNotNull &&
        abs(col(weightCol).cast("double")) * weightScale >= lit(9.0e18))
      .head(1)
    require(tooBig.isEmpty,
      s"concentrationProfile: |$weightCol|·weightScale ≥ 9e18 (e.g. " +
        s"${tooBig.headOption.map(_.getAs[Any](weightCol)).getOrElse("")}) — " +
        s"past decimal(19,0) a silent overflow would drop mass; reduce " +
        s"weightScale (current: $weightScale) or rescale the column")
    val perKey = graft.core.Blocks.checkpointLazy(
      df.where(col(weightCol).isNotNull)
        .groupBy(col(keyCol).as("dj_k"))
        .agg(sum(round(col(weightCol) * weightScale, 0).cast("decimal(19,0)"))
          .as("dj_w")))
    val ranked = CumSum.withGlobalRank(
      perKey.withColumn("dj_wd", col("dj_w").cast("double")),
      "dj_wd", "dj_rank", tieCols = Seq("dj_k"))
    val agged = ranked.agg(
      count(lit(1)).as("dj_g"),
      sum(col("dj_w")).as("dj_tw"),
      sum(col("dj_rank").cast("decimal(10,0)") * col("dj_w").cast("decimal(19,0)"))
        .as("dj_rw"),
      sum(col("dj_w") * col("dj_w")).as("dj_w2"),
      max(col("dj_w")).as("dj_max"),
      sum(when(col("dj_w") < 0, 1L).otherwise(0L)).as("dj_neg"))
    val g = col("dj_g").cast("double")
    val tw = col("dj_tw").cast("double")
    val okStats = col("dj_g") > 0 && col("dj_neg") === 0 && col("dj_tw") > 0
    agged.select(
      col("dj_g").as("n_groups"),
      // back in the weight column's own units; gini/hhi/top_share are
      // scale-free ratios — the scale cancels exactly
      (tw / lit(weightScale.toDouble)).as("total_weight"),
      when(okStats,
        lit(2.0) * col("dj_rw").cast("double") / (g * tw) - (g + lit(1.0)) / g)
        .as("gini"),
      when(okStats, col("dj_w2").cast("double") / (tw * tw)).as("hhi"),
      when(okStats, col("dj_max").cast("double") / tw).as("top_share"),
      coalesce(col("dj_neg"), lit(0L)).as("n_negative"))
  }

  /** Cohen's kappa (Cohen 1960) between two CATEGORICAL columns — the
    * chance-corrected agreement a labeling pipeline gates on when two
    * annotators / model versions / heuristic rules label the same rows:
    * κ = (p_o − p_e)/(1 − p_e) with p_o the observed agreement and p_e the
    * marginal-product chance agreement. Raw agreement flatters skewed
    * label distributions (two constant labelers "agree" 100%); κ is 0 at
    * chance, 1 at perfect, NULL when p_e = 1 (both sides constant on the
    * same label — agreement carries no information) or the input is
    * empty. NULL is a real category ("<null>", the [[Drift.chiSquareDrift]]
    * convention).
    *
    * Plan: ONE base aggregate to the joint (a, b, count) table; marginals
    * and totals re-aggregate the joint; p_e's numerator is an exact
    * decimal Σ rowmarg·colmarg over the shared categories. All divisions
    * happen once, in fixed double shapes the SQL oracle spells
    * identically. Out: EXACTLY one row
    * (n, n_categories_a, n_categories_b, p_o, p_e, kappa).
    */
  def cohensKappa(df: DataFrame, colA: String, colB: String): DataFrame = {
    def cat(c: String) = coalesce(col(c).cast("string"), lit("<null>"))
    val joint = graft.core.Blocks.checkpoint(
      df.select(cat(colA).as("dj_a"), cat(colB).as("dj_b"))
        .groupBy("dj_a", "dj_b")
        .agg(count(lit(1)).as("dj_c")))
    val ma = joint.groupBy("dj_a").agg(sum(col("dj_c")).as("dj_ca"))
    val mb = joint.groupBy("dj_b").agg(sum(col("dj_c")).as("dj_cb"))
    val totals = joint.agg(
      sum(col("dj_c")).as("dj_n"),
      sum(when(col("dj_a") === col("dj_b"), col("dj_c")).otherwise(0L))
        .as("dj_agree"),
      countDistinct(col("dj_a")).as("dj_ka"),
      countDistinct(col("dj_b")).as("dj_kb"))
    // chance-agreement numerator over categories present on BOTH sides
    // (absent-on-one-side categories contribute marginal 0) — exact
    // (19,0)·(19,0) decimal products, never a double before the division
    val peNum = ma
      .join(mb, col("dj_a") === col("dj_b"))
      .agg(coalesce(
        sum(col("dj_ca").cast("decimal(19,0)") * col("dj_cb").cast("decimal(19,0)")),
        lit(0).cast("decimal(38,0)")).as("dj_pe_num"))
    val n = col("dj_n").cast("double")
    val po = col("dj_agree").cast("double") / n
    val pe = col("dj_pe_num").cast("double") / (n * n)
    totals
      .crossJoin(broadcast(peNum))
      .select(
        coalesce(col("dj_n"), lit(0L)).as("n"),
        col("dj_ka").cast("int").as("n_categories_a"),
        col("dj_kb").cast("int").as("n_categories_b"),
        when(col("dj_n") > 0, po).as("p_o"),
        when(col("dj_n") > 0, pe).as("p_e"),
        when(col("dj_n") > 0 && pe < 1.0, (po - pe) / (lit(1.0) - pe))
          .as("kappa"))
  }

  // Poisson(1) inverse-CDF thresholds e^{-1}·Σ_{j<=k} 1/j! for k = 0..7,
  // HARDCODED as the shortest-repr double literals so the SQL oracle can
  // spell the identical constants (math.exp is only 1-ulp-accurate and
  // need not agree with another engine's libm); a hash-uniform is a 52-bit
  // dyadic fraction, so every `u < t` comparison is exact in both engines
  private[graft] val PoissonCdf: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712, 0.9999897508033253)

  /** Poisson-bootstrap confidence interval for a column mean (public:
    * the one-pass bootstrap of Chamandy et al. / Owen, standard at
    * map-reduce scale): resample `b` draws per row with deterministic
    * Poisson(1) weights w = F⁻¹(u(id, seed, b)) — the md5-lattice uniform
    * convention of [[Dsir]] — so each of `nResamples` pseudo-resamples is
    * a with-replacement bootstrap replicate WITHOUT shuffling or
    * materializing the data more than once. Per-replicate means use exact
    * scaled-decimal sums (fold-order independent, engine-reproducible);
    * the CI is a discrete rank selection over the `nResamples` replicate
    * means (rank window bounded at nResamples rows by construction —
    * never a data-sized sort).
    *
    * The error bar every corpus statistic should ship with at 100 TB:
    * one extra groupBy(b) aggregate — explode volume is nResamples× the
    * row count but collapses map-side into nResamples partial sums.
    * Out: EXACTLY one row (n, n_resamples, mean, ci_lo, ci_hi) — NULLs
    * (never NaN) on an empty input; `mean` is the full-sample point
    * estimate.
    *
    * Decimal headroom: |scaled value| ≤ 1e30 per row and ≤ 8× that per
    * weighted term; the (38,0) sum overflows loudly under ANSI only past
    * ~1e7 rows × 1e24-scaled magnitudes — far past any mean worth
    * bootstrapping at `valueScale` = 1e6.
    */
  def bootstrapMeanCI(
      df: DataFrame,
      idCol: String,
      valueCol: String,
      nResamples: Int = 200,
      alpha: Double = 0.05,
      seed: String = "boot",
      valueScale: Long = 1000000L,
      md5Flavor: Boolean = false): DataFrame = {
    require(nResamples >= 4 && nResamples <= 10000,
      s"nResamples must be in [4, 10000]: $nResamples")
    require(alpha > 0 && alpha < 0.5, s"alpha must be in (0, 0.5): $alpha")
    require(valueScale >= 1, s"valueScale must be >= 1: $valueScale")
    // spread BEFORE the ×nResamples explode + per-replicate hash (r15,
    // guide §2.5): a small input arrives as 1-2 scan splits and the md5
    // lattice would run nearly serial; no-ops once the scan is wide
    val base = Dedup.spread(
      df.where(col(valueCol).isNotNull).select(col(idCol), col(valueCol)))
    val x = round(col(valueCol) * valueScale).cast("decimal(30,0)")
    // u(id, seed, b): a 52-bit dyadic-lattice uniform per (row, replicate).
    // Default flavor: top 52 bits of xxhash64(id, seed, b) — one codegen'd
    // native hash per exploded row (the Dsir hash-flavor convention; the
    // md5 chain measured 13× slower at 100 replicates × 1M rows: 1.5 s
    // vs 20.0 s warm on the sf1 events table).
    // `md5Flavor` keeps the oracle-recomputable spelling: first 13 md5 hex
    // digits of "id:seed:b" (the Dsir.hashUniform lattice, extended with
    // the replicate index). Both are exact dyadic fractions; w = the
    // Poisson(1) inverse CDF, capped at 8 (P ≈ 1e-5).
    val u =
      if (md5Flavor)
        // fused md5-prefix expression (r15) — same value as the former
        // conv(substring(md5(...), 1, 13), 16, 10) cast long chain
        (graft.functions.Md5Lattice.md5PrefixLong(
          concat(
            col(idCol).cast("string"), lit(":" + seed + ":"),
            col("dj_b").cast("string")), 13) + 0.5) /
          lit(4503599627370496.0)
      else
        (shiftrightunsigned(
          xxhash64(col(idCol), lit(seed), col("dj_b")), 12).cast("double")
          + 0.5) / lit(4503599627370496.0)
    // CASE ladder lowest-threshold-first: the first matching arm wins, so
    // folding from the highest k downward keeps each `when` outermost-last.
    // The ladder reads the uniform from a PROJECTED dj_u column: inlined,
    // the hash chain sits in 8 conditional arms of two aggregate
    // expressions, and codegen CSE does not hoist conditionally-evaluated
    // subexpressions — the md5/xxhash chain re-ran ~5× per exploded row
    // (guide §4; CollapseProject keeps a non-cheap multiply-referenced
    // projection separate, so the plan pins ONE evaluation per row). The
    // arithmetic is unchanged: identical u, identical ladder, identical
    // sums.
    val wLadder = PoissonCdf.zipWithIndex.reverse
      .foldLeft(lit(8).cast("decimal(1,0)")) { case (acc, (t, k)) =>
        when(col("dj_u") < t, lit(k).cast("decimal(1,0)")).otherwise(acc)
      }
    // ONE corpus pass (r15, guide §1.2): the per-replicate aggregate also
    // carries the full-sample totals as riders on the b = 1 group (count
    // of its rows = n, sum of its unweighted values = Σx — b = 1 holds
    // exactly one exploded row per base row), so the former dedicated
    // totals branch no longer re-scans the input. The grouped result is
    // ≤ nResamples (≤ 10000, parameter-bounded) rows — it comes to the
    // driver in one collect, and the rank selection / CI assembly
    // (formerly a single-partition window + crossjoin, 3 extra stages)
    // runs in exact driver arithmetic: the same decimal→double casts in
    // the same order, the same (mean, b) tie order, the same NULL
    // semantics. Output values are bit-identical; only the plan tail
    // changed.
    val grouped = base
      .select(col(idCol), x.as("dj_x"),
        explode(sequence(lit(1), lit(nResamples))).as("dj_b"))
      .select(col("dj_x"), col("dj_b"), u.as("dj_u"))
      .select(col("dj_x"), col("dj_b"), wLadder.as("dj_w"))
      .groupBy("dj_b")
      .agg(
        sum((col("dj_w") * col("dj_x")).cast("decimal(38,0)")).as("dj_sx"),
        sum(col("dj_w").cast("long")).as("dj_sw"),
        count(lit(1)).as("dj_cnt"),
        sum(col("dj_x")).as("dj_tx"))
      .collect()
    val scaleD = valueScale.toDouble
    def bOf(r: org.apache.spark.sql.Row): Long =
      r.get(0).asInstanceOf[Number].longValue() // sequence() yields ints
    val b1 = grouped.find(bOf(_) == 1L)
    val n: Long = b1.map(_.getLong(3)).getOrElse(0L)
    val sxTot: Option[java.math.BigDecimal] =
      b1.flatMap(r => Option(r.getDecimal(4)))
    val loRank = (alpha / 2 * nResamples).toInt + 1
    val hiRank = nResamples - (alpha / 2 * nResamples).toInt
    // replicate means, dropped-out replicates (all-zero weights) excluded,
    // sorted by (mean, b) — the former window's exact order
    val means: Seq[(Double, Long)] = grouped.toSeq
      .filter(_.getLong(2) > 0L)
      .map(r => (r.getDecimal(1).doubleValue() / r.getLong(2).toDouble /
        scaleD, bOf(r)))
      .sortBy(identity)
    val nb = means.size
    val mean: Any =
      if (n > 0 && sxTot.isDefined)
        sxTot.get.doubleValue() / n.toDouble / scaleD
      else null
    // a replicate can drop out only on a degenerate tiny sample whose
    // every weight is 0 — the rank indices then miss; NULL, not NaN
    val lo: Any = if (nb >= hiRank) means(loRank - 1)._1 else null
    val hi: Any = if (nb >= hiRank) means(hiRank - 1)._1 else null
    val spark = df.sparkSession
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(n, nResamples, mean, lo, hi)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_resamples",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("mean",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("ci_lo",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("ci_hi",
          org.apache.spark.sql.types.DoubleType))))
  }
}
