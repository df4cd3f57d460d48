package graft.constraints

import org.apache.spark.sql.SparkSession
import org.slf4j.LoggerFactory

import graft.core.{DataRef, TestResult}
import graft.ops.Stats

/** Two-sample Kolmogorov–Smirnov test (reference `constraints/stats.py:13-142`).
  *
  * Retrieves the D statistic in-engine (cross-CDF plan, `ops.Stats`) plus the
  * two sample sizes; acceptance per `D <= c(α)·√((n+m)/nm)` and the
  * approximate p-value (Fachinetti 2009) computed client-side on scalars.
  */
final case class KolmogorovSmirnov2Sample(
    ref: DataRef,
    ref2Required: DataRef,
    significanceLevel: Double = 0.05,
    override val nameOverride: Option[String] = None)
    extends Constraint {
  override protected def ref2Option: Option[DataRef] = Some(ref2Required)
  override def test(spark: SparkSession): TestResult = withPlans {
    // D and both non-null sample sizes come from the one fused cross-CDF
    // pass (the separate row-count jobs of round 1 are folded in)
    val (d, n, m) = Stats.ks2SampleWithCounts(spark, ref, ref2Required)
    if (math.min(n, m) < 35)
      KolmogorovSmirnov2Sample.log.warn(
        "approximate p-value is not accurate enough below 35 samples")
    val accepted = Stats.ksCheckAcceptance(d, n, m, significanceLevel)
    if (accepted) TestResult.success(description)
    else {
      // exact finite-sample p-value (the reference's scipy path); the
      // Fachinetti approximation remains as Stats.ksApproxPValue
      val p = Stats.ksExactPValue(d, n, m)
      TestResult.failure(
        description,
        s"Null hypothesis (samples originate from the same distribution) between " +
          s"${ref.describe} and ${ref2Required.describe} cannot be accepted. " +
          s"Significance level: $significanceLevel, D statistic: $d" +
          p.map(v => s", approximate p-value: $v").getOrElse("") + ".")
    }
  }
}

object KolmogorovSmirnov2Sample {
  private val log = LoggerFactory.getLogger(classOf[KolmogorovSmirnov2Sample])
}

/** Chance-corrected label agreement floor: Cohen's κ between two
  * categorical columns (two annotators, a new model version vs the
  * incumbent, a heuristic rule vs a classifier) must be ≥ the target —
  * raw agreement flatters skewed label distributions, κ does not
  * ([[graft.ops.Stats.cohensKappa]]). Vacuous on empty input or when
  * chance agreement is 1 (both sides constant — no information).
  */
final case class MinCohensKappa(
    ref: DataRef,
    columnA: String,
    columnB: String,
    refValue: Option[Double] = None,
    ref2: Option[DataRef] = None,
    override val nameOverride: Option[String] = None)
    extends Constraint {
  require(
    refValue.exists(v => v >= -1 && v <= 1),
    s"min_cohens_kappa must lie within [-1, 1] but is $refValue.")

  override def test(spark: SparkSession): TestResult = withPlans {
    val target = refValue.get
    val row = Stats.cohensKappa(ref.selection(spark), columnA, columnB).head()
    if (row.isNullAt(5)) TestResult.success(description) // no evidence
    else {
      val kappa = row.getDouble(5)
      if (kappa >= target) TestResult.success(description)
      else TestResult.failure(
        description,
        s"Cohen's kappa between $columnA and $columnB on ${ref.describe} is " +
          s"$kappa (observed agreement ${row.getDouble(3)}, chance " +
          s"${row.getDouble(4)}) while at least $target was required.")
    }
  }
}

/** Bootstrap-evidence mean floor: the Poisson-bootstrap lower confidence
  * bound of `valueColumn`'s mean must be ≥ the target
  * ([[graft.ops.Stats.bootstrapMeanCI]]) — unlike a raw-mean floor, a
  * noisy small sample only fails when its evidence actually supports a
  * mean below the floor (the numeric sibling of the Wilson keep-rate
  * gate). Vacuous when the input is empty.
  */
final case class MinBootstrapMeanLowerBound(
    ref: DataRef,
    idColumn: String,
    valueColumn: String,
    refValue: Option[Double] = None,
    ref2: Option[DataRef] = None,
    nResamples: Int = 200,
    alpha: Double = 0.05,
    seed: String = "boot",
    override val nameOverride: Option[String] = None)
    extends Constraint {
  require(refValue.isDefined, "min_bootstrap_mean_lower_bound requires a target.")

  override def test(spark: SparkSession): TestResult = withPlans {
    val target = refValue.get
    val row = Stats
      .bootstrapMeanCI(
        ref.selection(spark), idColumn, valueColumn, nResamples, alpha, seed)
      .head()
    if (row.getLong(0) == 0L) TestResult.success(description) // no evidence
    else if (row.isNullAt(3))
      // NON-empty sample but no lower bound: replicate means dropped out
      // (a degenerate tiny sample can zero every Poisson weight of a
      // replicate, so fewer than the hi-rank replicates survive). That is
      // INSUFFICIENT evidence, not an empty input — passing the floor
      // silently here would gate on nothing.
      TestResult.failure(
        description,
        s"Bootstrap of $valueColumn's mean on ${ref.describe} produced no " +
          s"${math.round(1000 * (1 - alpha)) / 10.0}% lower bound despite n=${row.getLong(0)} " +
          s"rows: replicate means dropped out (fewer than the required " +
          s"rank of $nResamples resamples survived) — the sample is too " +
          s"degenerate to certify the floor $target.")
    else {
      val lo = row.getDouble(3)
      if (lo >= target) TestResult.success(description)
      else TestResult.failure(
        description,
        s"Bootstrap ${math.round(1000 * (1 - alpha)) / 10.0}% lower bound of $valueColumn's mean " +
          s"on ${ref.describe} is $lo (point estimate ${row.getDouble(2)}, " +
          s"n=${row.getLong(0)}) while at least $target was required.")
    }
  }
}

/** Robust location window: the TRIMMED mean of `valueColumn` (exact-rank
  * tails dropped, [[graft.ops.Stats.trimmedMean]]) must lie within
  * [minValue, maxValue] — the mean gate that a handful of pathological
  * rows cannot move. Vacuous when trimming swallows the sample.
  */
final case class TrimmedMeanBetween(
    ref: DataRef,
    valueColumn: String,
    minValue: Double,
    maxValue: Double,
    trimFraction: Double = 0.05,
    scale: Long = 1000000L,
    override val nameOverride: Option[String] = None)
    extends Constraint {
  require(minValue <= maxValue, s"empty interval [$minValue, $maxValue]")

  override def test(spark: SparkSession): TestResult = withPlans {
    val row = Stats
      .trimmedMean(ref.selection(spark), valueColumn, trimFraction, scale)
      .head()
    if (row.isNullAt(2)) TestResult.success(description) // no evidence
    else {
      val m = row.getDouble(2)
      if (m >= minValue && m <= maxValue) TestResult.success(description)
      else TestResult.failure(
        description,
        s"${trimFraction * 100}%-trimmed mean of $valueColumn on " +
          s"${ref.describe} is $m (n=${row.getLong(0)}, cuts " +
          s"[${row.getDouble(4)}, ${row.getDouble(5)}]) while " +
          s"[$minValue, $maxValue] was required.")
    }
  }
}

/** Corpus-balance ceiling: the Gini coefficient and/or the top group's
  * share of `weightColumn` mass across `keyColumn` groups must stay ≤ the
  * given ceilings ([[graft.ops.Stats.concentrationProfile]]) — "no single
  * domain may dominate the training mix" as a declarable budget. Fails
  * loudly when negative weights make the profile meaningless.
  */
final case class MaxConcentration(
    ref: DataRef,
    keyColumn: String,
    weightColumn: String,
    maxGini: Option[Double] = None,
    maxTopShare: Option[Double] = None,
    weightScale: Long = 1L,
    override val nameOverride: Option[String] = None)
    extends Constraint {
  require(maxGini.isDefined || maxTopShare.isDefined,
    "at least one of maxGini / maxTopShare must be given")
  require(maxGini.forall(v => v >= 0 && v <= 1), s"maxGini out of [0,1]: $maxGini")
  require(maxTopShare.forall(v => v >= 0 && v <= 1),
    s"maxTopShare out of [0,1]: $maxTopShare")

  override def test(spark: SparkSession): TestResult = withPlans {
    val row = Stats
      .concentrationProfile(
        ref.selection(spark), keyColumn, weightColumn, weightScale)
      .head()
    if (row.getLong(5) > 0)
      TestResult.failure(
        description,
        s"${row.getLong(5)} group(s) of ${ref.describe} carry NEGATIVE " +
          s"$weightColumn mass — the concentration profile is undefined.")
    else if (row.getLong(0) == 0L)
      TestResult.success(description) // no evidence
    else if (row.isNullAt(2))
      // groups EXIST but the profile degenerated (total scaled weight 0)
      // — e.g. a fractional weight column at weightScale = 1 rounding
      // every row to 0. Vacuous success here would pass the ceiling on
      // zero evidence; fail loudly with the remedy instead.
      TestResult.failure(
        description,
        s"${row.getLong(0)} $keyColumn group(s) of ${ref.describe} carry " +
          s"zero total scaled $weightColumn mass — the concentration " +
          s"profile is undefined. Fractional weights need a weightScale " +
          s"(current: $weightScale).")
    else {
      val gini = row.getDouble(2)
      val top = row.getDouble(4)
      val giniBad = maxGini.exists(gini > _)
      val topBad = maxTopShare.exists(top > _)
      if (!giniBad && !topBad) TestResult.success(description)
      else TestResult.failure(
        description,
        s"$weightColumn concentration across $keyColumn on ${ref.describe}: " +
          s"gini=$gini${maxGini.map(v => s" (max $v)").getOrElse("")}, " +
          s"top_share=$top${maxTopShare.map(v => s" (max $v)").getOrElse("")} " +
          s"over ${row.getLong(0)} groups.")
    }
  }
}

/** ANN index-quality floor: recall@`k` of the corpus-aware approximate
  * similarity path (`method` ∈ lsh — [[graft.ops.Similarity.lshTopKAuto]],
  * the margin-ranked multi-probe index — or ivf —
  * [[graft.ops.Similarity.ivfTopKAuto]], the fine-cell coarse quantizer)
  * against exact brute-force ground truth over a deterministic
  * hash-sampled query set must be ≥ the target — "the similarity index a
  * downstream dedup/search pipeline relies on must actually find its
  * neighbors" as a declarable budget, the same posture as any drift gate.
  *
  * Cost: ground truth is `nQueries` brute-force scans of the corpus
  * (broadcast query set, one corpus scan, per-query top-k windows) — the
  * audit's price; bound `nQueries`, not the corpus. Vacuous when fewer
  * than two vectors or no truth neighbors exist. `corpusSizeHint` feeds
  * the auto-sizing and seed-sampling stride (a count job otherwise).
  */
final case class MinAnnRecall(
    ref: DataRef,
    idColumn: String,
    vectorColumn: String,
    refValue: Option[Double] = None,
    k: Int = 10,
    nQueries: Int = 200,
    method: String = "lsh",
    corpusSizeHint: Option[Long] = None,
    indexPath: Option[String] = None,
    nProbe: Int = 4,
    override val nameOverride: Option[String] = None)
    extends Constraint {
  require(refValue.exists(v => v > 0 && v <= 1),
    s"min_ann_recall requires a target in (0, 1]: $refValue")
  require(Set("lsh", "ivf", "indexed", "indexed_pq").contains(method),
    s"min_ann_recall method must be lsh, ivf, indexed, or indexed_pq: $method")
  require(indexPath.nonEmpty == method.startsWith("indexed"),
    "indexPath is required for (and only for) the indexed/indexed_pq methods")
  require(k >= 1 && nQueries >= 1 && nProbe >= 1,
    "k, nQueries and nProbe must be positive")

  override def test(spark: SparkSession): TestResult = withPlans {
    import org.apache.spark.sql.functions._
    val S = graft.ops.Similarity
    val base = ref.selection(spark)
      .where(col(idColumn).isNotNull && col(vectorColumn).isNotNull)
    val n = corpusSizeHint.getOrElse(base.count())
    if (n < 2) TestResult.success(description) // no evidence
    else {
      // deterministic hash-stride query sample, capped at nQueries by id.
      // An OVERSIZED corpusSizeHint inflates the stride until the hash
      // sample comes back empty — without the fallback below that would be
      // a silent vacuous PASS on a populated corpus (the
      // MaxConcentration/MinBootstrapMeanLowerBound silent-vacuous class):
      // when the stride sample yields no truth rows, fall back to the
      // first nQueries vectors by id, which is non-empty whenever the
      // corpus is.
      val step = math.max(1L, n / nQueries)
      val strideQueries = base
        .where(pmod(xxhash64(col(idColumn)), lit(step)) === 0)
        .sort(col(idColumn))
        .limit(nQueries)
      def truthFor(qs: org.apache.spark.sql.DataFrame) = graft.core.Blocks.checkpoint(
        S.bruteForceTopK(base, qs, idColumn, vectorColumn, k)
          .select(col("query_id"), col("neighbor_id")))
      var queries = strideQueries
      var truth = truthFor(queries)
      if (truth.count() == 0L) {
        graft.core.Blocks.release(truth)
        queries = base.sort(col(idColumn)).limit(nQueries)
        truth = truthFor(queries)
      }
      try {
        val nTruth = truth.count()
        if (nTruth == 0L) TestResult.success(description) // genuinely < 2 rows
        else {
          val approx = method match {
            case "lsh" =>
              S.lshTopKAuto(base, queries, idColumn, vectorColumn, k,
                corpusSize = n)
            case "ivf" =>
              S.ivfTopKAuto(base, queries, idColumn, vectorColumn, k,
                corpusSize = n)
            // the persisted-index read paths: recall of the index AS
            // OPERATED (its frozen geometry + this probe budget) vs live
            // exact truth on the CURRENT data — a stale or under-probed
            // index fails here even though every per-call query is
            // individually correct
            case "indexed" =>
              graft.sources.AnnIndex.queryTopK(
                queries, idColumn, vectorColumn, indexPath.get, k, nProbe)
            case _ =>
              graft.sources.AnnIndex.queryTopKPq(
                queries, idColumn, vectorColumn, indexPath.get, k, nProbe)
          }
          val hit = truth.join(
            approx.select(col("query_id"), col("neighbor_id")),
            Seq("query_id", "neighbor_id"), "left_semi").count()
          val recall = hit.toDouble / nTruth
          val target = refValue.get
          if (recall >= target) TestResult.success(description)
          else TestResult.failure(
            description,
            s"$method ANN recall@$k of $vectorColumn on ${ref.describe} is " +
              s"$recall ($hit of $nTruth true neighbors over " +
              s"${math.min(nQueries, nTruth / math.max(1, k)).max(1)} sampled " +
              s"queries) while at least $target was required.")
        }
      } finally graft.core.Blocks.release(truth)
    }
  }
}
