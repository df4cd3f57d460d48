package graft.requirements

import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.DataType

import graft.constraints._
import graft.core._
import graft.ops.Ops

/** A specification unit: an ordered collection of constraints over one data
  * source ("within") or a pair ("between"), with `add*Constraint` builder
  * methods mirroring the reference's full public surface
  * (`requirements.py:63-2238`). `test(spark)` runs every constraint.
  *
  * A requirement owns one [[graft.constraints.RetrievalScope]]: its
  * constraints, tested through `test` or through the thunks of
  * `Runner.collectDataTests`, run each distinct retrieval once. The scope
  * lives as long as the requirement; a freshly declared one re-retrieves.
  */
sealed abstract class Requirement extends Iterable[Constraint] {
  protected val constraintsBuffer: ArrayBuffer[Constraint] = ArrayBuffer.empty

  private val scope = new RetrievalScope(() => constraintsBuffer.toSeq)

  override def iterator: Iterator[Constraint] = constraintsBuffer.iterator
  def constraints: Seq[Constraint] = constraintsBuffer.toSeq

  /** Test one of this requirement's constraints through its scope. */
  private[graft] def evaluate(c: Constraint, spark: SparkSession): TestResult =
    scope.evaluate(c, spark)

  def test(spark: SparkSession): Seq[TestResult] = constraints.map(evaluate(_, spark))
}

/** Constraints over a single data source
  * (reference `WithinRequirement`, `requirements.py:87-1263`).
  */
final class WithinRequirement private (val dataSource: DataSource) extends Requirement {

  private def ref(
      columns: Option[Seq[String]] = None,
      condition: Option[Condition] = None): DataRef =
    DataRef(dataSource, columns, condition)

  def addColumnExistenceConstraint(columns: Seq[String], name: Option[String] = None): this.type = {
    constraintsBuffer += ColumnExistence(ref(), columns, nameOverride = name); this
  }

  def addPrimaryKeyDefinitionConstraint(
      primaryKeys: Seq[String],
      name: Option[String] = None): this.type = {
    constraintsBuffer += PrimaryKeyDefinition(ref(), primaryKeys, nameOverride = name); this
  }

  def addUniquenessConstraint(
      columns: Option[Seq[String]] = None,
      maxDuplicateFraction: Double = 0,
      condition: Option[Condition] = None,
      maxAbsoluteNDuplicates: Long = 0,
      inferPkColumns: Boolean = false,
      cacheSize: Option[Int] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += Uniqueness(
      ref(columns, condition), maxDuplicateFraction, maxAbsoluteNDuplicates,
      inferPkColumns, cacheSize = cacheSize, nameOverride = name)
    this
  }

  def addColumnTypeConstraint(
      column: String,
      columnType: String,
      name: Option[String] = None): this.type = {
    constraintsBuffer += ColumnType(
      ref(Some(Seq(column))), expectedTypeString = Some(columnType), nameOverride = name)
    this
  }

  def addColumnTypeConstraint(column: String, columnType: DataType): this.type = {
    constraintsBuffer += ColumnType(ref(Some(Seq(column))), expectedType = Some(columnType))
    this
  }

  def addNullAbsenceConstraint(
      column: String,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxNullFraction(
      ref(Some(Seq(column)), condition), refValue = Some(0.0), nameOverride = name)
    this
  }

  def addMaxNullFractionConstraint(
      column: String,
      maxNullFraction: Double,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxNullFraction(
      ref(Some(Seq(column)), condition), refValue = Some(maxNullFraction), nameOverride = name)
    this
  }

  /** Beyond-reference: bound the fraction of documents participating in a
    * near-duplicate pair (MinHash+LSH at `jaccardThreshold`) — a
    * near-duplication budget declared like any other quality constraint.
    */
  def addMaxNearDupFractionConstraint(
      textColumn: String,
      maxFraction: Double,
      jaccardThreshold: Double = 0.9,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxNearDupFraction(
      ref(Some(Seq(textColumn)), condition), textColumn,
      refValue = Some(maxFraction), jaccardThreshold = jaccardThreshold,
      nameOverride = name)
    this
  }

  /** Beyond-reference: the rolling-ingestion contamination gate — the
    * fraction of this table's documents with a near-duplicate (exact
    * Jaccard ≥ `jaccardThreshold`) in a PERSISTED
    * [[graft.sources.DedupIndex]] corpus must stay ≤ `maxFraction`. The
    * corpus was fingerprinted once at index-build time; each evaluation
    * pays only the shard's shingling + the co-bucketed candidate join.
    */
  def addMaxIndexedNearDupFractionConstraint(
      textColumn: String,
      idColumn: String,
      indexPath: String,
      maxFraction: Double,
      jaccardThreshold: Double = 0.9,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxIndexedNearDupFraction(
      ref(Some(Seq(textColumn, idColumn)), condition), textColumn, idColumn,
      indexPath, refValue = Some(maxFraction),
      jaccardThreshold = jaccardThreshold, nameOverride = name)
    this
  }

  def addMaxDupSpanFractionConstraint(
      textColumn: String,
      maxFraction: Double,
      windowTokens: Int = 8,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxDupSpanFraction(
      ref(Some(Seq(textColumn)), condition), textColumn,
      refValue = Some(maxFraction), windowTokens = windowTokens,
      nameOverride = name)
    this
  }

  /** Beyond-reference: at least `minFraction` of documents must pass the
    * Gopher quality rule set (word counts, mean word length,
    * symbol/bullet/ellipsis ratios, alpha fraction, stopword presence).
    */
  def addMinGopherKeepFractionConstraint(
      textColumn: String,
      minFraction: Double,
      minWords: Int = 50,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MinGopherKeepFraction(
      ref(Some(Seq(textColumn)), condition), textColumn,
      refValue = Some(minFraction), minWords = minWords, nameOverride = name)
    this
  }

  /** Beyond-reference: at most `maxFraction` of profiled-script characters
    * may fall outside `allowedScripts` (wrong-language contamination;
    * profiled scripts: [[graft.ops.TextAnalysis.ScriptNames]]).
    */
  def addMaxForeignScriptFractionConstraint(
      textColumn: String,
      allowedScripts: Seq[String],
      maxFraction: Double,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxForeignScriptFraction(
      ref(Some(Seq(textColumn)), condition), textColumn, allowedScripts,
      refValue = Some(maxFraction), nameOverride = name)
    this
  }

  /** Beyond-reference: at least `minFraction` of documents (among those
    * with at least one hashed feature) must score ≥ `scoreThreshold` under
    * a trained hashed linear quality classifier
    * ([[graft.ops.Classifier.Model]]).
    */
  def addMinClassifierScoreFractionConstraint(
      textColumn: String,
      idColumn: String,
      model: graft.ops.Classifier.Model,
      scoreThreshold: Double,
      minFraction: Double,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MinClassifierScoreFraction(
      ref(Some(Seq(idColumn, textColumn)), condition), textColumn, idColumn,
      model, scoreThreshold, refValue = Some(minFraction), nameOverride = name)
    this
  }

  /** Beyond-reference: at most `maxFraction` of documents may contain ≥
    * `minHits` blocklisted tokens
    * ([[graft.ops.TextAnalysis.blocklistHits]] — token-exact whole-word
    * matching; callers supply their own list).
    */
  def addMaxBlocklistFractionConstraint(
      textColumn: String,
      blocklist: Seq[String],
      maxFraction: Double,
      minHits: Int = 1,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxBlocklistFraction(
      ref(Some(Seq(textColumn)), condition), textColumn, blocklist, minHits,
      refValue = Some(maxFraction), nameOverride = name)
    this
  }

  /** Beyond-reference: the corpus-wide distinct-n-gram ratio must be ≥
    * `minRatio` ([[graft.ops.Corpus.corpusDiversity]]) — the
    * mode-collapse alarm for synthetic or template-heavy corpora.
    */
  def addMinDistinctNgramRatioConstraint(
      textColumn: String,
      minRatio: Double,
      n: Int = 3,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MinDistinctNgramRatio(
      ref(Some(Seq(textColumn)), condition), textColumn, n,
      refValue = Some(minRatio), nameOverride = name)
    this
  }

  /** Beyond-reference: at most `maxFraction` of non-`trainSplit` documents
    * may share an n-gram-Jaccard near-dup cluster with a `trainSplit`
    * document ([[graft.ops.Corpus.splitLeakage]]) — the eval contamination
    * exact decontamination misses.
    */
  def addMaxSplitLeakageFractionConstraint(
      textColumn: String,
      idColumn: String,
      splitColumn: String,
      maxFraction: Double,
      trainSplit: String = "train",
      shingleK: Int = 5,
      jaccardThreshold: Double = 0.6,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxSplitLeakageFraction(
      ref(Some(Seq(idColumn, textColumn, splitColumn)), condition),
      textColumn, idColumn, splitColumn, trainSplit, shingleK,
      jaccardThreshold, refValue = Some(maxFraction), nameOverride = name)
    this
  }

  /** Beyond-reference: the mean n-gram novelty over fingerprintable
    * documents must be ≥ `minMean` ([[graft.ops.Dedup.ngramNovelty]]) —
    * "is this source still adding new text".
    */
  def addMinMeanNoveltyConstraint(
      textColumn: String,
      idColumn: String,
      minMean: Double,
      windowTokens: Int = 8,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MinMeanNovelty(
      ref(Some(Seq(idColumn, textColumn)), condition), textColumn, idColumn,
      windowTokens, refValue = Some(minMean), nameOverride = name)
    this
  }

  /** Beyond-reference: every group's Wilson lower confidence bound of the
    * boolean `valueColumn` must be ≥ `minLower`
    * ([[graft.ops.Stats.proportionCI]]) — the statistically honest
    * keep-rate floor (small groups only fail on real evidence).
    */
  def addMinProportionLowerBoundConstraint(
      valueColumn: String,
      minLower: Double,
      groupColumns: Seq[String] = Nil,
      z: Double = 1.959963984540054,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MinProportionLowerBound(
      ref(Some((groupColumns :+ valueColumn).distinct), condition),
      valueColumn, groupColumns, z, refValue = Some(minLower),
      nameOverride = name)
    this
  }

  /** Beyond-reference: the exact ROC AUC of `scoreColumn` against the
    * binary outcome "`labelColumn` = `positiveValue`" must be ≥ `minAuc`
    * ([[graft.ops.Stats.aucExact]]) — the score must actually rank the
    * outcome before anyone filters on it.
    */
  def addMinAucConstraint(
      scoreColumn: String,
      labelColumn: String,
      positiveValue: String,
      minAuc: Double,
      scale: Long = 1L,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MinAuc(
      ref(Some(Seq(scoreColumn, labelColumn)), condition), scoreColumn,
      labelColumn, positiveValue, scale, refValue = Some(minAuc),
      nameOverride = name)
    this
  }

  /** Beyond-reference: Cohen's κ between two categorical label columns
    * must be ≥ `minKappa` — the chance-corrected agreement gate for
    * annotator/model-version label parity ([[graft.ops.Stats.cohensKappa]]).
    */
  def addMinCohensKappaConstraint(
      columnA: String,
      columnB: String,
      minKappa: Double,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MinCohensKappa(
      ref(Some(Seq(columnA, columnB)), condition), columnA, columnB,
      refValue = Some(minKappa), nameOverride = name)
    this
  }

  /** Beyond-reference: the Poisson-bootstrap lower confidence bound of
    * `valueColumn`'s mean must be ≥ `minMean` — evidence-honest error
    * bars on any corpus statistic in one extra aggregate pass
    * ([[graft.ops.Stats.bootstrapMeanCI]]).
    */
  def addMinBootstrapMeanLowerBoundConstraint(
      idColumn: String,
      valueColumn: String,
      minMean: Double,
      nResamples: Int = 200,
      alpha: Double = 0.05,
      seed: String = "boot",
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MinBootstrapMeanLowerBound(
      ref(Some(Seq(idColumn, valueColumn)), condition), idColumn, valueColumn,
      refValue = Some(minMean), nResamples = nResamples, alpha = alpha,
      seed = seed, nameOverride = name)
    this
  }

  /** Beyond-reference: the first-significant-digit distribution of
    * `valueColumn` must conform to Benford's law within a MAD ceiling —
    * the fabricated/corrupted-numbers audit
    * ([[graft.ops.Integrity.benfordProfile]]).
    */
  def addMaxBenfordDeviationConstraint(
      valueColumn: String,
      maxMad: Double,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxBenfordDeviation(
      ref(Some(Seq(valueColumn)), condition), valueColumn,
      refValue = Some(maxMad), nameOverride = name)
    this
  }

  /** Beyond-reference: the trimmed mean of `valueColumn` must lie within
    * [minValue, maxValue] — the outlier-immune mean gate
    * ([[graft.ops.Stats.trimmedMean]]).
    */
  def addTrimmedMeanBetweenConstraint(
      valueColumn: String,
      minValue: Double,
      maxValue: Double,
      trimFraction: Double = 0.05,
      scale: Long = 1000000L,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += TrimmedMeanBetween(
      ref(Some(Seq(valueColumn)), condition), valueColumn, minValue, maxValue,
      trimFraction, scale, nameOverride = name)
    this
  }

  /** Beyond-reference: `weightColumn` mass across `keyColumn` groups must
    * not concentrate past the Gini / top-share ceilings — the
    * corpus-balance budget ([[graft.ops.Stats.concentrationProfile]]).
    */
  def addMaxConcentrationConstraint(
      keyColumn: String,
      weightColumn: String,
      maxGini: Option[Double] = None,
      maxTopShare: Option[Double] = None,
      weightScale: Long = 1L,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxConcentration(
      ref(Some(Seq(keyColumn, weightColumn)), condition), keyColumn,
      weightColumn, maxGini, maxTopShare, weightScale, nameOverride = name)
    this
  }

  /** Beyond-reference: the corpus-aware approximate-similarity index
    * (`method` lsh or ivf) must reach at least `minRecall` recall@`k`
    * against exact brute-force ground truth over a deterministic sampled
    * query set ([[graft.constraints.MinAnnRecall]]) — index quality as a
    * declarable budget.
    */
  def addMinAnnRecallConstraint(
      idColumn: String,
      vectorColumn: String,
      minRecall: Double,
      k: Int = 10,
      nQueries: Int = 200,
      method: String = "lsh",
      corpusSizeHint: Option[Long] = None,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MinAnnRecall(
      ref(Some(Seq(idColumn, vectorColumn)), condition), idColumn,
      vectorColumn, Some(minRecall), k, nQueries, method, corpusSizeHint,
      nameOverride = name)
    this
  }

  /** Beyond-reference: recall of a PERSISTED ANN index
    * ([[graft.sources.AnnIndex]]) against exact ground truth on the
    * current data — the operational twin of
    * [[addMinAnnRecallConstraint]]: a stale (data drifted since build)
    * or under-probed index fails here even though each query it answers
    * is individually well-formed. `compressed = true` gates the PQ read
    * path (`queryTopKPq`) instead of the exact-vector one.
    */
  def addMinIndexedAnnRecallConstraint(
      idColumn: String,
      vectorColumn: String,
      indexPath: String,
      minRecall: Double,
      k: Int = 10,
      nQueries: Int = 200,
      nProbe: Int = 4,
      compressed: Boolean = false,
      corpusSizeHint: Option[Long] = None,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MinAnnRecall(
      ref(Some(Seq(idColumn, vectorColumn)), condition), idColumn,
      vectorColumn, Some(minRecall), k, nQueries,
      method = if (compressed) "indexed_pq" else "indexed",
      corpusSizeHint, indexPath = Some(indexPath), nProbe = nProbe,
      nameOverride = name)
    this
  }

  /** Beyond-reference: the persisted ANN index must be HEALTHY as operated
    * against this table's live vectors — recall, quantizer occupancy, and
    * file layering all within budget; failures carry the
    * rebuild-vs-compact recommendation
    * ([[graft.constraints.AnnIndexHealthy]]).
    */
  def addAnnIndexHealthyConstraint(
      idColumn: String,
      vectorColumn: String,
      indexPath: String,
      minRecall: Double,
      k: Int = 10,
      nProbe: Int = 4,
      nQueries: Int = 64,
      maxFilesPerBucket: Double = 4.0,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += AnnIndexHealthy(
      ref(Some(Seq(idColumn, vectorColumn)), condition), idColumn,
      vectorColumn, indexPath, Some(minRecall), k, nProbe, nQueries,
      maxFilesPerBucket, nameOverride = name)
    this
  }

  /** Beyond-reference: the persisted dedup index must be healthy — hot-cell
    * (over-cap) candidate mass and file layering within budget; failures
    * carry the rebuild-vs-compact recommendation
    * ([[graft.constraints.DedupIndexHealthy]]).
    */
  def addDedupIndexHealthyConstraint(
      indexPath: String,
      maxHotCellMass: Double = 0.1,
      maxBucketSize: Int = 1000,
      maxFilesPerBucket: Double = 4.0,
      name: Option[String] = None): this.type = {
    constraintsBuffer += DedupIndexHealthy(
      ref(None, None), indexPath, Some(maxHotCellMass), maxBucketSize,
      maxFilesPerBucket, nameOverride = name)
    this
  }

  /** Beyond-reference: at most `maxFraction` of documents may carry
    * encoding artifacts — mojibake marks, disallowed control characters,
    * or U+FFFD replacement characters ([[graft.ops.Encoding]]).
    */
  def addMaxEncodingArtifactFractionConstraint(
      textColumn: String,
      maxFraction: Double,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxEncodingArtifactFraction(
      ref(Some(Seq(textColumn)), condition), textColumn,
      refValue = Some(maxFraction), nameOverride = name)
    this
  }

  /** Beyond-reference: at most `maxFraction` of documents may have
    * character-distribution entropy below `minEntropy` nats (degenerate
    * repetition / key-mash / template spam).
    */
  def addMaxLowEntropyFractionConstraint(
      textColumn: String,
      maxFraction: Double,
      minEntropy: Double = 1.5,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxLowEntropyFraction(
      ref(Some(Seq(textColumn)), condition), textColumn,
      refValue = Some(maxFraction), minEntropy = minEntropy,
      nameOverride = name)
    this
  }

  /** Beyond-reference: at most `maxFraction` of delimiter-separated units
    * may be cross-document boilerplate (present in ≥ `minDocFraction` of
    * the documents of their `groupColumn` slice).
    */
  def addMaxBoilerplateFractionConstraint(
      textColumn: String,
      maxFraction: Double,
      delimiter: String = "\n",
      minDocFraction: Double = 0.5,
      groupColumn: Option[String] = None,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxBoilerplateFraction(
      ref(Some(Seq(textColumn) ++ groupColumn), condition), textColumn,
      refValue = Some(maxFraction), delimiter = delimiter,
      minDocFraction = minDocFraction, groupColumn = groupColumn,
      nameOverride = name)
    this
  }

  def addMaxSemanticDupFractionConstraint(
      embeddingColumn: String,
      maxFraction: Double,
      cosineThreshold: Double = 0.9,
      nClusters: Int = 0,
      lloydIters: Int = 2,
      probes: Int = 0,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxSemanticDupFraction(
      ref(Some(Seq(embeddingColumn)), condition), embeddingColumn,
      refValue = Some(maxFraction), cosineThreshold = cosineThreshold,
      nClusters = nClusters, lloydIters = lloydIters, probes = probes,
      nameOverride = name)
    this
  }

  /** Beyond-reference: malformed-JSON budget — at most `maxFraction` of
    * `column`'s non-null documents may fail to parse against `schemaDdl`.
    */
  def addMaxMalformedJsonFractionConstraint(
      column: String,
      schemaDdl: String,
      maxFraction: Double,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxMalformedJsonFraction(
      ref(Some(Seq(column)), condition), column, schemaDdl,
      refValue = Some(maxFraction), nameOverride = name)
    this
  }

  /** Beyond-reference: within-key monotonicity — `valueColumn` must not
    * decrease (must strictly increase when `strict`) along `orderColumn`
    * within each `keyColumn` group; at most `maxViolationFraction` of
    * adjacent pairs may violate.
    */
  def addMonotonicityConstraint(
      keyColumn: String,
      orderColumn: String,
      valueColumn: String,
      maxViolationFraction: Double = 0.0,
      strict: Boolean = false,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxMonotonicityViolationFraction(
      ref(Some(Seq(keyColumn, orderColumn, valueColumn)), condition),
      keyColumn, orderColumn, valueColumn, strict,
      refValue = Some(maxViolationFraction), nameOverride = name)
    this
  }

  /** Beyond-reference: outlier budget — at most `maxFraction` of rows may
    * lie more than `k` standard deviations from the column mean (exact
    * integer-decimal comparison; `scale` lifts fixed-point data to
    * integers, e.g. 100 for cents).
    */
  def addMaxOutlierFractionConstraint(
      column: String,
      maxFraction: Double,
      k: Int = 3,
      scale: Long = 1L,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxOutlierFraction(
      ref(Some(Seq(column)), condition), column, k, scale,
      refValue = Some(maxFraction), nameOverride = name)
    this
  }

  /** Beyond-reference: robust (median/MAD) outlier budget — immune to the
    * masking that inflated variance causes for the z-score flavor.
    */
  def addMaxRobustOutlierFractionConstraint(
      column: String,
      maxFraction: Double,
      k: Double = 3.5,
      scale: Long = 1L,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxRobustOutlierFraction(
      ref(Some(Seq(column)), condition), column, k, scale,
      refValue = Some(maxFraction), nameOverride = name)
    this
  }

  /** Beyond-reference: bound the longest gap-delimited session per entity —
    * events of one `keyColumn` value closer than `gapSeconds` chain into a
    * session, and no session may span more than `maxDurationSeconds`
    * (clock-skew / replay / bot signal). `tsColumn` may be a timestamp or
    * numeric epoch seconds.
    */
  def addMaxSessionDurationConstraint(
      keyColumn: String,
      tsColumn: String,
      gapSeconds: Double,
      maxDurationSeconds: Double,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxSessionDurationSeconds(
      ref(Some(Seq(keyColumn, tsColumn)), condition), keyColumn, tsColumn,
      gapSeconds = gapSeconds, refValue = Some(maxDurationSeconds),
      nameOverride = name)
    this
  }

  def addNRowsEqualityConstraint(
      nRows: Long,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NRowsEquality(
      ref(None, condition), refValue = Some(nRows), nameOverride = name)
    this
  }

  def addNRowsMinConstraint(
      nRowsMin: Long,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NRowsMin(
      ref(None, condition), refValue = Some(nRowsMin), nameOverride = name)
    this
  }

  def addNRowsMaxConstraint(
      nRowsMax: Long,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NRowsMax(
      ref(None, condition), refValue = Some(nRowsMax), nameOverride = name)
    this
  }

  def addUniquesEqualityConstraint(
      columns: Seq[String],
      uniques: Seq[Any],
      filterFunc: filters.FilterFunc = filters.filternullElement,
      mapFunc: Option[Any => Any] = None,
      reduceFunc: Option[Seq[Any] => Seq[Any]] = None,
      condition: Option[Condition] = None,
      outputProcessors: Option[Seq[formatting.OutputProcessor]] = None,
      cacheSize: Option[Int] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += UniquesEquality(
      ref(Some(columns), condition), uniquesLiteral = Some(uniques),
      filterFunc = filterFunc, mapFunc = mapFunc, reduceFunc = reduceFunc,
      outputProcessors = outputProcessors, cacheSize = cacheSize,
      nameOverride = name)
    this
  }

  def addUniquesSupersetConstraint(
      columns: Seq[String],
      uniques: Seq[Any],
      maxRelativeViolations: Double = 0,
      filterFunc: filters.FilterFunc = filters.filternullElement,
      mapFunc: Option[Any => Any] = None,
      reduceFunc: Option[Seq[Any] => Seq[Any]] = None,
      condition: Option[Condition] = None,
      outputProcessors: Option[Seq[formatting.OutputProcessor]] = None,
      cacheSize: Option[Int] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += UniquesSuperset(
      ref(Some(columns), condition), uniquesLiteral = Some(uniques),
      maxRelativeViolations = maxRelativeViolations, filterFunc = filterFunc,
      mapFunc = mapFunc, reduceFunc = reduceFunc,
      outputProcessors = outputProcessors, cacheSize = cacheSize,
      nameOverride = name)
    this
  }

  def addUniquesSubsetConstraint(
      columns: Seq[String],
      uniques: Seq[Any],
      maxRelativeViolations: Double = 0,
      compareDistinct: Boolean = false,
      filterFunc: filters.FilterFunc = filters.filternullElement,
      mapFunc: Option[Any => Any] = None,
      reduceFunc: Option[Seq[Any] => Seq[Any]] = None,
      condition: Option[Condition] = None,
      outputProcessors: Option[Seq[formatting.OutputProcessor]] = None,
      cacheSize: Option[Int] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += UniquesSubset(
      ref(Some(columns), condition), uniquesLiteral = Some(uniques),
      maxRelativeViolations = maxRelativeViolations, compareDistinct = compareDistinct,
      filterFunc = filterFunc, mapFunc = mapFunc, reduceFunc = reduceFunc,
      outputProcessors = outputProcessors, cacheSize = cacheSize,
      nameOverride = name)
    this
  }

  def addNUniquesEqualityConstraint(
      columns: Seq[String],
      nUniques: Long,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NUniquesEquality(
      ref(Some(columns), condition), refValue = Some(nUniques), nameOverride = name)
    this
  }

  def addCategoricalBoundConstraint(
      columns: Seq[String],
      distribution: Map[Any, (Double, Double)],
      defaultBounds: (Double, Double) = (0.0, 0.0),
      maxRelativeViolations: Double = 0,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += CategoricalBound(
      ref(Some(columns), condition), distribution, defaultBounds, maxRelativeViolations,
      nameOverride = name)
    this
  }

  def addNumericMinConstraint(
      column: String,
      minValue: Double,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NumericMin(
      ref(Some(Seq(column)), condition), refValue = Some(Some(minValue)), nameOverride = name)
    this
  }

  def addNumericMaxConstraint(
      column: String,
      maxValue: Double,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NumericMax(
      ref(Some(Seq(column)), condition), refValue = Some(Some(maxValue)), nameOverride = name)
    this
  }

  def addNumericBetweenConstraint(
      column: String,
      minFraction: Double,
      lowerBound: Double,
      upperBound: Double,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NumericBetween(
      ref(Some(Seq(column)), condition), minFraction, lowerBound, upperBound,
      nameOverride = name)
    this
  }

  def addNumericMeanConstraint(
      column: String,
      meanValue: Double,
      maxAbsoluteDeviation: Double,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NumericMean(
      ref(Some(Seq(column)), condition), maxAbsoluteDeviation,
      refValue = Some(Some(meanValue)), nameOverride = name)
    this
  }

  def addNumericPercentileConstraint(
      column: String,
      percentage: Double,
      expectedPercentile: Double,
      maxAbsoluteDeviation: Option[Double] = None,
      maxRelativeDeviation: Option[Double] = None,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NumericPercentile(
      ref(Some(Seq(column)), condition), percentage, maxAbsoluteDeviation,
      maxRelativeDeviation, refValue = Some(expectedPercentile), nameOverride = name)
    this
  }

  /** Beyond-reference: one-pass sketch percentile (`percentile_approx`) —
    * the scale path when the exact distributed rank machinery is
    * unnecessary; `accuracy` bounds the rank error at 1/accuracy.
    */
  def addApproxNumericPercentileConstraint(
      column: String,
      percentage: Double,
      expectedPercentile: Double,
      maxAbsoluteDeviation: Option[Double] = None,
      maxRelativeDeviation: Option[Double] = None,
      accuracy: Int = 10000,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NumericPercentileApprox(
      ref(Some(Seq(column)), condition), percentage,
      refValue = Some(expectedPercentile),
      maxAbsoluteDeviation = maxAbsoluteDeviation,
      maxRelativeDeviation = maxRelativeDeviation,
      accuracy = accuracy, nameOverride = name)
    this
  }

  /** Beyond-reference: HyperLogLog++ distinct-count budget — one pass,
    * bounded sketch memory, no shuffle of the distinct tuples; widen the
    * bounds by ~3·rsd relative slack for a hard gate.
    */
  def addApproxNUniquesBetweenConstraint(
      columns: Seq[String],
      minUniques: Long,
      maxUniques: Long,
      rsd: Double = 0.05,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NUniquesApproxBetween(
      ref(Some(columns), condition), minUniques, maxUniques, rsd, nameOverride = name)
    this
  }

  def addDateMinConstraint(
      column: String,
      minValue: String,
      useLowerBoundReference: Boolean = true,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += DateMin(
      ref(Some(Seq(column)), condition), useLowerBoundReference,
      refValue = Some(Some(dates.parseInput(minValue))), nameOverride = name)
    this
  }

  def addDateMaxConstraint(
      column: String,
      maxValue: String,
      useUpperBoundReference: Boolean = true,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += DateMax(
      ref(Some(Seq(column)), condition), useUpperBoundReference,
      refValue = Some(Some(dates.parseInput(maxValue))), nameOverride = name)
    this
  }

  def addDateBetweenConstraint(
      column: String,
      minFraction: Double,
      lowerBound: String,
      upperBound: String,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += DateBetween(
      ref(Some(Seq(column)), condition), minFraction, lowerBound, upperBound,
      nameOverride = name)
    this
  }

  private def intervalRef(
      startCols: Seq[String],
      endCols: Seq[String],
      keyColumns: Option[Seq[String]],
      condition: Option[Condition]): DataRef = {
    val relevant = startCols.zip(endCols).flatMap { case (s, e) => Seq(s, e) } ++
      keyColumns.getOrElse(Seq.empty)
    ref(Some(relevant), condition)
  }

  def addDateNoOverlapConstraint(
      startColumn: String,
      endColumn: String,
      keyColumns: Seq[String] = Seq.empty,
      endIncluded: Boolean = true,
      maxRelativeNViolations: Double = 0,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NoOverlap(
      intervalRef(Seq(startColumn), Seq(endColumn), Some(keyColumns), condition),
      keyColumns, Seq(startColumn), Seq(endColumn), maxRelativeNViolations, endIncluded,
      dimensions = 1, kind = "date ranges",
      nameOverride = Some(name.getOrElse("DateNoOverlap")))
    this
  }

  def addDateNoOverlap2dConstraint(
      startColumn1: String,
      endColumn1: String,
      startColumn2: String,
      endColumn2: String,
      keyColumns: Seq[String] = Seq.empty,
      endIncluded: Boolean = true,
      maxRelativeNViolations: Double = 0,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NoOverlap(
      intervalRef(
        Seq(startColumn1, startColumn2), Seq(endColumn1, endColumn2),
        Some(keyColumns), condition),
      keyColumns, Seq(startColumn1, startColumn2), Seq(endColumn1, endColumn2),
      maxRelativeNViolations, endIncluded, dimensions = 2, kind = "date ranges",
      nameOverride = Some(name.getOrElse("DateNoOverlap2d")))
    this
  }

  def addDateNoGapConstraint(
      startColumn: String,
      endColumn: String,
      keyColumns: Seq[String] = Seq.empty,
      endIncluded: Boolean = true,
      maxRelativeNViolations: Double = 0,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    // legitimate gap: 1 day when the end date is included in the range
    // (reference `requirements.py:954`)
    constraintsBuffer += NoGap(
      intervalRef(Seq(startColumn), Seq(endColumn), Some(keyColumns), condition),
      keyColumns, startColumn, endColumn, maxRelativeNViolations,
      legitimateGapSize = if (endIncluded) 1.0 else 0.0, isDate = true,
      nameOverride = Some(name.getOrElse("DateNoGap")))
    this
  }

  def addFunctionalDependencyConstraint(
      keyColumns: Seq[String],
      dependentColumns: Seq[String],
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += FunctionalDependency(
      ref(Some(keyColumns ++ dependentColumns), condition), keyColumns, nameOverride = name)
    this
  }

  /** Beyond-reference: mutual information (nats) between two categorical
    * columns must stay ≤ `maxMi` — the feature-leakage alarm
    * ([[graft.ops.Drift.mutualInformation]]), the soft sibling of the
    * functional-dependency check.
    */
  def addMaxMutualInformationConstraint(
      xColumn: String,
      yColumn: String,
      maxMi: Double,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxMutualInformation(
      ref(Some(Seq(xColumn, yColumn)), condition), xColumn, yColumn,
      refValue = Some(maxMi), nameOverride = name)
    this
  }

  def addNumericNoGapConstraint(
      startColumn: String,
      endColumn: String,
      keyColumns: Seq[String] = Seq.empty,
      legitimateGapSize: Double = 0,
      maxRelativeNViolations: Double = 0,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NoGap(
      intervalRef(Seq(startColumn), Seq(endColumn), Some(keyColumns), condition),
      keyColumns, startColumn, endColumn, maxRelativeNViolations, legitimateGapSize,
      isDate = false, nameOverride = Some(name.getOrElse("NumericNoGap")))
    this
  }

  def addNumericNoOverlapConstraint(
      startColumn: String,
      endColumn: String,
      keyColumns: Seq[String] = Seq.empty,
      endIncluded: Boolean = true,
      maxRelativeNViolations: Double = 0,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NoOverlap(
      intervalRef(Seq(startColumn), Seq(endColumn), Some(keyColumns), condition),
      keyColumns, Seq(startColumn), Seq(endColumn), maxRelativeNViolations, endIncluded,
      dimensions = 1, kind = "ranges",
      nameOverride = Some(name.getOrElse("NumericNoOverlap")))
    this
  }

  def addVarcharRegexConstraint(
      column: String,
      regex: String,
      allowNone: Boolean = false,
      relativeTolerance: Double = 0.0,
      aggregated: Boolean = true,
      nCounterexamples: Int = 5,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += VarCharRegex(
      ref(Some(Seq(column)), condition), regex, allowNone, relativeTolerance, aggregated,
      nCounterexamples, nameOverride = name)
    this
  }

  def addVarcharRegexConstraintDb(
      column: String,
      regex: String,
      relativeTolerance: Double = 0.0,
      aggregated: Boolean = true,
      nCounterexamples: Int = 5,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += VarCharRegexDb(
      ref(Some(Seq(column)), condition), regex, relativeTolerance, aggregated,
      nCounterexamples, nameOverride = name)
    this
  }

  def addVarcharMinLengthConstraint(
      column: String,
      minLength: Long,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += VarCharMinLength(
      ref(Some(Seq(column)), condition), refValue = Some(Some(minLength)), nameOverride = name)
    this
  }

  def addVarcharMaxLengthConstraint(
      column: String,
      maxLength: Long,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += VarCharMaxLength(
      ref(Some(Seq(column)), condition), refValue = Some(Some(maxLength)), nameOverride = name)
    this
  }

  def addGroupbyAggregationConstraint(
      columns: Seq[String],
      aggregationColumn: String,
      startValue: Int = 0,
      tolerance: Double = 0,
      condition: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += AggregateNumericRangeEquality(
      ref(Some(columns), condition), aggregationColumn, startValue, tolerance,
      nameOverride = name)
    this
  }
}

object WithinRequirement {
  def fromTable(table: String): WithinRequirement =
    new WithinRequirement(TableSource(table))
  def fromParquet(path: String, label: Option[String] = None): WithinRequirement =
    new WithinRequirement(ParquetSource(path, label))
  def fromRawQuery(query: String, name: String): WithinRequirement =
    new WithinRequirement(QuerySource(query, name))
  def fromDataFrame(frame: DataFrame, name: String): WithinRequirement =
    new WithinRequirement(FrameSource(frame, name))
  /** Any Spark file format (csv / json / orc / text ...); `options` pass to
    * the reader, `schemaDdl` keeps planning metadata-only at scale. */
  def fromFile(
      path: String,
      format: String,
      options: Map[String, String] = Map.empty,
      schemaDdl: Option[String] = None,
      label: Option[String] = None): WithinRequirement =
    new WithinRequirement(FileSource(path, format, options, schemaDdl, label))
  def fromCsv(
      path: String,
      options: Map[String, String] = Map("header" -> "true", "inferSchema" -> "true"),
      schemaDdl: Option[String] = None): WithinRequirement =
    fromFile(path, "csv", options, schemaDdl)
  def fromJson(
      path: String,
      options: Map[String, String] = Map.empty,
      schemaDdl: Option[String] = None): WithinRequirement =
    fromFile(path, "json", options, schemaDdl)
  def fromOrc(path: String): WithinRequirement = fromFile(path, "orc")
  def apply(source: DataSource): WithinRequirement = new WithinRequirement(source)
}

/** Constraints between two data sources
  * (reference `BetweenRequirement`, `requirements.py:1266-2238`), including
  * the tolerance machinery deriving allowed gain/loss from date-range growth
  * (`requirements.py:1368-1394`).
  */
final class BetweenRequirement private (
    val dataSource: DataSource,
    val dataSource2: DataSource,
    val dateColumn: Option[String] = None,
    val dateColumn2: Option[String] = None)
    extends Requirement {

  private def ref(
      columns: Option[Seq[String]] = None,
      condition: Option[Condition] = None): DataRef =
    DataRef(dataSource, columns, condition)

  private def ref2(
      columns: Option[Seq[String]] = None,
      condition: Option[Condition] = None): DataRef =
    DataRef(dataSource2, columns, condition)

  /** Ratio of the two sources' date spans − 1
    * (reference `requirements.py:1368-1374`).
    */
  def dateGrowthRate(spark: SparkSession): Double = (dateColumn, dateColumn2) match {
    case (Some(c1), Some(c2)) =>
      Ops.getDateGrowthRate(spark, ref(Some(Seq(c1))), ref2(Some(Seq(c2))))
    case _ =>
      throw new IllegalArgumentException(
        "Date growth can't be computed without date column.")
  }

  /** fixValue and/or deviation-over-date-growth → tolerance getter
    * (reference `_get_deviation_getter`, `requirements.py:1376-1394`).
    */
  private def deviationGetter(
      fixValue: Option[Double],
      deviation: Option[Double]): types.ToleranceGetter = (fixValue, deviation) match {
    case (None, None) =>
      throw new IllegalArgumentException("No valid gain/loss/deviation given.")
    case (Some(f), None) => _ => f
    case (None, Some(d)) => spark => dateGrowthRate(spark) + d
    case (Some(f), Some(d)) => spark => math.max(f, dateGrowthRate(spark) + d)
  }

  def addNRowsEqualityConstraint(
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NRowsEquality(
      ref(None, condition1), ref2 = Some(ref2(None, condition2)), nameOverride = name)
    this
  }

  def addNRowsMaxGainConstraint(
      constantMaxRelativeGain: Option[Double] = None,
      dateRangeGainDeviation: Option[Double] = None,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NRowsMaxGain(
      ref(None, condition1), ref2(None, condition2),
      deviationGetter(constantMaxRelativeGain, dateRangeGainDeviation), nameOverride = name)
    this
  }

  def addNRowsMinGainConstraint(
      constantMinRelativeGain: Option[Double] = None,
      dateRangeGainDeviation: Option[Double] = None,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NRowsMinGain(
      ref(None, condition1), ref2(None, condition2),
      deviationGetter(constantMinRelativeGain, dateRangeGainDeviation), nameOverride = name)
    this
  }

  def addNRowsMaxLossConstraint(
      constantMaxRelativeLoss: Option[Double] = None,
      dateRangeLossDeviation: Option[Double] = None,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NRowsMaxLoss(
      ref(None, condition1), ref2(None, condition2),
      deviationGetter(constantMaxRelativeLoss, dateRangeLossDeviation), nameOverride = name)
    this
  }

  def addNUniquesEqualityConstraint(
      columns1: Seq[String],
      columns2: Seq[String],
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NUniquesEquality(
      ref(Some(columns1), condition1), ref2 = Some(ref2(Some(columns2), condition2)),
      nameOverride = name)
    this
  }

  def addNUniquesMaxGainConstraint(
      columns1: Seq[String],
      columns2: Seq[String],
      constantMaxRelativeGain: Option[Double] = None,
      dateRangeGainDeviation: Option[Double] = None,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NUniquesMaxGain(
      ref(Some(columns1), condition1), ref2(Some(columns2), condition2),
      deviationGetter(constantMaxRelativeGain, dateRangeGainDeviation), nameOverride = name)
    this
  }

  def addNUniquesMaxLossConstraint(
      columns1: Seq[String],
      columns2: Seq[String],
      constantMaxRelativeLoss: Option[Double] = None,
      dateRangeLossDeviation: Option[Double] = None,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NUniquesMaxLoss(
      ref(Some(columns1), condition1), ref2(Some(columns2), condition2),
      deviationGetter(constantMaxRelativeLoss, dateRangeLossDeviation), nameOverride = name)
    this
  }

  def addMaxNullFractionConstraint(
      column1: String,
      column2: String,
      maxRelativeDeviation: Double = 0,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxNullFraction(
      ref(Some(Seq(column1)), condition1),
      ref2 = Some(ref2(Some(Seq(column2)), condition2)),
      maxRelativeDeviation = maxRelativeDeviation, nameOverride = name)
    this
  }

  def addNumericMinConstraint(
      column1: String,
      column2: String,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NumericMin(
      ref(Some(Seq(column1)), condition1),
      ref2 = Some(ref2(Some(Seq(column2)), condition2)), nameOverride = name)
    this
  }

  def addNumericMaxConstraint(
      column1: String,
      column2: String,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NumericMax(
      ref(Some(Seq(column1)), condition1),
      ref2 = Some(ref2(Some(Seq(column2)), condition2)), nameOverride = name)
    this
  }

  def addUniquesEqualityConstraint(
      columns1: Seq[String],
      columns2: Seq[String],
      filterFunc: filters.FilterFunc = filters.filternullElement,
      mapFunc: Option[Any => Any] = None,
      reduceFunc: Option[Seq[Any] => Seq[Any]] = None,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      outputProcessors: Option[Seq[formatting.OutputProcessor]] = None,
      cacheSize: Option[Int] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += UniquesEquality(
      ref(Some(columns1), condition1), ref2 = Some(ref2(Some(columns2), condition2)),
      filterFunc = filterFunc, mapFunc = mapFunc, reduceFunc = reduceFunc,
      outputProcessors = outputProcessors, cacheSize = cacheSize,
      nameOverride = name)
    this
  }

  def addUniquesSupersetConstraint(
      columns1: Seq[String],
      columns2: Seq[String],
      maxRelativeViolations: Double = 0,
      filterFunc: filters.FilterFunc = filters.filternullElement,
      mapFunc: Option[Any => Any] = None,
      reduceFunc: Option[Seq[Any] => Seq[Any]] = None,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      outputProcessors: Option[Seq[formatting.OutputProcessor]] = None,
      cacheSize: Option[Int] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += UniquesSuperset(
      ref(Some(columns1), condition1), ref2 = Some(ref2(Some(columns2), condition2)),
      maxRelativeViolations = maxRelativeViolations, filterFunc = filterFunc,
      mapFunc = mapFunc, reduceFunc = reduceFunc,
      outputProcessors = outputProcessors, cacheSize = cacheSize,
      nameOverride = name)
    this
  }

  def addUniquesSubsetConstraint(
      columns1: Seq[String],
      columns2: Seq[String],
      maxRelativeViolations: Double = 0,
      compareDistinct: Boolean = false,
      filterFunc: filters.FilterFunc = filters.filternullElement,
      mapFunc: Option[Any => Any] = None,
      reduceFunc: Option[Seq[Any] => Seq[Any]] = None,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      outputProcessors: Option[Seq[formatting.OutputProcessor]] = None,
      cacheSize: Option[Int] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += UniquesSubset(
      ref(Some(columns1), condition1), ref2 = Some(ref2(Some(columns2), condition2)),
      maxRelativeViolations = maxRelativeViolations, compareDistinct = compareDistinct,
      filterFunc = filterFunc, mapFunc = mapFunc, reduceFunc = reduceFunc,
      outputProcessors = outputProcessors, cacheSize = cacheSize,
      nameOverride = name)
    this
  }

  def addNumericMeanConstraint(
      column1: String,
      column2: String,
      maxAbsoluteDeviation: Double,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NumericMean(
      ref(Some(Seq(column1)), condition1), maxAbsoluteDeviation,
      ref2 = Some(ref2(Some(Seq(column2)), condition2)), nameOverride = name)
    this
  }

  def addNumericPercentileConstraint(
      column1: String,
      column2: String,
      percentage: Double,
      maxAbsoluteDeviation: Option[Double] = None,
      maxRelativeDeviation: Option[Double] = None,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += NumericPercentile(
      ref(Some(Seq(column1)), condition1), percentage, maxAbsoluteDeviation,
      maxRelativeDeviation, ref2 = Some(ref2(Some(Seq(column2)), condition2)),
      nameOverride = name)
    this
  }

  def addDateMinConstraint(
      column1: String,
      column2: String,
      useLowerBoundReference: Boolean = true,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += DateMin(
      ref(Some(Seq(column1)), condition1), useLowerBoundReference,
      ref2 = Some(ref2(Some(Seq(column2)), condition2)), nameOverride = name)
    this
  }

  def addDateMaxConstraint(
      column1: String,
      column2: String,
      useUpperBoundReference: Boolean = true,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += DateMax(
      ref(Some(Seq(column1)), condition1), useUpperBoundReference,
      ref2 = Some(ref2(Some(Seq(column2)), condition2)), nameOverride = name)
    this
  }

  def addVarcharMinLengthConstraint(
      column1: String,
      column2: String,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += VarCharMinLength(
      ref(Some(Seq(column1)), condition1),
      ref2 = Some(ref2(Some(Seq(column2)), condition2)), nameOverride = name)
    this
  }

  def addVarcharMaxLengthConstraint(
      column1: String,
      column2: String,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += VarCharMaxLength(
      ref(Some(Seq(column1)), condition1),
      ref2 = Some(ref2(Some(Seq(column2)), condition2)), nameOverride = name)
    this
  }

  def addColumnSubsetConstraint(name: Option[String] = None): this.type = {
    constraintsBuffer += ColumnSubset(ref(), ref2(), nameOverride = name); this
  }

  def addColumnSupersetConstraint(name: Option[String] = None): this.type = {
    constraintsBuffer += ColumnSuperset(ref(), ref2(), nameOverride = name); this
  }

  def addColumnTypeConstraint(
      column1: String,
      column2: String,
      name: Option[String] = None): this.type = {
    constraintsBuffer += ColumnType(
      ref(Some(Seq(column1))), ref2 = Some(ref2(Some(Seq(column2)))), nameOverride = name)
    this
  }

  def addRowEqualityConstraint(
      columns1: Option[Seq[String]],
      columns2: Option[Seq[String]],
      maxMissingFraction: Double,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += RowEquality(
      ref(columns1, condition1), ref2(columns2, condition2), _ => maxMissingFraction,
      nameOverride = name)
    this
  }

  def addRowSubsetConstraint(
      columns1: Option[Seq[String]],
      columns2: Option[Seq[String]],
      constantMaxMissingFraction: Option[Double],
      dateRangeLossFraction: Option[Double] = None,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += RowSubset(
      ref(columns1, condition1), ref2(columns2, condition2),
      deviationGetter(constantMaxMissingFraction, dateRangeLossFraction),
      nameOverride = name)
    this
  }

  def addRowSupersetConstraint(
      columns1: Option[Seq[String]],
      columns2: Option[Seq[String]],
      constantMaxMissingFraction: Option[Double],
      dateRangeLossFraction: Option[Double] = None,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += RowSuperset(
      ref(columns1, condition1), ref2(columns2, condition2),
      deviationGetter(constantMaxMissingFraction, dateRangeLossFraction),
      nameOverride = name)
    this
  }

  def addRowMatchingEqualityConstraint(
      matchingColumns1: Seq[String],
      matchingColumns2: Seq[String],
      comparisonColumns1: Seq[String],
      comparisonColumns2: Seq[String],
      maxMissingFraction: Double,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += RowMatchingEquality(
      ref(Some(matchingColumns1 ++ comparisonColumns1), condition1),
      ref2(Some(matchingColumns2 ++ comparisonColumns2), condition2),
      matchingColumns1, matchingColumns2, comparisonColumns1, comparisonColumns2,
      _ => maxMissingFraction, nameOverride = name)
    this
  }

  /** Beyond-reference: train/eval contamination budget — the fraction of
    * the FIRST table's documents with a near-duplicate (cross-table
    * MinHash+LSH, exact Jaccard ≥ `jaccardThreshold`) in the second table
    * must stay ≤ `maxFraction`.
    */
  def addMaxCrossNearDupFractionConstraint(
      column1: String,
      column2: String,
      maxFraction: Double,
      jaccardThreshold: Double = 0.9,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxCrossNearDupFraction(
      ref(Some(Seq(column1)), condition1), ref2(Some(Seq(column2)), condition2),
      column1, column2, refValue = Some(maxFraction),
      jaccardThreshold = jaccardThreshold, nameOverride = name)
    this
  }

  /** Beyond-reference: event freshness budget — the fraction of the FIRST
    * table's rows with no second-table row (per `keyColumns`, backward
    * as-of) at most `toleranceSeconds` before them must stay ≤
    * `maxFraction` ("every trade has a quote at most 5 s old").
    */
  def addMaxStaleAsofFractionConstraint(
      keyColumns: Seq[String],
      tsColumn1: String,
      tsColumn2: String,
      toleranceSeconds: Double,
      maxFraction: Double,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxStaleAsofFraction(
      ref(Some(keyColumns :+ tsColumn1), condition1),
      ref2(Some(keyColumns :+ tsColumn2), condition2),
      keyColumns, tsColumn1, tsColumn2,
      toleranceSeconds = toleranceSeconds, refValue = Some(maxFraction),
      nameOverride = name)
    this
  }

  /** Beyond-reference: semantic cross-corpus contamination budget — at
    * most `maxFraction` of the first table's embedding vectors may have a
    * ≥ `cosineThreshold` near-duplicate in the second table.
    */
  def addMaxCrossSemanticDupFractionConstraint(
      embeddingColumn1: String,
      embeddingColumn2: String,
      maxFraction: Double,
      cosineThreshold: Double = 0.9,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxCrossSemanticDupFraction(
      ref(Some(Seq(embeddingColumn1)), condition1),
      ref2(Some(Seq(embeddingColumn2)), condition2),
      embeddingColumn1, embeddingColumn2, refValue = Some(maxFraction),
      cosineThreshold = cosineThreshold, nameOverride = name)
    this
  }

  /** Beyond-reference: verbatim substring-contamination budget — the
    * fraction of first-table documents whose winnowing-fingerprint
    * containment in the second table reaches `minContainment` must stay
    * ≤ `maxFraction` (any shared normalized substring of ≥
    * `shingleK + winnowWindow - 1` chars is guaranteed detected).
    */
  def addMaxSubstringContaminationFractionConstraint(
      textColumn1: String,
      textColumn2: String,
      maxFraction: Double,
      shingleK: Int = 8,
      winnowWindow: Int = 4,
      minContainment: Double = 0.5,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxSubstringContaminationFraction(
      ref(Some(Seq(textColumn1)), condition1),
      ref2(Some(Seq(textColumn2)), condition2),
      textColumn1, textColumn2, refValue = Some(maxFraction),
      shingleK = shingleK, winnowWindow = winnowWindow,
      minContainment = minContainment, nameOverride = name)
    this
  }

  /** Beyond-reference: interval coverage budget — at least `minFraction`
    * of the first table's `pointColumn` values (optionally per
    * `keyColumns`) must fall inside some second-table
    * [`startColumn`, `endColumn`) interval. Bucketed range-join rewrite —
    * no nested-loop plan at any scale.
    */
  def addMinPointCoverageFractionConstraint(
      pointColumn: String,
      startColumn: String,
      endColumn: String,
      minFraction: Double,
      keyColumns: Seq[String] = Nil,
      inclusiveEnd: Boolean = false,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MinPointCoverageFraction(
      ref(Some(keyColumns :+ pointColumn), condition1),
      ref2(Some(keyColumns ++ Seq(startColumn, endColumn)), condition2),
      pointColumn, startColumn, endColumn, keyColumns, inclusiveEnd,
      refValue = Some(minFraction), nameOverride = name)
    this
  }

  /** Beyond-reference: referential integrity — at most `maxOrphanFraction`
    * of the first table's rows may reference no second-table row on the
    * given key columns (0 = strict foreign key; NULL child keys exempt per
    * SQL MATCH SIMPLE).
    */
  def addReferentialIntegrityConstraint(
      childColumns: Seq[String],
      parentColumns: Seq[String],
      maxOrphanFraction: Double = 0.0,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxOrphanFraction(
      ref(Some(childColumns), condition1),
      ref2(Some(parentColumns), condition2),
      childColumns, parentColumns,
      refValue = Some(maxOrphanFraction), nameOverride = name)
    this
  }

  /** Beyond-reference: exact-key contamination budget — at most
    * `maxFraction` of first-table rows may share their key tuple (e.g. a
    * normalized URL or content fingerprint) with the second table.
    */
  def addMaxKeyOverlapFractionConstraint(
      columns1: Seq[String],
      columns2: Seq[String],
      maxFraction: Double,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxKeyOverlapFraction(
      ref(Some(columns1), condition1), ref2(Some(columns2), condition2),
      columns1, columns2, refValue = Some(maxFraction), nameOverride = name)
    this
  }

  /** Beyond-reference: PSI drift budget over explicit equi-width buckets
    * (0.1 = watch, 0.25 = act, per the usual monitoring rule of thumb).
    */
  def addMaxPsiDriftConstraint(
      column: String,
      lo: Double,
      hi: Double,
      nBuckets: Int,
      maxPsi: Double,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxPsiDrift(
      ref(Some(Seq(column)), condition1), ref2(Some(Seq(column)), condition2),
      column, lo, hi, nBuckets, refValue = Some(maxPsi), nameOverride = name)
    this
  }

  /** Beyond-reference: Wasserstein-1 (earth mover's) drift budget in the
    * column's own units via `scale` fixed-point digits — the
    * histogram-free companion of the PSI budget
    * ([[graft.ops.Drift.wasserstein1]]).
    */
  def addMaxWassersteinDriftConstraint(
      column: String,
      maxW1: Double,
      scale: Long = 1L,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxWassersteinDrift(
      ref(Some(Seq(column)), condition1), ref2(Some(Seq(column)), condition2),
      column, scale, refValue = Some(maxW1), nameOverride = name)
    this
  }

  /** Beyond-reference: Cramér–von Mises drift budget — the L² CDF-gap
    * integral that registers broad small drifts the KS maximum misses
    * ([[graft.ops.Stats.cvm2Sample]]).
    */
  def addMaxCvmDriftConstraint(
      column: String,
      maxCvm: Double,
      scale: Long = 1L,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxCvmDrift(
      ref(Some(Seq(column)), condition1), ref2(Some(Seq(column)), condition2),
      column, scale, refValue = Some(maxCvm), nameOverride = name)
    this
  }

  /** Beyond-reference: KL divergence of the first corpus' hashed-n-gram
    * text distribution against the second's must stay ≤ `maxKl`
    * ([[graft.ops.Dsir.hashedNgramKl]] — the text sibling of the PSI
    * drift budget).
    */
  def addMaxHashedNgramKlConstraint(
      textColumn1: String,
      textColumn2: String,
      maxKl: Double,
      nBuckets: Int = 4096,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += MaxHashedNgramKlDrift(
      ref(Some(Seq(textColumn1)), condition1),
      ref2(Some(Seq(textColumn2)), condition2),
      textColumn1, textColumn2, nBuckets, refValue = Some(maxKl),
      nameOverride = name)
    this
  }

  /** Beyond-reference: chi-square homogeneity drift on a categorical
    * column — fails when the two snapshots differ at `significanceLevel`.
    */
  def addChiSquareDriftConstraint(
      column: String,
      significanceLevel: Double = 0.05,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    constraintsBuffer += ChiSquareDrift(
      ref(Some(Seq(column)), condition1), ref2(Some(Seq(column)), condition2),
      column, significanceLevel, nameOverride = name)
    this
  }

  def addKs2SampleConstraint(
      column1: String,
      column2: String,
      significanceLevel: Double = 0.05,
      condition1: Option[Condition] = None,
      condition2: Option[Condition] = None,
      name: Option[String] = None): this.type = {
    require(column1.nonEmpty && column2.nonEmpty, "Column names have to be given.")
    require(
      significanceLevel > 0.0 && significanceLevel <= 1.0,
      "The requested significance level has to be in (0.0, 1.0]. Default is 0.05.")
    constraintsBuffer += KolmogorovSmirnov2Sample(
      ref(Some(Seq(column1)), condition1), ref2(Some(Seq(column2)), condition2),
      significanceLevel, nameOverride = name)
    this
  }
}

object BetweenRequirement {
  def fromTables(
      table1: String,
      table2: String,
      dateColumn: Option[String] = None,
      dateColumn2: Option[String] = None): BetweenRequirement =
    new BetweenRequirement(TableSource(table1), TableSource(table2), dateColumn, dateColumn2)

  def fromParquet(
      path1: String,
      path2: String,
      dateColumn: Option[String] = None,
      dateColumn2: Option[String] = None): BetweenRequirement =
    new BetweenRequirement(
      ParquetSource(path1), ParquetSource(path2), dateColumn, dateColumn2)

  def fromRawQueries(
      query1: String,
      query2: String,
      name1: String,
      name2: String,
      dateColumn: Option[String] = None,
      dateColumn2: Option[String] = None): BetweenRequirement =
    new BetweenRequirement(
      QuerySource(query1, name1), QuerySource(query2, name2), dateColumn, dateColumn2)

  def fromDataFrames(
      frame1: DataFrame,
      frame2: DataFrame,
      name1: String,
      name2: String,
      dateColumn: Option[String] = None,
      dateColumn2: Option[String] = None): BetweenRequirement =
    new BetweenRequirement(
      FrameSource(frame1, name1), FrameSource(frame2, name2), dateColumn, dateColumn2)

  /** Cross-format comparison (e.g. staged csv vs published parquet) — each
    * side is any Spark file format with its own reader options/schema. */
  def fromFiles(
      path1: String,
      format1: String,
      path2: String,
      format2: String,
      options1: Map[String, String] = Map.empty,
      options2: Map[String, String] = Map.empty,
      schemaDdl1: Option[String] = None,
      schemaDdl2: Option[String] = None,
      dateColumn: Option[String] = None,
      dateColumn2: Option[String] = None): BetweenRequirement =
    new BetweenRequirement(
      FileSource(path1, format1, options1, schemaDdl1),
      FileSource(path2, format2, options2, schemaDdl2),
      dateColumn, dateColumn2)

  def apply(
      source1: DataSource,
      source2: DataSource,
      dateColumn: Option[String] = None,
      dateColumn2: Option[String] = None): BetweenRequirement =
    new BetweenRequirement(source1, source2, dateColumn, dateColumn2)
}
