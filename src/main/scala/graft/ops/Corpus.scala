package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators for training-data pipelines, beyond the
  * near-dup family in [[Dedup]]: repetition quality signals (the
  * top-n-gram / duplicate-n-gram character fractions used by public
  * corpus-filtering recipes), eval-set decontamination via word-n-gram
  * overlap, corpus-level vocabulary top-k, deterministic hash-based
  * train/val/test splits, stratified sampling, weighted training mixes,
  * and GPT-style sequence packing.
  *
  * 100 TB posture: everything here is either a per-document column
  * computation, a (doc, gram)-keyed aggregation with map-side partials, a
  * distributed top-k (`TakeOrderedAndProject`), or a broadcast join against
  * a small (eval-set-sized) gram set. No global windows, no driver-side
  * loops, no cartesian products.
  */
object Corpus {

  /** Word n-grams of the token array WITH multiplicity (unlike
    * `Dedup.wordNgrams`, which de-duplicates) — repetition signals need the
    * occurrence counts. Token expression lambda-bound so it evaluates once
    * per row.
    */
  private[graft] def ngramsWithMultiplicity(tokensCol: Column, n: Int): Column =
    Hof.bound(tokensCol) { toks =>
      filter(
        transform(
          sequence(lit(0), greatest(size(toks) - n, lit(0))),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))),
        g => size(split(g, " ")) === n)
    }

  /** Repetition quality signals per document (Gopher-style filters,
    * word-n-gram flavor — the driver corpus has no line structure):
    *
    *   - `top2_frac`: characters covered by the most frequent word 2-gram
    *     (occurrences × gram length) over normalized-text length. Ties break
    *     to the lexicographically smallest gram so the result is
    *     deterministic across engines.
    *   - `dup5_frac`: characters covered by all word 5-grams occurring more
    *     than once (Σ occurrences × gram length) over normalized-text
    *     length. Overlapping occurrences are counted per occurrence (the
    *     cheap upper-bound flavor), so the value may exceed 1 on
    *     pathologically repetitive text — callers threshold it, they don't
    *     sum it.
    *
    * Documents with fewer tokens than the gram width get 0.0 (nothing
    * repeats). NULL texts are excluded, matching `TextAnalysis.analyze`.
    *
    * Plan shape: two explode → (doc, gram) hash aggregations (map-side
    * partials shrink each to one row per distinct gram per doc), a
    * doc-partitioned window for the arg-max, joins back on the doc id.
    * Shuffle volume ∝ token count — the same order as the minhash pass any
    * curation pipeline already runs.
    */
  def repetitionSignals(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val base = Dedup
      .spread(df.where(col(textCol).isNotNull)
        .select(col(idCol), col(textCol)))
      .select(
        col(idCol),
        TextAnalysis.normalize(col(textCol)).as("dj_norm"))
      .select(
        col(idCol),
        length(col("dj_norm")).as("dj_len"),
        split(col("dj_norm"), " ").as("dj_toks"))

    def gramCounts(n: Int): DataFrame =
      base
        .select(
          col(idCol),
          col("dj_len"),
          explode(ngramsWithMultiplicity(col("dj_toks"), n)).as("dj_gram"))
        .groupBy(col(idCol), col("dj_gram"))
        .agg(count(lit(1)).as("dj_cnt"), max(col("dj_len")).as("dj_len"))

    val top2 = gramCounts(2)
      .withColumn(
        "dj_rank",
        row_number().over(
          Window.partitionBy(col(idCol)).orderBy(col("dj_cnt").desc, col("dj_gram").asc)))
      .where(col("dj_rank") === 1)
      .select(
        col(idCol),
        round(
          col("dj_cnt") * length(col("dj_gram")) / greatest(col("dj_len"), lit(1)),
          6).as("top2_frac"))

    val dup5 = gramCounts(5)
      .groupBy(col(idCol))
      .agg(
        round(
          sum(when(col("dj_cnt") > 1, col("dj_cnt") * length(col("dj_gram"))).otherwise(0L))
            / greatest(max(col("dj_len")), lit(1)),
          6).as("dup5_frac"))

    base
      .select(col(idCol))
      .join(top2, Seq(idCol), "left")
      .join(dup5, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("top2_frac"), lit(0.0)).as("top2_frac"),
        coalesce(col("dup5_frac"), lit(0.0)).as("dup5_frac"))
  }

  /** Benchmark decontamination: corpus documents sharing at least one
    * normalized word `n`-gram with any eval-set document, with the count of
    * distinct shared grams (the usual flag-and-drop signal before
    * training).
    *
    * The eval-set gram set is distinct-reduced and broadcast — eval sets
    * are small by construction (thousands of documents), so the corpus is
    * scanned exactly once with no shuffle of its gram stream. With
    * `hashKeys` the join key is `xxhash64(gram)` (8 bytes instead of an
    * ~n-word string — the 100 TB default; collisions at 2⁻⁶⁴ per pair can
    * only over-flag); the gate query passes `hashKeys = false` so a SQL
    * oracle can replicate the join on the raw gram strings.
    */
  def decontaminate(
      corpus: DataFrame,
      evalSet: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8,
      hashKeys: Boolean = true): DataFrame = {
    def grams(d: DataFrame): DataFrame = {
      val g = Dedup
        .spread(d.where(col(textCol).isNotNull)
          .select(col(idCol), col(textCol)))
        .select(
          col(idCol),
          explode(Dedup.wordNgrams(TextAnalysis.tokens(col(textCol)), n)).as("dj_gram"))
      if (hashKeys) g.select(col(idCol), xxhash64(col("dj_gram")).as("dj_gram")) else g
    }
    val evalGrams = broadcast(grams(evalSet).select(col("dj_gram")).distinct())
    grams(corpus)
      .join(evalGrams, "dj_gram")
      .groupBy(col(idCol))
      // wordNgrams is distinct within a document and evalGrams is distinct,
      // so the plain count IS the distinct shared-gram count
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Corpus-level vocabulary: the `k` most frequent normalized whitespace
    * tokens, ties broken by token ascending (deterministic LIMIT boundary).
    *
    * Plan shape: explode → hash aggregate with map-side partials (one row
    * per distinct token reaches the shuffle) → `TakeOrderedAndProject`
    * (distributed top-k, never a global sort of the vocabulary).
    */
  def vocabularyTopK(df: DataFrame, textCol: String, k: Int): DataFrame =
    // NOT spread (r15): sub-0.2 s gate — the input exchange costs more
    // than the serial tokenize it parallelizes
    df.where(col(textCol).isNotNull)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .sort(col("n").desc, col("token").asc)
      .limit(k)

  /** Deterministic train/val/test assignment: a document's split is a pure
    * function of `md5(id ":" seed)`, so membership is stable across runs,
    * engines, and re-partitioning — no sampling state, no RNG, no shuffle
    * (a per-row projection the scan absorbs).
    *
    * The md5 hex digest is uniform over [0, 16³²); cumulative weight
    * boundaries are materialized as 32-digit hex-string literals and
    * compared lexicographically (hex strings of equal length order like the
    * integers they encode), which any SQL engine reproduces bit-for-bit —
    * no float arithmetic at the boundary. Weights must be positive and sum
    * to 1 within 1e-9.
    */
  def splitColumn(idCol: Column, weights: Seq[(String, Double)], seed: String): Column = {
    require(weights.nonEmpty && weights.forall(_._2 > 0), s"weights must be positive: $weights")
    val total = weights.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9, s"weights must sum to 1, got $total")
    val u = hashU(idCol, seed)
    weights.init.zip(splitBoundsHex(weights)) match {
      case Seq() => lit(weights.head._1)
      case ((name0, _), bound0) +: rest =>
        rest
          .foldLeft(when(u < lit(bound0), name0)) { case (c, ((name, _), bound)) =>
            c.when(u < lit(bound), name)
          }
          .otherwise(weights.last._1)
    }
  }

  /** Cumulative split boundaries as 32-digit lowercase hex strings (one per
    * weight except the last, which is the `otherwise` branch). Exact
    * `java.math.BigDecimal` arithmetic — Scala's `BigDecimal` default
    * DECIMAL128 context would round 2¹²⁸ to 34 significant digits and shift
    * every boundary by thousands of lattice points.
    */
  private[graft] def splitBoundsHex(weights: Seq[(String, Double)]): Seq[String] =
    weights.init
      .scanLeft(java.math.BigDecimal.ZERO) { case (acc, (_, w)) =>
        acc.add(new java.math.BigDecimal(w))
      }
      .tail
      .map(c => "%032x".format(BigInt(c.multiply(LatticeSpace).toBigInteger)))

  /** 2¹²⁸ as an exact decimal — the membership-hash lattice every split /
    * rate boundary is quantized to.
    */
  private val LatticeSpace =
    new java.math.BigDecimal(BigInt(2).pow(128).bigInteger)

  /** `df` with a `split` column assigned by [[splitColumn]]. */
  def assignSplits(
      df: DataFrame,
      idCol: String,
      weights: Seq[(String, Double)],
      seed: String = "graft"): DataFrame =
    df.withColumn("split", splitColumn(col(idCol), weights, seed))

  /** Near-dup leakage across train/eval splits: given cluster assignments
    * (`idCol`, `clusterCol` — e.g. `Dedup.connectedComponents` output) and
    * per-document split labels (`idCol`, `splitCol` — e.g. [[assignSplits]]
    * output), report every document OUTSIDE the reference split whose
    * cluster also contains at least one reference-split document — the
    * eval/test rows whose content leaks into training through a
    * near-duplicate that exact decontamination misses. Emits
    * (`idCol`, `clusterCol`, `splitCol`, n_train, n_docs) per leaked
    * document; empty result = clean separation.
    *
    * 100 TB posture: one id-keyed equi-join (clusters ⋈ splits), one
    * cluster-keyed aggregate (map-side partial count), one join back on
    * cluster id — all AQE-managed equi-shuffles; nothing driver-side, no
    * windows. A pathological giant cluster only inflates its own join
    * group (and is exactly the cluster the report should surface).
    */
  def splitLeakage(
      clusters: DataFrame,
      idCol: String,
      clusterCol: String,
      splits: DataFrame,
      splitCol: String,
      trainSplit: String = "train"): DataFrame = {
    val members =
      clusters.join(splits.select(col(idCol), col(splitCol)), Seq(idCol))
    val perCluster = members
      .groupBy(col(clusterCol))
      .agg(
        sum(when(col(splitCol) === trainSplit, 1L).otherwise(0L)).as("n_train"),
        count(lit(1)).as("n_docs"))
    members
      .join(perCluster, Seq(clusterCol))
      .where(col(splitCol) =!= trainSplit && col("n_train") > 0)
      .select(
        col(idCol), col(clusterCol), col(splitCol),
        col("n_train"), col("n_docs"))
  }

  private def hashU(idCol: Column, seed: String): Column =
    md5(concat(idCol.cast("string"), lit(":" + seed)).cast("binary"))

  /** Upper boundary of a [0,1) rate as a 32-digit hex literal (the same
    * integer-lattice comparison as [[splitColumn]] — no float arithmetic at
    * the membership boundary).
    */
  private[graft] def rateBoundHex(rate: Double): String = {
    // clamp to the 32-digit lattice: rate >= 1 would format 33 hex digits,
    // which breaks equal-length lexicographic ordering (callers shortcut
    // rate >= 1 anyway, but the helper stays total and monotone)
    val raw = new java.math.BigDecimal(rate).multiply(LatticeSpace).toBigInteger
    val max = BigInt(2).pow(128) - 1
    "%032x".format(BigInt(raw).min(max))
  }

  /** Deterministic stratified sample: the `k` smallest
    * `md5(id ":" seed ":sample")` values per stratum (plus a `sample_rank`
    * column, 1-based within the stratum). Membership is a pure function of
    * (id, seed), stable across runs, engines, and partitionings. The seed
    * is salted per operator role, so a default-seed sample is independent
    * of the default-seed split/packing order instead of being drawn from
    * the head of the `train` assignment. Rows with a NULL id are excluded —
    * they have no stable identity to anchor the determinism contract (the
    * same policy as [[weightedMix]]).
    *
    * 100 TB posture: exact but skew-proof — a naive
    * `row_number over (partition by stratum)` funnels the whole corpus
    * through one reducer per stratum (deadly with e.g. 5 language strata).
    * Instead phase 1 takes a salted local top-k per (stratum, input
    * partition) — the shuffle is balanced across `nPartitions × strata`
    * keys — and phase 2 ranks only the ≤ k·nPartitions survivors per
    * stratum. Phase 1 can never evict a global winner (a stratum's global
    * top-k rows are each in their own partition's local top-k), so the
    * result is exactly the single-window answer.
    */
  def stratifiedSample(
      df: DataFrame,
      stratumCol: String,
      idCol: String,
      k: Int,
      seed: String = "graft"): DataFrame = {
    require(k > 0, s"sample size must be positive: $k")
    val local = df
      .where(col(idCol).isNotNull)
      .withColumn("dj_u", hashU(col(idCol), seed + ":sample"))
      .withColumn("dj_salt", spark_partition_id())
      .withColumn(
        "dj_rn",
        row_number().over(
          Window.partitionBy(col(stratumCol), col("dj_salt"))
            .orderBy(col("dj_u"), col(idCol))))
      .where(col("dj_rn") <= k)
      .drop("dj_salt", "dj_rn")
    local
      .withColumn(
        "sample_rank",
        row_number().over(
          Window.partitionBy(col(stratumCol)).orderBy(col("dj_u"), col(idCol))))
      .where(col("sample_rank") <= k)
      .drop("dj_u")
  }

  /** GPT-style sequence packing (training-batch construction): documents
    * are concatenated in a deterministic order and the stream is cut every
    * `capacity` tokens; each document is assigned the pack window its first
    * token falls in (documents may straddle window boundaries, exactly like
    * concat-and-chunk pretraining tokenization). Returns (input row,
    * `pack_bucket`, `pack_id`, `pack_offset`).
    *
    * Order is `md5(id ":" seed ":pack")` within `nBuckets` hash buckets —
    * pure functions of the id (salted per operator role, like
    * [[stratifiedSample]]), so the packing is stable across runs, engines,
    * and partitionings; NULL-id rows are excluded for the same reason, and
    * a NULL token count packs as width 0 at its position (the offset stream
    * stays non-decreasing). 100 TB posture: the only shuffle is the
    * per-bucket running-sum window, and buckets (thousands) are numerous
    * and hash-balanced — no global sort, no single-reducer funnel; each
    * bucket is an independent token stream (the standard sharded-packing
    * shape).
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      tokenCountCol: String,
      capacity: Int,
      nBuckets: Int = 1024,
      seed: String = "graft"): DataFrame = {
    require(capacity > 0, s"capacity must be positive: $capacity")
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    val u = hashU(col(idCol), seed + ":pack")
    // first 8 hex digits of the digest, uniform over [0, 16^8) — the same
    // integer-lattice trick as the split/rate boundaries, reproducible in
    // any engine with md5 + base-16 parse
    val bucket = pmod(conv(substring(u, 1, 8), 16, 10).cast("long"), lit(nBuckets))
    // coalesce the COUNT, not the final offset: a NULL count must occupy
    // zero width at its position, not teleport the document to offset 0
    val cnt = coalesce(col(tokenCountCol).cast("long"), lit(0L))
    // explicit ROWS frame: the default RANGE frame would hand tied rows
    // (duplicate ids) their whole peer-group's sum, diverging from
    // concat-and-chunk semantics and from the oracle's ROWS spelling
    val w = Window.partitionBy(col("pack_bucket")).orderBy(col("dj_u"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.where(col(idCol).isNotNull)
      .withColumn("dj_u", u)
      .withColumn("pack_bucket", bucket)
      .withColumn("pack_offset", (sum(cnt).over(w) - cnt).cast("long"))
      // integral division — no float at the window boundary, honoring the
      // module's exact-lattice rule even past 2^53 tokens per bucket
      .withColumn("pack_id", expr(s"pack_offset div ${capacity}L"))
      .drop("dj_u")
  }

  /** Bigram language-model cross-entropy per document (the perplexity-
    * filter proxy of CCNet/Gopher-style curation, self-trained on the
    * corpus): score = -mean ln P(w2|w1) over the document's adjacent
    * normalized-token pairs, with add-one smoothing over the corpus
    * vocabulary — P = (C(w1,w2)+1) / (C(w1)+V). High scores mark
    * improbable-token-sequence documents (boilerplate, encoding junk,
    * non-language).
    *
    * Plan: one token explode feeds (a) the bigram stream (index explode,
    * no self-join), (b) the bigram/context count aggregates (map-side
    * partials, vocabulary-sized outputs) rejoined on their keys — joins,
    * not token-partitioned windows, for the same stopword-skew reason as
    * [[tfidfTopK]] — and (c) V, the one bounded driver scalar. The per-doc
    * mean runs over DECIMAL-cast log terms: a double sum's value depends
    * on partial-aggregation arrival order, and this keeps the score
    * bit-deterministic across runs and engines.
    *
    * Documents with fewer than two tokens carry no bigrams and are absent
    * from the result (callers treat them via the length filters instead).
    */
  def bigramCrossEntropy(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // NOT spread, NOT cached (r15): both were measured slower here —
    // the spread exchange doubled the vocab-size job (q_lm_score 0.69 ->
    // 2.07 s) and caching the token arrays cost more than the second
    // tokenize it saves (still ~1.6 s vs the 0.84 s original on the same
    // window); the original two-pass spelling stands
    val base = df.where(col(textCol).isNotNull)
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("dj_toks"))
    val vocabSize = base
      .select(explode(col("dj_toks")).as("token"))
      .where(col("token") =!= "")
      .agg(count_distinct(col("token")))
      .head().getLong(0)
    val bigrams = base
      .select(
        col(idCol),
        col("dj_toks"),
        explode(
          when(size(col("dj_toks")) > 1,
            sequence(lit(1), size(col("dj_toks")) - 1))
            .otherwise(array().cast("array<int>"))).as("dj_i"))
      .select(
        col(idCol),
        element_at(col("dj_toks"), col("dj_i")).as("w1"),
        element_at(col("dj_toks"), col("dj_i") + 1).as("w2"))
    val cBi = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("dj_c12"))
    val cUni = bigrams.groupBy(col("w1")).agg(count(lit(1)).as("dj_c1"))
    bigrams
      .join(cBi, Seq("w1", "w2"))
      .join(cUni, Seq("w1"))
      .withColumn(
        "dj_lp",
        log((col("dj_c12") + 1.0) / (col("dj_c1") + lit(vocabSize.toDouble)))
          .cast("decimal(28,12)"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        (-avg(col("dj_lp"))).as("cross_entropy"))
  }

  /** Trigram stupid-backoff language-model scoring (Brants et al. 2007,
    * "Large Language Models in Machine Translation" — the published
    * web-scale recipe: unnormalized backoff scores from raw counts, no
    * discounting pass, so the model is nothing but mergeable count
    * tables): train on `train`, score every document of `docs` with the
    * mean negative log-score of its tokens. The CCNet-style perplexity
    * filter with a model that builds in two aggregations.
    *
    * Score of token `w` at position `i` (1-based, over empty-filtered
    * normalized tokens; `b` = previous token, `a` = the one before):
    * start at the longest context the position HAS (trigram for i ≥ 3,
    * bigram for i = 2, unigram for i = 1) and back off while the count is
    * zero, each step multiplying `alpha`:
    *   - trigram level: c₃(a,b,w) / c₂(a,b)
    *   - bigram level:  c₂(b,w) / c₁(b)
    *   - unigram level: c₁(w) / T
    *   - OOV floor (one step below unigram): 1 / (T + V + 1)
    * where T = train token count, V = train vocabulary size.
    *
    * Determinism contract: every count is an exact integer, each
    * log-score term is a double computed from exact integers then cast to
    * `DECIMAL(28,12)` before the per-document mean — the score never
    * depends on partitioning or engine fold order (same discipline as
    * [[bigramCrossEntropy]] / [[bm25TopK]]).
    *
    * Scale shape: the model IS three count tables (vocabulary-bounded
    * rows — V, V², V³ worst case but Zipf-bounded in practice) built from
    * ONE train-side position explode; T and V are the one bounded driver
    * scalar read. Scoring is the position explode of `docs` LEFT-joined
    * against the count tables on their keys — equi-joins, not windows, so
    * AQE broadcasts small models and splits stopword skew. Documents whose
    * filtered token array is empty carry no positions and are absent from
    * the result.
    */
  def stupidBackoffScore(
      train: DataFrame,
      docs: DataFrame,
      textCol: String,
      idCol: String,
      alpha: Double = 0.4): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1): $alpha")
    // NOT spread (r15): both sides pay the exchange and the bench read
    // 0.70 -> 0.87 s with it — reverted (the tfidf/zipf lesson: small
    // gates whose downstream aggregates re-shuffle anyway)
    def toks(d: DataFrame): DataFrame = d
      .where(col(textCol).isNotNull)
      .select(
        col(idCol),
        filter(TextAnalysis.tokens(col(textCol)), t => t =!= "").as("dj_toks"))
      .where(size(col("dj_toks")) > 0)
    def positions(d: DataFrame): DataFrame = toks(d)
      .select(
        col(idCol),
        col("dj_toks"),
        explode(sequence(lit(1), size(col("dj_toks")))).as("dj_i"))
      .select(
        col(idCol),
        element_at(col("dj_toks"), col("dj_i")).as("dj_w"),
        when(col("dj_i") >= 2, element_at(col("dj_toks"), col("dj_i") - 1))
          .as("dj_b"),
        when(col("dj_i") >= 3, element_at(col("dj_toks"), col("dj_i") - 2))
          .as("dj_a"))

    val trainPos = positions(train)
    // T and V: one scan, one bounded driver read
    val tv = trainPos
      .agg(count(lit(1)).as("t"), count_distinct(col("dj_w")).as("v"))
      .head()
    val (bigT, bigV) = (tv.getLong(0), tv.getLong(1))
    val c1 = trainPos.groupBy(col("dj_w")).agg(count(lit(1)).as("dj_c1"))
    val c2 = trainPos.where(col("dj_b").isNotNull)
      .groupBy(col("dj_b"), col("dj_w")).agg(count(lit(1)).as("dj_c2"))
    val c3 = trainPos.where(col("dj_a").isNotNull)
      .groupBy(col("dj_a"), col("dj_b"), col("dj_w"))
      .agg(count(lit(1)).as("dj_c3"))

    val scored = positions(docs)
      .join(c3, Seq("dj_a", "dj_b", "dj_w"), "left")
      .join(c2, Seq("dj_b", "dj_w"), "left")
      .join(
        c2.select(
          col("dj_b").as("dj_a"), col("dj_w").as("dj_b"),
          col("dj_c2").as("dj_cab")),
        Seq("dj_a", "dj_b"), "left")
      .join(c1, Seq("dj_w"), "left")
      .join(
        c1.select(col("dj_w").as("dj_b"), col("dj_c1").as("dj_cb")),
        Seq("dj_b"), "left")
    // longest context the position has: 3 / 2 / 1
    val start = when(col("dj_a").isNotNull, 3)
      .when(col("dj_b").isNotNull, 2).otherwise(1)
    val lnA = math.log(alpha)
    // ln(α^(start−used) · p_used) = (start−used)·ln α + ln p_used; a
    // trigram hit implies its context count is positive (c₃ ≤ c₂(a,b))
    val lp = when(col("dj_c3").isNotNull,
        log(col("dj_c3").cast("double") / col("dj_cab")))
      .when(col("dj_c2").isNotNull,
        (start - 2) * lnA + log(col("dj_c2").cast("double") / col("dj_cb")))
      .when(col("dj_c1").isNotNull,
        (start - 1) * lnA + log(col("dj_c1").cast("double") / lit(bigT.toDouble)))
      .otherwise(start * lnA + math.log(1.0 / (bigT.toDouble + bigV + 1)))
    scored
      .withColumn("dj_lp", lp.cast("decimal(28,12)"))
      .withColumn("dj_oov", when(col("dj_c1").isNull, 1L).otherwise(0L))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("dj_oov")).as("n_oov"),
        (-avg(col("dj_lp"))).as("backoff_xent"))
  }

  /** TF-IDF keyword extraction: the `k` highest-scoring normalized tokens
    * per document, score = tf · ln((N+1)/(df+1)) (add-one smoothed IDF,
    * N = documents with text). The corpus-curation "what is this document
    * about" signal next to [[vocabularyTopK]]'s corpus-level view.
    *
    * Plan shape, 100 TB posture: term frequencies are one hash aggregate
    * (map-side partials, one row per distinct (doc, token) reaches the
    * shuffle); document frequencies are a second aggregate over THAT
    * (vocabulary-sized) and come back via an equi-join on token — a join,
    * not a token-partitioned window, deliberately: a stopword's window
    * partition would concentrate every document on one reducer, while AQE
    * both broadcasts the vocabulary side when small and splits skewed join
    * partitions when not. The final per-document top-k window partitions
    * by document (bounded by per-doc vocabulary, no skew). N is the one
    * bounded driver-side scalar (the idf literal).
    *
    * Ranking determinism: exact score ties (equal tf and df) break
    * token-ascending; distinct (tf, df) pairs differ by far more than
    * cross-engine ulp noise in ln.
    */
  def tfidfTopK(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val base = df.where(col(textCol).isNotNull)
    val nDocs = base.count()
    // NOT spread (r15): measured 0.85s -> ~1.8s WITH the input exchange —
    // the per-doc top-k window re-shuffles by id anyway, so the extra
    // round-robin exchange of the text payload only added cost
    val tf = base
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .where(col("token") =!= "")
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val wDoc = Window
      .partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("token").asc)
    tf.join(docFreq, "token")
      .withColumn(
        "tfidf",
        col("tf") * log((lit(nDocs.toDouble) + 1.0) / (col("df") + lit(1.0))))
      .withColumn("rank", row_number().over(wDoc))
      .where(col("rank") <= k)
      .select(
        col(idCol), col("token"), col("tf"), col("df"),
        col("tfidf"), col("rank"))
  }

  /** BM25 ranked retrieval (Robertson/Walker Okapi BM25, the Lucene
    * `k1`/`b` parameterization with the +1 idf floor): score every corpus
    * document against every query and keep each query's `k` best.
    * `score(q, d) = Σ_{t ∈ q} idf(t) · tf(t,d)·(k1+1) /
    * (tf(t,d) + k1·(1 − b + b·|d|/avgdl))`, `idf(t) =
    * ln((N − df + 0.5)/(df + 0.5) + 1)`.
    *
    * Determinism contract (the gate's): each per-term score is a double
    * computed from exact integer tf/df/|d| statistics, then cast to
    * `DECIMAL(38, 12)` BEFORE the per-(query, doc) sum — decimal addition
    * is associative, so the total never depends on partitioning; the
    * reported score is the sum rounded to 6.
    *
    * Scale shape: ONE token explode feeds the (doc, term) tf aggregate
    * (checkpointed — tf, doc lengths, and df derive from the same frame);
    * document frequencies are computed for QUERY terms only (the df
    * aggregate runs after the postings ⋈ query-terms semi-join, so nothing
    * vocabulary-sized shuffles); query-term stats broadcast (queries are
    * the small side by construction); the scored join's volume is the
    * postings of query terms, never |docs|·|queries|; top-k is a per-query
    * window over k-bounded candidates.
    *
    * Emits (`qIdCol`, `idCol`, `score`, `rank` ≤ k), ranked by
    * (score desc, `idCol` asc) — fully deterministic.
    */
  def bm25TopK(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      queries: DataFrame,
      qIdCol: String,
      qTextCol: String,
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(k1 >= 0 && b >= 0 && b <= 1, s"bad BM25 parameters: k1=$k1 b=$b")
    val tf = graft.core.Blocks.checkpoint(
      Dedup.spread(docs.where(col(textCol).isNotNull)
        .select(col(idCol), col(textCol)))
        .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("dj_t"))
        .where(col("dj_t") =!= "")
        .groupBy(col(idCol), col("dj_t"))
        .agg(count(lit(1)).as("dj_tf")))
    val lens = tf.groupBy(col(idCol)).agg(sum(col("dj_tf")).as("dj_dl"))
    val corpus = lens.agg(
      count(lit(1)).as("dj_n"), sum(col("dj_dl")).as("dj_toktotal"))
    val qterms = queries
      .where(col(qTextCol).isNotNull)
      .select(col(qIdCol), explode(TextAnalysis.tokens(col(qTextCol))).as("dj_t"))
      .where(col("dj_t") =!= "")
      .distinct()
    // df for query terms only — the postings semi-join runs first, so the
    // aggregate is bounded by matched postings, not vocabulary
    val dfreq = tf
      .join(broadcast(qterms.select("dj_t").distinct()), Seq("dj_t"), "left_semi")
      .groupBy(col("dj_t"))
      .agg(count(lit(1)).as("dj_df"))
    val qstats = broadcast(
      qterms.join(dfreq, Seq("dj_t"))
        .crossJoin(corpus)
        .withColumn("dj_idf",
          log((col("dj_n").cast("double") - col("dj_df") + lit(0.5)) /
            (col("dj_df").cast("double") + lit(0.5)) + lit(1.0)))
        .withColumn("dj_avgdl",
          col("dj_toktotal").cast("double") / col("dj_n").cast("double"))
        .select(col(qIdCol), col("dj_t"), col("dj_idf"), col("dj_avgdl")))
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("score").desc, col(idCol).asc)
    tf.join(qstats, Seq("dj_t"))
      .join(lens, Seq(idCol))
      .withColumn("dj_term",
        (col("dj_idf") * col("dj_tf").cast("double") * lit(k1 + 1.0) /
          (col("dj_tf").cast("double") +
            lit(k1) * (lit(1.0 - b) +
              lit(b) * col("dj_dl").cast("double") / col("dj_avgdl"))))
          .cast("decimal(38,12)"))
      .groupBy(col(qIdCol), col(idCol))
      .agg(round(sum(col("dj_term")), 6).cast("double").as("score"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qIdCol), col(idCol), col("score"),
        col("rank").cast("long").as("rank"))
  }

  /** Sliding-window document chunking (context-length preparation): split
    * each document's whitespace tokens into windows of `chunkTokens` with
    * `overlapTokens` carried between consecutive windows (stride =
    * chunkTokens - overlapTokens). Pure per-row explode — no shuffle at
    * all; the chunk stream inherits the scan's partitioning, which is
    * exactly the 100 TB posture (chunking is embarrassingly parallel).
    *
    * Emits (all original columns, chunk_idx, chunk_text, chunk_tokens).
    * Deterministic: tokens are the non-empty fragments of a single-space
    * split (reproducible in any engine), a window starts at every stride
    * multiple below the token count, the final window may be short, and
    * token-less or NULL documents emit no chunks.
    */
  def chunkDocuments(
      df: DataFrame,
      textCol: String,
      chunkTokens: Int,
      overlapTokens: Int = 0): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive: $chunkTokens")
    require(
      overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"overlap must lie in [0, chunkTokens): $overlapTokens")
    val stride = chunkTokens - overlapTokens
    val toks = filter(split(col(textCol), " "), t => length(t) > 0)
    val n = size(col("dj_toks"))
    // sequence() throws on start > stop with a positive step — guard the
    // token-less case to an empty array (posexplode then drops the row)
    val starts = when(n > 0, sequence(lit(0), n - 1, lit(stride)))
      .otherwise(array().cast("array<int>"))
    df.where(col(textCol).isNotNull)
      .withColumn("dj_toks", toks)
      .select(
        (df.columns.map(col) :+
          posexplode(starts).as(Seq("chunk_idx", "dj_start"))) :+
          col("dj_toks"): _*)
      .withColumn(
        "chunk_text",
        array_join(
          slice(col("dj_toks"), col("dj_start") + 1, lit(chunkTokens)), " "))
      .withColumn(
        "chunk_tokens",
        size(slice(col("dj_toks"), col("dj_start") + 1, lit(chunkTokens))))
      .drop("dj_toks", "dj_start")
  }

  /** Deterministic weighted corpus mixture (training-mix construction):
    * keep each source's rows whose `md5(id ":" seed ":" sourceName)` falls
    * under the source's rate boundary, tag them with the source name, and
    * union. Rates ≥ 1 keep the whole source. Membership is a pure row
    * function — no sampling state, no RNG, no shuffle (the filter is
    * absorbed by each source's scan), and re-running with a higher rate
    * yields a superset (the hash is fixed per (id, seed, source)).
    *
    * Every data column passes through, prefixed by the `tagCol` source tag;
    * the sources must therefore share a schema (the usual shape after
    * per-source normalization — project them to a common set of columns
    * first if not), and none may already carry a `tagCol` column. NULL-id
    * rows are excluded from EVERY source (also the rate-1 ones) — they have
    * no hash identity, and membership must not flip across the rate
    * boundary.
    */
  def weightedMix(
      sources: Seq[(String, DataFrame, Double)],
      idCol: String,
      seed: String = "graft",
      tagCol: String = "source"): DataFrame = {
    require(sources.nonEmpty, "weightedMix needs at least one source")
    require(sources.forall(_._3 > 0), s"rates must be positive")
    require(
      !sources.exists(_._2.columns.contains(tagCol)),
      s"a source already has a '$tagCol' column — pass a different tagCol")
    sources
      .map { case (name, df, rate) =>
        val withId = df.where(col(idCol).isNotNull)
        val kept =
          if (rate >= 1.0) withId
          else withId.where(
            hashU(col(idCol), seed + ":" + name) < lit(rateBoundHex(rate)))
        kept.select(lit(name).as(tagCol), col("*"))
      }
      .reduce(_ unionByName _)
  }

  /** Weight-balanced shard assignment: give every row a shard in
    * [0, nShards) so the per-shard WEIGHT totals (token counts, byte
    * sizes) come out near-equal — the "write the corpus as N output
    * shards no straggler reader chokes on" primitive that naive
    * `id % nShards` hashing misses when document sizes are heavy-tailed.
    *
    * Deterministic serpentine LPT approximation: rows are ranked globally
    * by (weight desc, id asc) and dealt boustrophedon — pass 0 deals
    * shards 0..n-1, pass 1 deals n-1..0, … — so each shard receives one
    * row per pass and alternating deal directions cancel the within-pass
    * weight slope (the classic sorted-folding approximation of greedy
    * LPT, within a pass-width of its balance without any sequential
    * state).
    *
    * 100 TB posture: the global rank is [[CumSum.withGlobalRank]]'s
    * bucketed scheme (sampled range boundaries + per-bucket windows +
    * driver-side bucket offsets) over a SINGLE composite decimal order
    * key `−weight·10¹⁹ + id` (|id| < 10¹⁹ keeps the encoding collision-
    * free and tie-ordered id-ascending) — no unpartitioned window, no
    * single-reducer sort; everything downstream is arithmetic on the
    * rank. NULL-id rows are excluded (no deterministic identity); NULL
    * weights rank as 0. Duplicate ids make their mutual order arbitrary
    * (every other row's shard is unaffected).
    *
    * Returns the input plus `shard_rank` (1-based) and `shard` (BIGINT in
    * [0, nShards)).
    */
  def assignShardsBalanced(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      nShards: Int,
      numBuckets: Int = 256): DataFrame = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    val scale = lit(new java.math.BigDecimal("10000000000000000000")) // 10^19
    val w = coalesce(col(weightCol), lit(0)).cast("decimal(19,0)")
    val keyed = df
      .where(col(idCol).isNotNull)
      .withColumn(
        "dj_shard_key",
        (w * lit(-1) * scale + col(idCol).cast("decimal(19,0)"))
          .cast("decimal(38,0)"))
    CumSum
      .withGlobalRank(keyed, "dj_shard_key", "shard_rank", numBuckets)
      .withColumn("dj_pass", expr(s"(shard_rank - 1) div ${nShards}L"))
      .withColumn("dj_pos", pmod(col("shard_rank") - 1, lit(nShards.toLong)))
      .withColumn(
        "shard",
        when(pmod(col("dj_pass"), lit(2L)) === 0, col("dj_pos"))
          .otherwise(lit((nShards - 1).toLong) - col("dj_pos")))
      .drop("dj_shard_key", "dj_pass", "dj_pos")
  }

  /** Corpus-level lexical diversity — the mode-collapse / template-spam
    * check a synthetic-data pipeline runs before training on its own
    * output: token-distribution Shannon entropy (nats) and the
    * distinct-n-gram ratio (distinct / total n-grams, the "distinct-n"
    * diversity metric). Low entropy = few tokens dominate; low ratio =
    * the corpus keeps repeating the same phrases even when individual
    * documents look clean (the corpus-wide signal per-document
    * [[repetitionSignals]] cannot see).
    *
    * Plan: one token explode to vocabulary counts (map-side partials
    * shrink to one row per distinct token), entropy as the usual
    * decimal-cast per-term double sum (fold-order independent,
    * [[TextAnalysis.charProfile]] posture) with the total riding a
    * broadcast; one n-gram explode to (total, distinct) counts. Out: one
    * row (n_tokens, vocab_size, token_entropy, n_ngrams,
    * n_distinct_ngrams, distinct_ngram_ratio); empty when the corpus has
    * no tokens.
    */
  def corpusDiversity(
      df: DataFrame,
      textCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    val base = Dedup
      .spread(df.where(col(textCol).isNotNull).select(col(textCol)))
      .select(TextAnalysis.tokens(col(textCol)).as("dj_toks"))
    // eager checkpoint: the totals row AND the entropy aggregate both
    // consume the vocabulary frame — one explode+shuffle, not two
    val uc = graft.core.Blocks.checkpoint(
      base
        .select(explode(col("dj_toks")).as("dj_w"))
        .where(col("dj_w") =!= "")
        .groupBy("dj_w")
        .agg(count(lit(1)).as("dj_c")))
    val tot = uc.agg(sum(col("dj_c")).as("dj_nt"), count(lit(1)).as("dj_vs"))
    val p = col("dj_c").cast("double") / col("dj_nt").cast("double")
    val ent = uc
      .crossJoin(broadcast(tot))
      .select(
        col("dj_nt"), col("dj_vs"),
        (-p * log(p)).cast("decimal(28,18)").as("dj_term"))
      .groupBy(col("dj_nt"), col("dj_vs"))
      .agg(sum(col("dj_term")).cast("double").as("dj_ent"))
    val gc = base
      .select(explode(ngramsWithMultiplicity(col("dj_toks"), n)).as("dj_g"))
      .agg(count(lit(1)).as("dj_ng"), countDistinct(col("dj_g")).as("dj_nd"))
    ent.crossJoin(gc).select(
      col("dj_nt").as("n_tokens"),
      col("dj_vs").as("vocab_size"),
      col("dj_ent").as("token_entropy"),
      col("dj_ng").as("n_ngrams"),
      col("dj_nd").as("n_distinct_ngrams"),
      when(col("dj_ng") > 0,
        col("dj_nd").cast("double") / col("dj_ng").cast("double"))
        .as("distinct_ngram_ratio"))
  }

  /** Temperature-scaled source mixing weights — the standard sampling
    * schedule for imbalanced sources (multilingual corpora, domain
    * mixes): w_s ∝ n_s^α with α ∈ (0, 1] flattening the head so
    * low-resource sources are seen more than their share
    * (α = 1 is proportional sampling, α → 0 uniform). Returns per
    * source: document count, normalized sampling weight, the raw
    * proportional share, and the boost ratio weight/share (> 1 =
    * upsampled). One counting aggregate; everything after is arithmetic
    * on a sources-sized frame, n_s^α terms decimal-cast before the
    * normalizing sum so the total is fold-order independent. NULL
    * sources are a real source ("<null>").
    */
  def sourceMixWeights(
      df: DataFrame,
      sourceCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must lie in (0, 1]: $alpha")
    val counts = df
      .groupBy(coalesce(col(sourceCol).cast("string"), lit("<null>"))
        .as("source"))
      .agg(count(lit(1)).as("n_docs"))
    val pw = pow(col("n_docs").cast("double"), lit(alpha))
    val tot = counts.agg(
      coalesce(sum(col("n_docs")), lit(0L)).as("dj_n"),
      sum(pw.cast("decimal(28,12)")).as("dj_pt"))
    counts
      .crossJoin(broadcast(tot))
      .select(
        col("source"),
        col("n_docs"),
        (pw / col("dj_pt").cast("double")).as("weight"),
        (col("n_docs").cast("double") / col("dj_n").cast("double"))
          .as("share"),
        ((pw / col("dj_pt").cast("double")) /
          (col("n_docs").cast("double") / col("dj_n").cast("double")))
          .as("boost"))
  }

  /** Per-group lexical diversity — [[corpusDiversity]] keyed by a
    * source/domain/shard column: WHICH slice of the corpus collapsed
    * ("the synthetic-v2 source keeps repeating itself; the web crawl is
    * fine" — the whole-corpus number averages that away). Same
    * signals per group: token entropy (per-group decimal-cast term
    * sums over per-group totals) and the distinct-n-gram ratio. Plan:
    * one token explode to (group, token) counts joined to group totals
    * (both sides of the join are vocabulary-sized), one n-gram explode
    * to per-group (total, distinct) counts — everything partial-
    * aggregated, no windows at all. NULL groups are a real group
    * ("<null>"); groups with no tokens are absent. Out: one row per
    * group (groupCol, n_tokens, vocab_size, token_entropy, n_ngrams,
    * n_distinct_ngrams, distinct_ngram_ratio).
    */
  def corpusDiversityByGroup(
      df: DataFrame,
      textCol: String,
      groupCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    val base = Dedup
      .spread(df.where(col(textCol).isNotNull)
        .select(col(groupCol), col(textCol)))
      .select(
        coalesce(col(groupCol).cast("string"), lit("<null>")).as("dj_grp"),
        TextAnalysis.tokens(col(textCol)).as("dj_toks"))
    val uc = graft.core.Blocks.checkpoint(
      base
        .select(col("dj_grp"), explode(col("dj_toks")).as("dj_w"))
        .where(col("dj_w") =!= "")
        .groupBy("dj_grp", "dj_w")
        .agg(count(lit(1)).as("dj_c")))
    val tot = uc.groupBy("dj_grp")
      .agg(sum(col("dj_c")).as("dj_nt"), count(lit(1)).as("dj_vs"))
    val p = col("dj_c").cast("double") / col("dj_nt").cast("double")
    val ent = uc
      .join(tot, Seq("dj_grp"))
      .select(
        col("dj_grp"), col("dj_nt"), col("dj_vs"),
        (-p * log(p)).cast("decimal(28,18)").as("dj_term"))
      .groupBy(col("dj_grp"), col("dj_nt"), col("dj_vs"))
      .agg(sum(col("dj_term")).cast("double").as("dj_ent"))
    val gc = base
      .select(
        col("dj_grp"),
        explode(ngramsWithMultiplicity(col("dj_toks"), n)).as("dj_g"))
      .groupBy("dj_grp")
      .agg(count(lit(1)).as("dj_ng"), countDistinct(col("dj_g")).as("dj_nd"))
    ent.join(gc, Seq("dj_grp"), "left").select(
      col("dj_grp").as(groupCol),
      col("dj_nt").as("n_tokens"),
      col("dj_vs").as("vocab_size"),
      col("dj_ent").as("token_entropy"),
      coalesce(col("dj_ng"), lit(0L)).as("n_ngrams"),
      coalesce(col("dj_nd"), lit(0L)).as("n_distinct_ngrams"),
      when(coalesce(col("dj_ng"), lit(0L)) > 0,
        col("dj_nd").cast("double") / col("dj_ng").cast("double"))
        .as("distinct_ngram_ratio"))
  }

  /** Zipf rank-frequency slope — the other corpus-law profile next to
    * [[corpusDiversity]]: natural text follows freq ∝ rank^s with
    * s ≈ −1; template spam and synthetic loops bend the curve (shallow
    * head = unnaturally uniform, steep head = a few phrases dominate).
    * Reported as the OLS slope of ln(freq) on ln(rank) over the top-K
    * vocabulary.
    *
    * Plan: vocabulary counts (one token-explode aggregate), distributed
    * top-K via orderBy+limit (TakeOrderedAndProject — per-partition
    * heaps, the [[Dsir.resample]] posture), ranks from a K-bounded
    * window, and the regression sums as decimal-cast per-term doubles
    * (fold-order independent) with the closed form evaluated once in a
    * fixed double shape. Ties rank count-descending then
    * token-ascending, so the result is deterministic cross-engine. Out:
    * one row (n_terms, zipf_slope); slope NULL below 2 distinct terms.
    */
  def zipfSlope(
      df: DataFrame,
      textCol: String,
      topK: Int = 10000): DataFrame = {
    require(topK >= 2, s"topK must be >= 2: $topK")
    // NOT spread (r15): q_zipf read 0.23 s unspread, 0.82 s with the
    // input exchange — map-side-combined token counts don't need it
    val uc = df
      .where(col(textCol).isNotNull)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("dj_w"))
      .where(col("dj_w") =!= "")
      .groupBy("dj_w")
      .agg(count(lit(1)).as("dj_c"))
    val top = uc.orderBy(col("dj_c").desc, col("dj_w").asc).limit(topK)
    // ≤ topK rows: the single-partition window ranks the limited top
    // vocabulary, never corpus-scaled data
    val ranked = top.withColumn(
      "dj_rank",
      row_number().over(
        Window.orderBy(col("dj_c").desc, col("dj_w").asc)))
    val x = log(col("dj_rank").cast("double"))
    val y = log(col("dj_c").cast("double"))
    def dterm(c: Column) = c.cast("decimal(28,18)")
    val agged = ranked.agg(
      count(lit(1)).as("dj_n"),
      sum(dterm(x)).as("dj_sx"),
      sum(dterm(y)).as("dj_sy"),
      sum(dterm(x * y)).as("dj_sxy"),
      sum(dterm(x * x)).as("dj_sxx"))
    val n = col("dj_n").cast("double")
    val sx = col("dj_sx").cast("double")
    val sy = col("dj_sy").cast("double")
    val sxy = col("dj_sxy").cast("double")
    val sxx = col("dj_sxx").cast("double")
    agged.select(
      col("dj_n").as("n_terms"),
      when(col("dj_n") >= 2,
        (n * sxy - sx * sy) / (n * sxx - sx * sx)).as("zipf_slope"))
  }

  /** Deterministic epoch shuffle: a reproducible pseudo-random global
    * ORDER over the corpus, one permutation per (seed, epoch) — the
    * training-loader primitive that makes "epoch 3 of run X" the same
    * document sequence on every engine, every partitioning, every rerun
    * (contrast `orderBy(rand())`, which is none of those). Key =
    * [[Dsir.hashUniform]]'s 52-bit md5-lattice uniform of `id:seed:epoch`
    * (exactly a double's mantissa — the dyadic fraction is exact in every
    * engine), rank = [[CumSum.withGlobalRank]]'s bucketed scheme with the
    * id as tie-break (52-bit key collisions are rare but WOULD flip ranks
    * nondeterministically at corpus scale without it) — no unpartitioned
    * window, no single-reducer sort. NULL-id rows are excluded (no
    * deterministic identity). Returns the input plus `shuffle_rank`
    * (1-based BIGINT); writers sort-within-partitions by it after
    * range-repartitioning on it.
    */
  def epochShuffle(
      df: DataFrame,
      idCol: String,
      seed: String,
      epoch: Int,
      numBuckets: Int = 256): DataFrame = {
    val keyed = df
      .where(col(idCol).isNotNull)
      .withColumn("dj_shuf_key", Dsir.hashUniform(col(idCol), s"$seed:$epoch"))
    CumSum
      .withGlobalRank(
        keyed, "dj_shuf_key", "shuffle_rank", numBuckets, tieCols = Seq(idCol))
      .drop("dj_shuf_key")
  }

  /** Per-group document cap — the "at most `cap` pages per domain, keep the
    * best" step every web-corpus recipe applies so no single site dominates
    * the training mix (frequency capping): keep the `cap` highest-`scoreCol`
    * rows of each `groupCol` group, ties broken `idCol`-ascending so the
    * verdict is deterministic cross-engine and cross-run.
    *
    * Exact salted two-phase top-k (the [[Profile.groupTopK]] argument):
    * a LOCAL row_number per (group, salt-of-id) keeps `cap` survivors —
    * every globally-kept row necessarily ranks ≤ cap within its salt's
    * subset, so no candidate is lost — then the final per-group window
    * ranks ≤ cap·nSalts survivor rows by construction. A domain holding
    * millions of pages never sorts in one partition; the hot-key sort the
    * naive single-window spelling would ship to one reducer is gone.
    * NULL groups cap as their own group; NULL scores order last (both
    * engines' DESC default). Out: the surviving input rows plus
    * `keep_rank` (1-based BIGINT, ≤ cap).
    */
  def capPerGroup(
      df: DataFrame,
      groupCol: String,
      scoreCol: String,
      idCol: String,
      cap: Int,
      nSalts: Int = 32): DataFrame = {
    require(cap >= 1 && nSalts >= 1, s"bad capPerGroup: cap=$cap nSalts=$nSalts")
    val order = Seq(col(scoreCol).desc, col(idCol).asc)
    val wLocal = Window
      .partitionBy(col(groupCol), pmod(xxhash64(col(idCol)), lit(nSalts)))
      .orderBy(order: _*)
    val survivors = df
      .withColumn("dj_lr", row_number().over(wLocal))
      .where(col("dj_lr") <= cap)
      .drop("dj_lr")
    val wFinal = Window.partitionBy(col(groupCol)).orderBy(order: _*)
    survivors
      .withColumn("keep_rank", row_number().over(wFinal).cast("bigint"))
      .where(col("keep_rank") <= cap)
  }
}
