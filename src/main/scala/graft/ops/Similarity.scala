package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and a random-hyperplane
  * LSH-bucketed variant as the scale path (sub-linear candidate generation).
  *
  * Dot products are computed with `zip_with` + `aggregate` higher-order
  * functions — codegen'd, no UDFs, deterministic summation order (list
  * order), so results are bit-reproducible across engines and runs.
  *
  * 100 TB posture: brute force is a broadcast-join of the (small) query set
  * against the corpus — one scan, no shuffle of the corpus. The LSH variant
  * buckets both sides on sign-bit keys; only same-bucket pairs are scored
  * (candidate volume ∝ corpus/2^bits per query), then verified exactly.
  */
object Similarity {

  /** True iff the physical plan contains a data-movement shuffle
    * (ShuffleExchangeLike). Broadcast exchanges don't count — they add no
    * read parallelism. Unwraps AQE wrappers (AdaptiveSparkPlanExec and
    * query stages are leaf nodes whose real plan hides in a field, so a
    * plain `collect` traversal would miss everything inside them).
    */
  private[ops] def hasShuffleExchange(
      plan: org.apache.spark.sql.execution.SparkPlan): Boolean = plan match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      hasShuffleExchange(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      hasShuffleExchange(s.plan)
    case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => true
    case other => other.children.exists(hasShuffleExchange)
  }

  /** Σ aᵢ·bᵢ in double precision — generic HOF form (any numeric arrays,
    * e.g. a float vector against double hyperplane literals).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Native codegen'd cosine for two `array<float>` columns — bit-identical
    * to the HOF form (same left-to-right double accumulation) but compiled
    * to a primitive loop (`graft.functions.DotProductFloat`); used on every
    * float-vector scoring path.
    */
  def cosineF(a: Column, b: Column): Column = {
    import graft.functions.DotProductFloat.dotF
    dotF(a, b) / (sqrt(dotF(a, a)) * sqrt(dotF(b, b)))
  }

  /** Exact top-k cosine neighbors for each query vector.
    *
    * `queries` (small: id + vector) is broadcast against `vectors`; per-query
    * ranking is a window over the query id — shuffle on query id only, the
    * corpus is scanned once. Self-matches are excluded.
    */
  def bruteForceTopK(
      vectors: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec")))
    val scored = vectors
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"))
      .join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cosineF(col("query_vec"), col("vec")))
    scored
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Deterministic pseudo-random hyperplanes (LCG, fixed seed): `bits` planes
    * of dimension `dim` with components in {-1, +1}.
    */
  private[graft] def hyperplanes(bits: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    var state = seed
    def next(): Long = { state = state * 6364136223846793005L + 1442695040888963407L; state }
    Seq.fill(bits)(Seq.fill(dim)(if (next() > 0) 1.0 else -1.0))
  }

  /** Sign-bit LSH key: bit i = (v · plane_i > 0). Cosine-similar vectors
    * agree on most sign bits, so sharing the full key is a strong candidate
    * signal.
    *
    * Computed by the native `plane_sign_bits` kernel — one codegen'd
    * primitive loop per row instead of `bits` interpreted HOF dot products
    * (the round-2 `q_embedding_lsh` hotspot). `lshKeyHof` keeps the
    * declarative spelling; `SimilaritySpec` pins the two bit-identical.
    */
  def lshKey(vec: Column, planes: Seq[Seq[Double]]): Column =
    graft.functions.PlaneSignBits.planeSignBits(vec, planes)

  /** Declarative HOF spelling of `lshKey` — reference semantics for the
    * native kernel's equivalence spec; not used on any hot path.
    */
  private[graft] def lshKeyHof(vec: Column, planes: Seq[Seq[Double]]): Column = {
    val bitCols = planes.zipWithIndex.map { case (p, i) =>
      val planeCol = array(p.map(lit): _*)
      when(dot(vec, planeCol) > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }
    bitCols.reduce(_ + _)
  }

  /** Per-query candidate budget behind the auto-sized ANN paths: enough
    * rows that the k-selection has real signal (128·k), floored at 2048 so
    * tiny k doesn't starve recall. The budget → examined-fraction mapping
    * is where corpus size enters: small corpora get (near-)exhaustive
    * scoring — exact AND cheap — while big corpora converge to a bounded
    * per-query fraction.
    */
  private def candidateBudget(k: Int): Long = math.max(2048L, 128L * k)

  /** Target examined fraction of the corpus per query for the auto-sized
    * paths: budget/n, clamped to [0.1, 1] — the floor keeps recall honest
    * on moderate corpora (measured on the unreplicated near-random bench
    * embeddings, recall tracks examined fraction), the ceiling is
    * exhaustive scoring.
    */
  private def targetFraction(corpusSize: Long, k: Int): Double =
    math.min(1.0, math.max(0.1, candidateBudget(k).toDouble / math.max(1L, corpusSize)))

  /** Corpus-aware LSH sizing (the `semanticClusters` precedent applied to
    * the sign-bit index): returns (bits, nTables) such that the
    * multi-probe examined fraction per query —
    * nTables·(bits+1)/2^bits with Hamming-1 probing — covers
    * ~1.6× [[targetFraction]] (the 1.6 oversample compensates probe-set
    * overlap between tables; swept on the unreplicated bench embeddings,
    * where (bits=2, tables=3) ≈ recall 0.98 at n=2000 and the fraction-
    * to-recall curve is concave). Buckets hold ~256 expected members
    * (bits = log2(n/256), clamped to [2, 20]); tables are capped at 8 —
    * past the cap the examined fraction (and with it worst-case random-
    * data recall) degrades rather than the cost exploding, the standard
    * ANN contract. The bench artifact reports measured recall + the
    * fraction bound next to each leg so the tradeoff is visible.
    */
  def lshAutoParams(corpusSize: Long, k: Int = 10): (Int, Int) = {
    require(corpusSize >= 0, s"corpusSize must be non-negative: $corpusSize")
    val n = math.max(2L, corpusSize)
    val bits = math.min(20, math.max(2,
      (math.log(math.max(2.0, n / 256.0)) / math.log(2.0)).floor.toInt))
    val perTable = (bits + 1).toDouble / (1L << bits)
    val want = 1.6 * targetFraction(n, k)
    val tables = math.min(8, math.max(1, math.ceil(want / perTable).toInt))
    (bits, tables)
  }

  /** Corpus-aware sizing for the MARGIN-RANKED multi-probe path
    * ([[lshTopK]] with `probeBudget`): (bits, nTables, probeBudget) such
    * that nTables·probeBudget/2^bits ≈ 1.5·[[targetFraction]] — the same
    * examined-fraction envelope as [[lshAutoParams]], spent better.
    * The r10 fixed-fraction sweep on the fresh-content 100× leg
    * showed, all at fraction 0.156: blind Hamming-1
    * (r9 auto) recall 0.692; ranked probing at the r9 shape 0.752; FINER
    * buckets + MORE tables + deeper ranked probing 0.862
    * (bits 12, 12 tables, budget 53). The shape that wins: buckets of
    * ~32 expected members (bits = log2(n/32)), as many tables as a
    * per-table budget of ~48 ranked probes allows (cap 12), budget
    * filling the remaining envelope (capped at the Hamming ≤ 2
    * candidate-set size).
    */
  def lshAutoParamsRanked(corpusSize: Long, k: Int = 10): (Int, Int, Int) = {
    require(corpusSize >= 0, s"corpusSize must be non-negative: $corpusSize")
    val n = math.max(2L, corpusSize)
    val bits = math.min(20, math.max(2,
      (math.log(math.max(2.0, n / 32.0)) / math.log(2.0)).floor.toInt))
    val maxProbes = 1 + bits + bits * (bits - 1) / 2
    val wantBuckets = 1.5 * targetFraction(n, k) * (1L << bits)
    val tables0 = math.min(12, math.max(1, math.ceil(wantBuckets / 48.0).toInt))
    val budget = math.min(maxProbes,
      math.max(1, math.ceil(wantBuckets / tables0).toInt))
    // when the per-table budget saturates the Hamming <= 2 candidate set
    // (small corpora), spend the rest of the envelope on MORE tables —
    // otherwise the near-exhaustive small-corpus regime would quietly
    // shrink to one table's H<=2 ball
    val tables =
      if (budget == maxProbes)
        math.min(12, math.max(tables0,
          math.ceil(wantBuckets / budget).toInt))
      else tables0
    (bits, tables, budget)
  }

  /** [[lshTopK]] with corpus-aware defaults: margin-ranked multi-probe
    * sized by [[lshAutoParamsRanked]] — the path a caller who knows only
    * their corpus size should use.
    */
  def lshTopKAuto(
      vectors: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      corpusSize: Long,
      dim: Int = 64): DataFrame = {
    val (bits, tables, budget) = lshAutoParamsRanked(corpusSize, k)
    lshTopK(vectors, queries, idCol, vecCol, k,
      bits = bits, dim = dim, multiProbe = true, nTables = tables,
      probeBudget = budget)
  }

  /** Corpus-aware IVF sizing: (nCentroids, nProbe). Cells hold ~200
    * expected members ([[semanticClusters]]); the probe count covers
    * ~[[targetFraction]]·nCentroids cells with a 0.75 exhaustive-side
    * ceiling (swept: probe 12 of 16 cells ≈ recall 0.93 on the
    * unreplicated bench embeddings — probing ALL cells would just be
    * brute force with extra steps).
    */
  def ivfAutoParams(corpusSize: Long, k: Int = 10): (Int, Int) = {
    require(corpusSize >= 0, s"corpusSize must be non-negative: $corpusSize")
    val n = math.max(2L, corpusSize)
    // FINE cells are the recall lever at a fixed examined fraction — the
    // r10 sweep on the fresh-content 100× leg (all at exact-scored
    // fraction 0.1, n = 200k): 200-member cells (the r9
    // sizing) recall 0.654; 100-member 0.705; 50-member 0.769; 25-member
    // 0.828. Cell count is capped at 8192 because FLAT IVF assignment
    // costs n·cells native dots (the honest scale boundary: past ~10M
    // vectors the cap makes cells grow again, and the next rung is a
    // hierarchical coarse quantizer, not a bigger flat one).
    val cents = math.max(16L, math.min(8192L, n / 25L)).toInt
    val frac = math.min(0.75, math.max(targetFraction(n, k) * 0.75, 0.1))
    val probe = math.min(cents, math.max(1, math.ceil(frac * cents).toInt))
    (cents, probe)
  }

  /** [[ivfTopK]] with corpus-aware defaults from [[ivfAutoParams]]. */
  def ivfTopKAuto(
      vectors: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      corpusSize: Long): DataFrame = {
    val (cents, probe) = ivfAutoParams(corpusSize, k)
    // one Lloyd iteration: the r10 sweep measured a second iteration
    // buying +0.005 recall for a full n·cells assignment pass
    ivfTopK(vectors, queries, idCol, vecCol, k,
      nCentroids = cents, nProbe = probe, kmeansIters = 1,
      corpusSize = Some(corpusSize))
  }

  /** Corpus-aware probe count for [[semanticNearDups]]: a quarter of the
    * cells, capped at 8 (swept: probes 4 of 16 cells ≈ pair recall 0.91 at
    * the gate threshold on the unreplicated bench embeddings; the paper's
    * single-cell default recalls 0.31 there). Cost scales ~probes² per
    * cell in the worst case, so the cap keeps the within-cell self-join
    * bounded while big corpora (many cells) keep a small probed fraction.
    */
  def semanticProbesAuto(nClusters: Int): Int = {
    require(nClusters > 0, s"nClusters must be positive: $nClusters")
    math.min(8, math.max(1, math.ceil(nClusters / 4.0).toInt))
  }

  /** LSH-bucketed approximate top-k: bucket corpus and queries on the
    * sign-bit key (optionally probing neighbor buckets at Hamming distance 1
    * for recall), score only same-bucket pairs, rank per query.
    */
  def lshTopK(
      vectors: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int = 8,
      dim: Int = 64,
      multiProbe: Boolean = true,
      nTables: Int = 1,
      probeBudget: Int = 0): DataFrame = {
    require(nTables >= 1, s"nTables must be positive: $nTables")
    // knob precedence is explicit, not silent: probeBudget > 0 selects the
    // ranked multi-probe algorithm (which also tightens `bits` to ≤ 20), so
    // combining it with multiProbe = false would silently hand the caller a
    // different algorithm than the flag asked for
    require(probeBudget >= 0, s"probeBudget must be non-negative: $probeBudget")
    require(probeBudget == 0 || multiProbe,
      "probeBudget > 0 selects margin-ranked multi-probing and cannot be " +
        "combined with multiProbe = false; drop one of the two settings")
    if (probeBudget > 0)
      // margin-ranked multi-probe (Lv et al. 2007, "Multi-Probe LSH"):
      // probe the `probeBudget` buckets per table most likely to hold the
      // neighbor — ranked by the summed |hyperplane margin| of the flipped
      // bits over the Hamming ≤ 2 flip set — instead of ALL Hamming-1
      // flips. At the same probes-per-table budget this strictly dominates
      // blind Hamming-1 probing: a neighbor differing in two LOW-margin
      // bits is found, a flip of a high-margin bit is not wasted.
      return lshTopKRanked(
        vectors, queries, idCol, vecCol, k, bits, dim, nTables, probeBudget)
    if (nTables > 1)
      // multiple independent hash tables — the standard recall lever when
      // one sign-bucket table misses true neighbors (recall scales with
      // 1-(1-p)^L at L× hashing/join cost); candidates are deduplicated
      // before scoring so k-selection sees each pair once
      return lshTopKMultiTable(
        vectors, queries, idCol, vecCol, k, bits, dim, multiProbe, nTables)
    val planes = hyperplanes(bits, dim)
    val corpus = vectors.select(
      col(idCol).as("neighbor_id"),
      col(vecCol).as("vec"),
      lshKey(col(vecCol), planes).as("bucket"))
    val qBase = queries.select(
      col(idCol).as("query_id"),
      col(vecCol).as("query_vec"),
      lshKey(col(vecCol), planes).as("bucket"))
    // multi-probe: also look in the `bits` buckets at Hamming distance 1
    val q =
      if (!multiProbe) qBase
      else
        qBase.select(
          col("query_id"),
          col("query_vec"),
          explode(
            array_union(
              array(col("bucket")),
              transform(
                sequence(lit(0), lit(bits - 1)),
                b => col("bucket").bitwiseXOR(call_function("shiftleft", lit(1L), b))))).as("bucket"))
    val scored = corpus
      .join(broadcast(q), Seq("bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cosineF(col("query_vec"), col("vec")))
    scored
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** The L-table flavor of [[lshTopK]]: per table t, planes are seeded
    * independently (42 + 1000·t), the corpus row fans out to its L
    * (table, bucket) cells, query probes fan out likewise (with the same
    * Hamming-1 multi-probe per table), and the equi-join runs on
    * (table, bucket). A candidate pair surfacing from several tables is
    * deduplicated BEFORE the cosine so scoring work and the k-window see
    * it once. Same partitioning story as the single-table path — one
    * equi-join keyed by cell, queries broadcast.
    */
  private def lshTopKMultiTable(
      vectors: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int,
      dim: Int,
      multiProbe: Boolean,
      nTables: Int): DataFrame = {
    val tables = (0 until nTables).map(t => hyperplanes(bits, dim, 42L + 1000L * t))
    def cell(t: Int, bucket: Column): Column =
      struct(lit(t).as("tbl"), bucket.as("bkt"))
    val corpus = vectors
      .select(
        col(idCol).as("neighbor_id"),
        col(vecCol).as("vec"),
        explode(array(tables.zipWithIndex.map { case (p, t) =>
          cell(t, lshKey(col(vecCol), p))
        }: _*)).as("dj_cell"))
    // NOTE: probes must reference the SOURCE vector column, not the
    // `query_vec` alias defined in the same select — a lateral column
    // alias under explode() trips an internal resolver error (Spark 4.1)
    val qCells = tables.zipWithIndex.map { case (p, t) =>
      val base = lshKey(col(vecCol), p)
      val probes =
        if (!multiProbe) array(base)
        else
          array_union(
            array(base),
            transform(
              sequence(lit(0), lit(bits - 1)),
              b => base.bitwiseXOR(call_function("shiftleft", lit(1L), b))))
      transform(probes, b => cell(t, b))
    }
    val q = queries
      .select(
        col(idCol).as("query_id"),
        col(vecCol).as("query_vec"),
        explode(flatten(array(qCells: _*))).as("dj_cell"))
    val candidates = corpus
      .join(broadcast(q), Seq("dj_cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("query_vec"), col("neighbor_id"), col("vec"))
      .dropDuplicates("query_id", "neighbor_id")
    candidates
      .withColumn("cosine", cosineF(col("query_vec"), col("vec")))
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Margin-ranked multi-probe flavor of [[lshTopK]] (Lv et al. 2007):
    * per table, the query's probe set is the `probeBudget` best buckets by
    * estimated success — the base bucket plus the Hamming ≤ 2 flips with
    * the smallest summed |margin| (|v·plane| of each flipped bit). The
    * margin array is evaluated ONCE per query row in a first projection;
    * the probe selection is a bounded in-row sort of
    * 1 + bits + bits·(bits−1)/2 (score, bucket) structs (≤ 211 at the
    * bits = 20 cap) — driver-free, explode-bounded by
    * nTables·probeBudget per query. Corpus side and the join/dedup/score
    * pipeline are identical to [[lshTopKMultiTable]].
    */
  private def lshTopKRanked(
      vectors: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int,
      dim: Int,
      nTables: Int,
      probeBudget: Int): DataFrame = {
    require(bits >= 2 && bits <= 20, s"bits must be in [2, 20]: $bits")
    val tables = (0 until nTables).map(t => hyperplanes(bits, dim, 42L + 1000L * t))
    def cell(t: Int, bucket: Column): Column =
      struct(lit(t).as("tbl"), bucket.as("bkt"))
    val corpus = vectors
      .select(
        col(idCol).as("neighbor_id"),
        col(vecCol).as("vec"),
        explode(array(tables.zipWithIndex.map { case (p, t) =>
          cell(t, lshKey(col(vecCol), p))
        }: _*)).as("dj_cell"))
    // stage 1: per table, base key + per-plane |margin| array — one
    // evaluation per query row (probe structs below reference these by
    // column, never recompute the dots)
    val qStage = queries.select(
      col(idCol).as("query_id") +: col(vecCol).as("query_vec") +:
        tables.zipWithIndex.flatMap { case (p, t) =>
          Seq(
            lshKey(col(vecCol), p).as(s"dj_base_$t"),
            array(p.map(pl =>
              abs(dot(col(vecCol), array(pl.map(lit): _*)))): _*).as(s"dj_m_$t"))
        }: _*)
    def probesFor(t: Int): Column = {
      val base = col(s"dj_base_$t")
      def m(i: Int) = element_at(col(s"dj_m_$t"), i + 1)
      def flip(b: Column, i: Int) = b.bitwiseXOR(lit(1L << i))
      val cands: Seq[Column] =
        struct(lit(0.0).as("s"), base.as("b")) +:
          ((0 until bits).map(i =>
            struct(m(i).as("s"), flip(base, i).as("b"))) ++
            (for { i <- 0 until bits; j <- i + 1 until bits }
              yield struct((m(i) + m(j)).as("s"), flip(flip(base, i), j).as("b"))))
      transform(
        slice(array_sort(array(cands: _*)), 1, probeBudget),
        p => cell(t, p.getField("b")))
    }
    val q = qStage.select(
      col("query_id"),
      col("query_vec"),
      explode(flatten(array((0 until nTables).map(probesFor): _*))).as("dj_cell"))
    val candidates = corpus
      .join(broadcast(q), Seq("dj_cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("query_vec"), col("neighbor_id"), col("vec"))
      .dropDuplicates("query_id", "neighbor_id")
    candidates
      .withColumn("cosine", cosineF(col("query_vec"), col("vec")))
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** IVF (inverted-file) approximate top-k — the coarse-quantizer scale
    * path: assign every corpus vector to its nearest of `nCentroids`
    * deterministic centroids (sampled from the corpus by id), then search
    * only the `nProbe` clusters nearest to each query.
    *
    * Plan shape: centroid assignment is a broadcast nested-loop over the
    * (tiny) centroid set — one corpus scan; the probe join is an equi-join
    * on cluster id. Candidate volume ≈ corpus · nProbe / nCentroids.
    */
  /** Deterministic coarse-centroid candidates: a hash sample of ~2×
    * `nCentroids` vectors, capped to `nCentroids` by ascending id.
    *
    * Scale shape: the sample predicate is a plain filter (scan-parallel, no
    * shuffle) and the id cap is a TakeOrderedAndProject (distributed top-k) —
    * never a `row_number` over an unpartitioned window, which would sort the
    * whole corpus into one partition (`PlanSpec` pins this).
    */
  def ivfCentroids(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      corpusSize: Long): DataFrame = {
    val step = math.max(1L, corpusSize / (2L * nCentroids))
    vectors
      .where(pmod(xxhash64(col(idCol)), lit(step)) === 0)
      .sort(col(idCol))
      .limit(nCentroids)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("centroid_vec"))
  }

  /** Centroid set literal: array of (cid, cvec) structs, broadcast to every
    * task as plan constants (a coarse quantizer is small by construction).
    */
  private def centroidArrOf(cs: Seq[(Long, Seq[Double])]): Column =
    array(cs.map { case (cid, v) =>
      struct(lit(cid).as("cid"), array(v.map(lit): _*).as("cvec"))
    }: _*)

  /** Broadcast-centroid argmin — THE shared kernel behind every
    * large-centroid-set assignment in this file (corpus cluster
    * assignment, query probe ranking, Lloyd refinement, IMI half
    * quantizers, SemDeDup assignment; formerly six near-identical inline
    * blocks — the r10 review finding). Every row of `rows` is scored
    * against every row of the (tiny, broadcast) `centDf`; the `howMany`
    * best cells per id by ascending (negScore, cid) come back as
    * (idName, dj_cell_cid, dj_cell_neg, dj_cell_rk).
    *
    * Plan shape by `howMany`:
    *   - 1 → map-side-combined `min(struct(neg, cid))` aggregate — the
    *     partial-agg shape that reduces n·k scored rows to one row per id
    *     per partition BEFORE the shuffle;
    *   - >1 → per-id window over the scored rows (each partition holds
    *     exactly nCentroids rows per id — bounded, no data skew possible).
    * The two are argmin-identical: `min(struct)` ≡ window row 1 under the
    * same (neg, cid) order.
    *
    * LOUD id contract (the ≤256-switch discontinuity fix): ids must be
    * unique and non-null. The literal-array small paths score each row
    * independently, so duplicate ids there cluster per-row; this keyed
    * argmin would instead silently compute ONE shared argmin over the
    * union of the duplicates' scores — the same data clustering
    * differently depending on which side of the centroid-count switch it
    * lands. Rather than silently diverge, every id is checked at scoring
    * time: an id whose scored-row count differs from nCentroids (duplicate
    * id) or a null id raises. The check is a per-group count inside the
    * aggregate/window the plan already runs — no extra job, no extra
    * shuffle.
    */
  private def bestCellsBroadcast(
      rows: DataFrame,
      idName: String,
      centDf: DataFrame,
      cidName: String,
      negScore: Column,
      howMany: Int,
      nCentroids: Int): DataFrame = {
    // This stage does nCentroids dot products PER INPUT ROW — its real
    // work is `input rows × nCentroids`, which the scan's partitioning
    // knows nothing about: a single small-but-dense parquet file plans
    // ONE task that then grinds 100M+ scored rows on one core (measured
    // 70 s vs 2 s on a 50k×2000 assignment). When the input is
    // shuffle-free and narrower than the cluster, spread it by the id
    // hash first — the rows frame is narrow (id + vector), the blowup
    // happens after, and the id hash both feeds the keyed argmin and
    // lets the howMany>1 window reuse the partitioning. Frames that
    // already contain a shuffle are cluster-parallel by construction
    // (and probing their partition count would execute their stages).
    val target = rows.sparkSession.sparkContext.defaultParallelism
    val spread = {
      // Node-typed probe, not a plan-string grep: a BroadcastExchange (a
      // broadcast join inside an otherwise shuffle-free, single-partition
      // frame) must NOT count as a shuffle — it contributes no read
      // parallelism, and misclassifying it skips the spread and brings the
      // single-task nCentroids-per-row blowup back.
      val shuffleFree = !hasShuffleExchange(rows.queryExecution.executedPlan)
      if (shuffleFree && rows.rdd.getNumPartitions < target)
        rows.repartition(target, col(idName))
      else rows
    }
    val scored = spread
      .crossJoin(broadcast(centDf))
      .select(
        col(idName),
        struct(negScore.as("neg"), col(cidName).as("cid")).as("dj_sc"))
    def checked(withCount: DataFrame): DataFrame = withCount.where(
      assert_true(
        col(idName).isNotNull && col("dj_cc") === lit(nCentroids.toLong),
        concat(
          lit(s"broadcast argmin over '$idName': ids must be unique and " +
            s"non-null by contract; id "),
          coalesce(col(idName).cast("string"), lit("NULL")),
          lit(" scored "), col("dj_cc").cast("string"),
          lit(s" rows against $nCentroids centroids"))).isNull)
    if (howMany == 1)
      checked(
        scored
          .groupBy(idName)
          .agg(min(col("dj_sc")).as("dj_best"), count(lit(1)).as("dj_cc")))
        .select(
          col(idName),
          col("dj_best.cid").as("dj_cell_cid"),
          col("dj_best.neg").as("dj_cell_neg"),
          lit(1).as("dj_cell_rk"))
    else {
      // both window expressions share ONE (partition, order) spec — the
      // count takes the full frame — so Catalyst plans a single Window
      // exec with a single sort over the n·k scored rows; a separate
      // unordered count window would add a second full sort pass to the
      // hottest intermediate
      val w = Window.partitionBy(idName).orderBy(col("dj_sc"))
      checked(
        scored
          .withColumn(
            "dj_cc",
            count(lit(1)).over(w.rowsBetween(
              Window.unboundedPreceding, Window.unboundedFollowing)))
          .withColumn("dj_cell_rk", row_number().over(w)))
        .where(col("dj_cell_rk") <= howMany)
        .select(
          col(idName),
          col("dj_sc.cid").as("dj_cell_cid"),
          col("dj_sc.neg").as("dj_cell_neg"),
          col("dj_cell_rk"))
    }
  }

  /** The `howMany` centroid ids nearest to `vec` by dot product, nearest
    * first, ties broken by ascending centroid id.
    */
  private def nearestClustersIn(arr: Column)(vec: Column, howMany: Int): Column =
    slice(
      transform(
        array_sort(
          transform(arr, c => struct(
            (-dot(vec, c.getField("cvec"))).as("negSim"),
            c.getField("cid").as("cid")))),
        s => s.getField("cid")),
      1, howMany)

  /** Fit a deterministic coarse quantizer: hash-sampled seed vectors (see
    * [[ivfCentroids]]; first-`nCentroids`-by-id when the sample comes back
    * empty) refined with `lloydIters` Lloyd iterations — each iteration is
    * ONE distributed HashAggregate (count + per-dimension sums with
    * map-side partials; no explode, no shuffle of raw vectors) returning
    * ≤ nCentroids rows to the driver. NULL-vector rows are excluded up
    * front (they can neither seed nor be assigned). Returns the (seed id,
    * centroid vector) list — empty only for an empty corpus.
    *
    * The corpus size only calibrates the seed-sample stride, so a caller
    * hint or a plan-stats estimate replaces a full count() job. The
    * estimate must be biased LOW: underestimating shrinks the stride and
    * samples MORE rows — the distributed top-k still caps the seed set at
    * nCentroids, so recall never degrades — while overestimating could
    * under-fill it. Hence the deliberately large 64 KiB/row divisor: even a
    * 4096-dim float embedding row (~16 KiB) stays an underestimate, at the
    * cost of a slightly larger (still nCentroids-capped) top-k input.
    *
    * With `lloydIters = 0` the centroids are the seed vectors themselves —
    * pure functions of the input ids, bit-reproducible across engines
    * (the correctness gate's flavor); Lloyd refinement sums floats in
    * partition order, so refined centroids are deterministic only up to
    * summation order (fine for recall, not for bit-exact oracles).
    */
  private[graft] def fitCentroids(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      lloydIters: Int,
      corpusSize: Option[Long]): Seq[(Long, Seq[Double])] = {
    val nonNull = vectors.where(col(vecCol).isNotNull)
    val n = corpusSize.getOrElse {
      val stats = nonNull.queryExecution.optimizedPlan.stats
      stats.rowCount.map(_.toLong).getOrElse(
        math.max(1L, (stats.sizeInBytes / 65536).toLong))
    }
    val sampled =
      ivfCentroids(nonNull, idCol, vecCol, nCentroids, n).collect()
    val seedRows =
      if (sampled.nonEmpty) sampled.toSeq
      else // degenerate corpus (hash sample empty): first nCentroids by id
        nonNull
          .sort(col(idCol))
          .limit(nCentroids)
          .select(col(idCol).as("centroid_id"), col(vecCol).as("centroid_vec"))
          .collect()
          .toSeq
    var centroids: Seq[(Long, Seq[Double])] =
      seedRows.map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq.map(_.toDouble))
    if (centroids.isEmpty) return Nil
    val dim = centroids.head._2.length
    for (_ <- 0 until lloydIters) {
      val assigned =
        if (centroids.size <= 256) {
          // small k: literal-array interpreted argmax — bit-identical to
          // the original spelling (spec-pinned small-k behavior)
          val arr = centroidArrOf(centroids)
          nonNull.select(
            col(vecCol).as("dj_vec"),
            element_at(nearestClustersIn(arr)(col(vecCol), 1), 1).as("dj_cluster"))
        } else {
          // large k: the literal path evaluates k interpreted dots per
          // corpus row PER ITERATION (a 1000-cell fit measured minutes at
          // 200k rows) — bestCellsBroadcast over the float centroid table
          // with the native dot kernel. Same argmax-by-dot / ties-by-cid
          // semantics; float-cast centroids only perturb ties, and Lloyd
          // refinement is already deterministic only up to summation
          // order. The vector joins BACK by id (carrying the array
          // through the n·k-row aggregate as first(vec) deopts the hash
          // aggregate — measured ~165 s/iteration at 200k×1000 vs ~2 s
          // this way); null-id rows can't key an argmin and sit out the
          // refinement, duplicate ids fail loudly in the helper.
          // large k: per-row native argmin over the plan-constant
          // centroid table ([[graft.functions.NearestCellDot]]) — ONE
          // projection, no scored-row blowup. The broadcast-argmin kernel
          // this replaces planned its min(struct) as a SortAggregate
          // (structs are not hash-aggregable) that sorted AND SPILLED the
          // n·k scored rows — stack-sampled at 70-100 s on a 50k×2000
          // assignment whose dot products cost ~2 s. Null-id rows still
          // sit out the refinement (unchanged); duplicate ids now assign
          // per row, exactly like the literal path — the keyed kernel's
          // loud-raise contract existed only because its groupBy would
          // otherwise merge them.
          import graft.functions.NearestCellDot.nearestCellDot
          val cellsF = centroids.map { case (cid, v) =>
            (cid, v.map(_.toFloat))
          }
          nonNull
            .where(col(idCol).isNotNull)
            .select(
              col(vecCol).as("dj_vec"),
              nearestCellDot(col(vecCol), cellsF)
                .getField("cid").as("dj_cluster"))
        }
      // per-dimension sums via ONE (cluster, dim)-keyed aggregate over the
      // exploded vectors (≤ nCentroids·dim result rows): the previous
      // spelling — `dim` separate sum(element_at(...)) aggregate
      // expressions in one groupBy — planned a 64-wide aggregate whose
      // update path fell out of codegen and measured 238 s per iteration
      // at 200k×64 (the silent dominator of every auto-sized IVF fit)
      // ONE aggregate: per-dimension sums via posexplode plus the cluster
      // ROW count (max of per-position counts — position 0 exists for
      // every non-empty member). The mean divides by the cluster row
      // count, exactly like the previous wide-aggregate spelling, so a
      // ragged corpus (vectors shorter than the seed dimension) treats a
      // missing position as contributing 0 — and can never throw on a
      // position no member reaches.
      val rows = assigned
        .select(col("dj_cluster"), posexplode(col("dj_vec")))
        .groupBy(col("dj_cluster"), col("pos"))
        .agg(count(lit(1)).as("dj_n"), sum(col("col").cast("double")).as("dj_s"))
        .collect()
      val updated: Map[Long, Seq[Double]] = rows
        .groupBy(_.getLong(0))
        .map { case (cid, rs) =>
          val byDim = rs.map(r => r.getInt(1) -> r.getDouble(3)).toMap
          val clusterRows = rs.map(_.getLong(2)).max.toDouble
          cid -> (0 until dim).map(d => byDim.getOrElse(d, 0.0) / clusterRows)
        }
      // empty clusters keep their previous centroid
      centroids = centroids.map { case (cid, v) => cid -> updated.getOrElse(cid, v) }
    }
    centroids
  }

  def ivfTopK(
      vectors: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      kmeansIters: Int = 2,
      corpusSize: Option[Long] = None): DataFrame = {
    val centroids =
      fitCentroids(vectors, idCol, vecCol, nCentroids, kmeansIters, corpusSize)
    if (centroids.isEmpty)
      // empty corpus: no candidates, typed empty result
      return emptyTopK(queries, idCol)

    val corpus = ivfCorpusClusters(vectors, idCol, vecCol, centroids)
    val q = ivfQueryProbes(queries, idCol, vecCol, centroids, nProbe)
    ivfRank(corpus, q, k)
  }

  /** Typed empty top-k frame (query_id, neighbor_id, cosine, rank) — the
    * empty-corpus result shared by [[ivfTopK]] and the persisted-index
    * query path ([[graft.sources.AnnIndex.queryTopK]]).
    */
  private[graft] def emptyTopK(queries: DataFrame, idCol: String): DataFrame =
    queries
      .select(
        col(idCol).as("query_id"),
        col(idCol).as("neighbor_id"),
        lit(0.0).as("cosine"),
        lit(0).as("rank"))
      .where(lit(false))

  /** The IVF scoring/ranking tail shared by [[ivfTopK]] and the persisted
    * index: join assigned corpus rows (neighbor_id, vec, cluster) to the
    * broadcast probe frame (query_id, query_vec, cluster) on the cell,
    * exact-cosine score, per-query window top-k. Kept as one kernel so the
    * live and persisted paths are bit-identical by construction.
    */
  private[graft] def ivfRank(
      corpus: DataFrame,
      probes: DataFrame,
      k: Int): DataFrame =
    corpus
      .join(broadcast(probes), Seq("cluster"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cosineF(col("query_vec"), col("vec")))
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))

  /** Corpus side of the IVF index: (neighbor_id, vec, cluster) — cluster =
    * nearest centroid by dot product, ties to the smallest centroid id.
    * Small centroid sets ride the plan-literal interpreted argmax
    * (bit-identical to the original spelling, spec-pinned); large sets
    * (the fine-cell regime the r10 recall work runs at) BROADCAST the
    * float centroid table, score with the native dot kernel, argmin with a
    * map-side-combined min(struct) keyed by the id, and join the winning
    * cell back — the literal path measured 254 s for a 1000-cell argmax
    * over 200k vectors vs ~2 s this way. Null-id rows keep the literal
    * path's behavior only below the threshold; above it they are dropped
    * (they cannot key the argmin join).
    */
  private def ivfCorpusClusters(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[(Long, Seq[Double])]): DataFrame =
    if (centroids.size <= 256) {
      val centroidArr = centroidArrOf(centroids)
      vectors.select(
        col(idCol).as("neighbor_id"),
        col(vecCol).as("vec"),
        element_at(nearestClustersIn(centroidArr)(col(vecCol), 1), 1).as("cluster"))
    } else {
      // large set: per-row native argmin (see the Lloyd path above for
      // why the broadcast-argmin kernel is wrong here — its min(struct)
      // plans a SortAggregate that sorts/spills the n·k scored rows).
      // One projection: no blowup, no aggregate, no join-back, and the
      // corpus keeps its scan partitioning end to end.
      import graft.functions.NearestCellDot.nearestCellDot
      val cellsF = centroids.map { case (cid, v) => (cid, v.map(_.toFloat)) }
      vectors
        .where(col(idCol).isNotNull)
        .select(
          col(idCol).as("neighbor_id"),
          col(vecCol).as("vec"),
          nearestCellDot(col(vecCol), cellsF).getField("cid").as("cluster"))
    }

  /** Query side of the IVF index: one row per (query, probed cluster),
    * nProbe nearest cells by dot product. Same small/large split as
    * [[ivfCorpusClusters]]; the large path ranks cells with a per-query
    * window (queries are few by contract).
    */
  private[graft] def ivfQueryProbes(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[(Long, Seq[Double])],
      nProbe: Int): DataFrame =
    if (centroids.size <= 256) {
      val centroidArr = centroidArrOf(centroids)
      queries.select(
        col(idCol).as("query_id"),
        col(vecCol).as("query_vec"),
        explode(nearestClustersIn(centroidArr)(col(vecCol), nProbe)).as("cluster"))
    } else {
      val spark = queries.sparkSession
      import spark.implicits._
      import graft.functions.DotProductFloat.dotF
      val centDf = broadcast(centroids.map { case (cid, v) =>
        (cid, v.map(_.toFloat).toArray)
      }.toDF("dj_cid", "dj_cvec"))
      val qBase = queries
        .select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
      qBase.join(
        bestCellsBroadcast(
          qBase, "query_id", centDf, "dj_cid",
          -dotF(col("query_vec"), col("dj_cvec")),
          howMany = nProbe, nCentroids = centroids.size)
          .select(col("query_id"), col("dj_cell_cid").as("cluster")),
        Seq("query_id"))
        .select(col("query_id"), col("query_vec"), col("cluster"))
    }

  /** Assign every row of `df` to its nearest centroid by dot product (ties
    * to the smallest centroid id) — the IVF corpus-side assignment exposed
    * for callers that manage quantizer state themselves (the streaming
    * mini-batch refiner). Returns (idCol as `neighbor_id`, `vec`,
    * `cluster`); same small/large plan split and loud id contract as the
    * internal paths.
    */
  private[graft] def assignToCentroids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[(Long, Seq[Double])]): DataFrame =
    ivfCorpusClusters(df, idCol, vecCol, centroids)

  /** IVF with a SKETCH-PREFILTER + EXACT-RERANK stage (the IVFADC
    * re-rank posture, public standard — Jégou et al. 2011 re-rank
    * approximate scores with exact ones): probe `nProbe` cells per query,
    * but score candidates FIRST with a 63-bit sign-sketch Hamming distance
    * (xor + popcount on one long — ~30× cheaper than the 64-float exact
    * cosine in both bytes and ops), keep only the `poolFactor`·k best per
    * query, and exact-cosine-rerank that short pool. At a fixed full-
    * vector scoring budget this lets the probe set cover ~3× the cells of
    * the plain [[ivfTopK]]: the expensive stage touches poolFactor·k rows
    * per query instead of every row of every probed cell, so recall lost
    * to "true neighbor in an unprobed cell" is bought back at sketch cost.
    *
    * Plan: same broadcast centroid argmax + cluster equi-join as
    * [[ivfTopK]]; the sketch rank and the exact rank are both per-query
    * windows (partitioned by query id, never global). Cost accounting for
    * the artifact: sketch-scanned fraction ≈ nProbe/nCentroids, exact-
    * scored fraction ≈ poolFactor·k/corpus.
    */
  def ivfTopKRerank(
      vectors: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      kmeansIters: Int = 2,
      corpusSize: Option[Long] = None,
      dim: Int = 64,
      poolFactor: Int = 16): DataFrame = {
    require(poolFactor >= 1, s"poolFactor must be positive: $poolFactor")
    val centroids =
      fitCentroids(vectors, idCol, vecCol, nCentroids, kmeansIters, corpusSize)
    if (centroids.isEmpty)
      return queries
        .select(
          col(idCol).as("query_id"),
          col(idCol).as("neighbor_id"),
          lit(0.0).as("cosine"),
          lit(0).as("rank"))
        .where(lit(false))
    // the re-rank regime wants MANY cells (coverage is the recall lever),
    // so assignment must not be the literal-array interpreted path that
    // made a 1000-centroid argmax the pipeline's cost — and not the keyed
    // broadcast-argmin either (its min(struct) plans a sorting/spilling
    // SortAggregate over the n·k scored rows; see ivfCorpusClusters):
    // NearestCellsCos ranks cells per row in one codegen'd loop. Scoring
    // is -dot/|centroid| exactly as before — float-cast centroids widened
    // back to double, the row's own norm dropped (constant across cells,
    // cannot change the argmin, and its absence removes the 0/0 NaN path
    // a zero vector would otherwise hit).
    import graft.functions.NearestCellsCos.nearestCellsCos
    val cellsD = centroids.map { case (cid, v) =>
      (cid, v.map(x => x.toFloat.toDouble))
    }
    val cellNorms = centroids.map { case (_, v) =>
      math.sqrt(v.map(x => x * x).sum)
    }
    // 63 sign bits under a fixed hyperplane set disjoint from the bucket
    // tables' seeds (the sign-bit kernel packs into one long, max 63):
    // hamming(sketch_a, sketch_b)/63 estimates the angle
    val sketchPlanes = hyperplanes(63, dim, 777L)
    val base = vectors.select(
      col(idCol).as("neighbor_id"),
      col(vecCol).as("vec"),
      lshKey(col(vecCol), sketchPlanes).as("dj_sk"))
    val corpus = base.withColumn(
      "cluster",
      element_at(
        nearestCellsCos(col("vec"), cellsD, cellNorms, 1,
          divideByRowNorm = false, round6 = false), 1))
    // query probes: the same per-row ranking, exploded to one row per
    // (query, probed cell)
    val qBase = queries
      .select(
        col(idCol).as("query_id"),
        col(vecCol).as("query_vec"),
        lshKey(col(vecCol), sketchPlanes).as("dj_qsk"))
    val q = qBase
      .select(
        col("query_id"), col("query_vec"), col("dj_qsk"),
        explode(
          nearestCellsCos(col("query_vec"), cellsD, cellNorms, nProbe,
            divideByRowNorm = false, round6 = false)).as("cluster"))
    val pool = corpus
      .join(broadcast(q), Seq("cluster"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn(
        "dj_ham",
        expr("bit_count(dj_sk ^ dj_qsk)"))
      .withColumn(
        "dj_skrank",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("dj_ham"), col("neighbor_id"))))
      .where(col("dj_skrank") <= poolFactor * k)
    pool
      .withColumn("cosine", cosineF(col("query_vec"), col("vec")))
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Inverted multi-index top-k (IMI — Babenko & Lempitsky 2012, public):
    * the scale rung past flat IVF. Two independent coarse quantizers over
    * the vector's two HALVES give cellsPerHalf² product cells for
    * 2·cellsPerHalf half-dimension dots of assignment cost per vector —
    * e.g. 65 536 cells for the assignment budget a 512-cell flat index
    * pays. Flat IVF's assignment is n·cells full-dimension dots, so its
    * cell count (= recall at a fixed probed fraction) is capped by
    * assignment cost (see [[ivfAutoParams]]'s 8192 cap); IMI breaks that
    * coupling at the price of axis-aligned product-cell geometry.
    *
    * Query side: each half ranks its `halfShortlist` nearest
    * sub-centroids (a per-query window over queries·cellsPerHalf broadcast-
    * scored rows), the shortlist pair grid is ranked by summed half
    * similarity (the multi-sequence traversal collapsed to a bounded
    * grid — shortlist² pairs per query), and the best `nProbeCells`
    * product cells are probed with exact cosine + per-query top-k, the
    * same tail as [[ivfTopK]].
    *
    * Plan: two broadcast half-centroid tables (native dot kernel), two
    * map-side-combined argmins joined by id for the corpus, per-query
    * windows only (never global), one cluster-keyed equi-join. Candidate
    * volume ≈ corpus · nProbeCells / cellsPerHalf².
    */
  def imiTopK(
      vectors: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      cellsPerHalf: Int = 128,
      nProbeCells: Int = 1024,
      halfShortlist: Int = 64,
      kmeansIters: Int = 1,
      corpusSize: Option[Long] = None,
      dim: Int = 64,
      // OCCUPANCY-BUDGETED probing (r10 verdict task 3): product cells are
      // wildly uneven — many of the shortlist² grid cells are EMPTY, so a
      // fixed nProbeCells examines far fewer corpus rows than its flat-IVF
      // fraction equivalent (the r10 sf10f gap: imi 0.714 vs ivf 0.828 at
      // "the same" probed-cell ratio). With a row budget the traversal
      // walks cells in multi-sequence order (summed half-distance — the
      // Babenko-Lempitsky ordering, collapsed to the bounded grid) and
      // keeps probing until the CUMULATIVE member count reaches the
      // budget, so the exact-scored fraction is what the caller asked for
      // regardless of cell-occupancy skew. nProbeCells stays the hard cap.
      probeRowBudget: Option[Long] = None): DataFrame = {
    require(dim >= 2 && dim % 2 == 0, s"dim must be even: $dim")
    require(halfShortlist >= 1 && nProbeCells >= 1 && cellsPerHalf >= 1,
      "imiTopK sizes must be positive")
    require(probeRowBudget.forall(_ >= 1), "probeRowBudget must be positive")
    val half = dim / 2
    val spark = vectors.sparkSession
    import spark.implicits._
    import graft.functions.DotProductFloat.dotF
    def halfCol(v: Column, which: Int): Column =
      if (which == 0) slice(v, 1, half) else slice(v, half + 1, half)
    // one quantizer per half, fit on the half-vectors
    val cents: Seq[Seq[(Long, Seq[Double])]] = (0 to 1).map { h =>
      fitCentroids(
        vectors.select(col(idCol), halfCol(col(vecCol), h).as("dj_h")),
        idCol, "dj_h", cellsPerHalf, kmeansIters, corpusSize)
    }
    if (cents.exists(_.isEmpty))
      return queries
        .select(
          col(idCol).as("query_id"),
          col(idCol).as("neighbor_id"),
          lit(0.0).as("cosine"),
          lit(0).as("rank"))
        .where(lit(false))
    def centDfOf(h: Int) = broadcast(cents(h).map { case (cid, v) =>
      (cid, v.map(_.toFloat).toArray)
    }.toDF(s"dj_cid$h", s"dj_cvec$h"))
    // corpus: BOTH half-argmins per row via the native plan-constant
    // expression — one projection, no per-half kernel joins (the keyed
    // argmin's min(struct) planned a sorting-and-spilling SortAggregate
    // over the n·k scored rows; see ivfCorpusClusters)
    import graft.functions.NearestCellDot.nearestCellDot
    def cellsFOf(h: Int) = cents(h).map { case (cid, v) =>
      (cid, v.map(_.toFloat))
    }
    val base = vectors
      .where(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"))
    val corpusPlan = base
      .select(
        col("neighbor_id"), col("vec"),
        struct(
          nearestCellDot(halfCol(col("vec"), 0), cellsFOf(0))
            .getField("cid").as("dj_c0"),
          nearestCellDot(halfCol(col("vec"), 1), cellsFOf(1))
            .getField("cid").as("dj_c1")).as("cluster"))
    // the budgeted flavor reads the assigned corpus TWICE (occupancy
    // aggregate + probe join) — checkpoint so the two half-argmins run
    // once. Registry-tracked; Blocks.releaseAll() reclaims after use.
    val corpus =
      if (probeRowBudget.isDefined) graft.core.Blocks.checkpoint(corpusPlan)
      else corpusPlan
    // queries: per-half shortlist, pair grid ranked by summed similarity
    def queryHalf(h: Int) = bestCellsBroadcast(
      queries.select(col(idCol).as("query_id"), halfCol(col(vecCol), h).as("dj_h")),
      "query_id", centDfOf(h), s"dj_cid$h",
      -dotF(col("dj_h"), col(s"dj_cvec$h")),
      howMany = halfShortlist, nCentroids = cents(h).size)
      .select(
        col("query_id"),
        col("dj_cell_cid").as(s"dj_cid$h"),
        col("dj_cell_neg").as(s"dj_neg$h"))
    val ranked = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
      .join(queryHalf(0), Seq("query_id"))
      .join(queryHalf(1), Seq("query_id"))
      .withColumn(
        "dj_prank",
        row_number().over(
          Window.partitionBy("query_id")
            .orderBy(
              col("dj_neg0") + col("dj_neg1"),
              col("dj_cid0"), col("dj_cid1"))))
      .where(col("dj_prank") <= nProbeCells)
      .withColumn(
        "cluster",
        struct(
          col("dj_cid0").as("dj_c0"),
          col("dj_cid1").as("dj_c1")))
    val q = probeRowBudget match {
      case None =>
        ranked.select(col("query_id"), col("query_vec"), col("cluster"))
      case Some(budget) =>
        // cells in traversal order consume their corpus occupancy from the
        // budget; a cell is probed iff the budget was not exhausted BEFORE
        // it (the boundary-crossing cell is included, rank 1 always is).
        // Occupancy is ≤ cellsPerHalf² rows — broadcast.
        val occ = broadcast(
          corpus.groupBy("cluster").agg(count(lit(1)).as("dj_occ")))
        val wCum = Window.partitionBy("query_id").orderBy(col("dj_prank"))
          .rowsBetween(Window.unboundedPreceding, -1)
        ranked
          .join(occ, Seq("cluster"), "left")
          .withColumn(
            "dj_before",
            sum(coalesce(col("dj_occ"), lit(0L))).over(wCum))
          .where(coalesce(col("dj_before"), lit(0L)) < budget)
          .select(col("query_id"), col("query_vec"), col("cluster"))
    }
    corpus
      .join(broadcast(q), Seq("cluster"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cosineF(col("query_vec"), col("vec")))
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Corpus-aware IMI sizing: (cellsPerHalf, halfShortlist, probeRowBudget).
    * cellsPerHalf = ⌈√(2n)⌉ (clamped to [16, 512]) puts ~2 expected members
    * in each PRODUCT cell — the r11 sweep on the fresh-content 100× leg
    * (all at exact-scored fraction 0.1, n = 200k, budgeted
    * probing): 128 half-cells recall 0.714, 224 → 0.777, 320 → 0.790,
    * 448 → 0.803, 512 → **0.828** — equal to flat IVF's 0.828 at the same
    * fraction, for 2·512 half-dots ≈ 512 full-dot equivalents of
    * assignment per vector vs the flat index's 8000 (15.6× cheaper). Extra
    * Lloyd iterations bought ≤ +0.007 for a full assignment pass — one is
    * right. The 512 cap is the grid-sort boundary (shortlist² rows per
    * query); past n ≈ 131k product cells grow again, and the next rung is
    * a recursive quantizer, not a wider flat half-table. The shortlist
    * covers the traversal frontier (= cellsPerHalf, capped 256); the row
    * budget is the same [[targetFraction]] examined-fraction envelope the
    * LSH/IVF autos spend.
    */
  def imiAutoParams(corpusSize: Long, k: Int = 10): (Int, Int, Long) = {
    require(corpusSize >= 0, s"corpusSize must be non-negative: $corpusSize")
    val n = math.max(2L, corpusSize)
    val cph = math.max(16, math.min(512,
      math.ceil(math.sqrt(2.0 * n)).toInt))
    val shortlist = math.min(cph, 256)
    val budget = math.max(k.toLong,
      math.ceil(targetFraction(n, k) * n).toLong)
    (cph, shortlist, budget)
  }

  /** [[imiTopK]] with corpus-aware defaults from [[imiAutoParams]] —
    * occupancy-budgeted probing at the standard examined-fraction
    * envelope.
    */
  def imiTopKAuto(
      vectors: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      corpusSize: Long,
      dim: Int = 64): DataFrame = {
    val (cph, shortlist, budget) = imiAutoParams(corpusSize, k)
    imiTopK(vectors, queries, idCol, vecCol, k,
      cellsPerHalf = cph, nProbeCells = shortlist * shortlist,
      halfShortlist = shortlist, kmeansIters = 1,
      corpusSize = Some(corpusSize), dim = dim,
      probeRowBudget = Some(budget))
  }

  /** Which auto ANN path [[annTopKAuto]] dispatches to for a corpus of
    * `corpusSize` — the documented cost boundaries, in one place:
    *   - "lsh" below 32k vectors: the ranked multi-probe tables are
    *     near-exhaustive there anyway and need no quantizer fit;
    *   - "ivf" up to 8192 cells × 25 members (≈ 205k): flat assignment is
    *     affordable and the 25-member cells hit the measured recall knee;
    *   - "imi" past the flat cap: product cells keep the fine-cell recall
    *     lever without flat IVF's n·cells assignment blow-up.
    */
  def annAutoMethod(corpusSize: Long, k: Int = 10): String = {
    require(corpusSize >= 0, s"corpusSize must be non-negative: $corpusSize")
    if (corpusSize < 32768L) "lsh"
    else if (corpusSize <= 8192L * 25) "ivf"
    else "imi"
  }

  /** Corpus-row floor past which the persisted index's COMPRESSED read
    * path (ADC prefilter over 2·m-byte codes) is dispatched by default:
    * below it the probed cells are small enough that the uncompressed
    * exact scan wins outright (builder r11 profile: indexed pq 1.1 s vs
    * uncompressed 0.8 s at sf0.1-scale cells), and the LUT/rerank overhead
    * buys nothing. Past ~1M rows per probe set the candidate BYTES
    * dominate and the 16× payload cut pays.
    */
  val PqTierMinCorpus: Long = 1000000L

  /** The persisted-index dispatch decision [[annTopKAuto]] takes when an
    * `indexPath` is supplied — exposed so callers (the bench artifact)
    * can record it: "indexed_pq" when the index carries codes AND the
    * corpus is past [[PqTierMinCorpus]], else "indexed".
    */
  def annAutoIndexedMethod(
      pqCarrying: Boolean,
      corpusSize: Long,
      pqMinCorpus: Long = PqTierMinCorpus): String =
    if (pqCarrying && corpusSize >= pqMinCorpus) "indexed_pq" else "indexed"

  /** One auto entry point for approximate top-k: picks the method by
    * corpus size ([[annAutoMethod]]) and runs that method's auto-sized
    * flavor. Callers who need the decision recorded (the bench artifact
    * does) read [[annAutoMethod]] with the same arguments.
    *
    * With `indexPath` supplied the dispatch reaches the PERSISTED tiers
    * instead: an absent index is built once from `vectors` at the
    * flat-auto geometry — carrying PQ codes so the compressed tier stays
    * available as the corpus grows — and the query answers from the index
    * ([[graft.sources.AnnIndex.queryTopK]], or the ADC-compressed
    * [[graft.sources.AnnIndex.queryTopKPq]] at a RECALL-TARGETED
    * poolFactor once the corpus passes `pqMinCorpus`); `vectors` is
    * otherwise untouched — repeat queries never re-read the corpus.
    */
  def annTopKAuto(
      vectors: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      corpusSize: Long,
      dim: Int = 64,
      indexPath: Option[String] = None,
      pqMinCorpus: Long = PqTierMinCorpus,
      recallTarget: Double = 0.85,
      buildKmeansIters: Int = 1): DataFrame =
    indexPath match {
      case Some(path) =>
        import graft.sources.AnnIndex
        val spark = vectors.sparkSession
        val (cents, nProbe) = ivfAutoParams(corpusSize, k)
        // `buildKmeansIters` defaults to one Lloyd round, matching
        // ivfTopKAuto: on hard (near-uniform) corpora the unrefined seed
        // quantizer costs ~0.06 recall that no probe/pool budget can buy
        // back (r12 frontier probe). Callers that pre-build and need the
        // bit-reproducible flavor (the correctness gate) pass 0 so the
        // geometry HERE matches the geometry they pinned.
        if (!AnnIndex.exists(path))
          AnnIndex.build(
            vectors, idCol, vecCol, path, nCentroids = cents,
            kmeansIters = buildKmeansIters, corpusSize = Some(corpusSize),
            pq = Some((8, 256)), pqIters = 1): Unit
        val meta = AnnIndex.readMeta(path)
        annAutoIndexedMethod(meta.pqM > 0, corpusSize, pqMinCorpus) match {
          case "indexed_pq" =>
            // sizing cached beside the index — repeat queries on a stable
            // index read the decision instead of re-probing
            val (pf, _) = AnnIndex.autoPoolFactorCached(
              spark, path, k, nProbe, recallTarget)
            AnnIndex.queryTopKPq(queries, idCol, vecCol, path, k, nProbe, pf)
          case _ =>
            AnnIndex.queryTopK(queries, idCol, vecCol, path, k, nProbe)
        }
      case None =>
        annAutoMethod(corpusSize, k) match {
          case "lsh" =>
            lshTopKAuto(vectors, queries, idCol, vecCol, k, corpusSize, dim)
          case "ivf" =>
            ivfTopKAuto(vectors, queries, idCol, vecCol, k, corpusSize)
          case _ =>
            imiTopKAuto(vectors, queries, idCol, vecCol, k, corpusSize, dim)
        }
    }

  /** Sign-bit width for `embeddingNearDups` scaled to the corpus: per-band
    * bucket count tracks corpusSize/32 so the EXPECTED bucket holds ~32
    * members as the corpus grows (the `maxBucketSize` cap handles the
    * tail). Candidate volume per band is ≈ n·E[bucket]/2, so the target
    * bucket size IS the linear constant — the earlier /256 target produced
    * ~256-member expected buckets, and the 100× bench leg measured the
    * resulting ~300M-pair candidate set failing its verification join;
    * /32 cuts that 8× for a modest recall cost (per-band match p^w with
    * 3 more bits; near-identical vectors at p≈0.95 keep ≥0.9 recall over
    * 4 bands). Per-band width is clamped to [8, 15] bits AND to what the
    * single-long key can hold (`width·bands < 64` — the hard cap wins over
    * the 8-bit floor at bands ≥ 8), so the result always satisfies
    * `embeddingNearDups`' own require for the same `bands`.
    */
  def nearDupBits(corpusSize: Long, bands: Int = 4): Int = {
    require(bands > 0 && bands < 64, s"bands must be in [1, 63], got $bands")
    val target  = math.max(1L, corpusSize / 32L)
    val perBand = 64 - java.lang.Long.numberOfLeadingZeros(target)
    val hardCap = (64 - 1) / bands // width*bands < 64
    math.min(hardCap, math.min(15, math.max(8, perBand))) * bands
  }

  /** Embedding-cosine near-duplicate pairs (id1 < id2, cosine >= threshold)
    * via BANDED sign-bit LSH — the embedding flavor of
    * `Dedup.minhashNearDups`, with the same two scale guards:
    *
    *   - the `bits` sign bits are split into `bands` independent sub-keys;
    *     a pair is a candidate if it agrees on ALL bits of ANY band (union
    *     of `bands` narrow bucket joins, not one join on the full key).
    *     Recall for near-identical vectors is `1-(1-p^w)^bands` (p = per-bit
    *     agreement, w = bits/bands) — strictly above a single full-width
    *     key's `p^w`, while candidate volume per band is ~n²/2^w before
    *     the cap;
    *   - a (band, bucket) cell with more than `maxBucketSize` members is
    *     dropped (count-first cap, exactly `Dedup.lshCandidatePairs`'
    *     guard) — hot cells are where a bucket
    *     join degenerates quadratic at corpus scale; a 100 TB corpus sets
    *     `bits = nearDupBits(n)` so the average cell stays small and the
    *     cap only trims pathological mass (near-constant vectors), which
    *     exact dedup upstream should have removed anyway.
    *
    * Candidates are then verified with the exact cosine, so banding only
    * affects recall, never precision.
    *
    * EAGER materialization contract: as `Dedup.minhashNearDups` —
    * construction runs the banding and candidate-generation jobs (the
    * measured candidate count sizes the verification join); only the exact
    * cosine verification stays lazy. Intermediates are registry-tracked
    * ([[graft.core.Blocks]]); the bucket blocks are released before
    * returning, the candidate pairs with `Blocks.releaseAll()` once the
    * result is consumed.
    */
  /** Cross-corpus embedding near-dups — the SEMANTIC train/eval
    * contamination check ([[graft.ops.Dedup.crossNearDups]]'s embedding
    * sibling): pairs (one id from `a`, one from `b`) whose exact cosine
    * reaches `threshold`, candidates from the same banded sign-bit
    * buckets as [[embeddingNearDups]] but joined ACROSS the two sides
    * only, with per-side count-first caps (a hot bucket on either side is
    * dropped by key before any row materializes — candidate volume is
    * bounded at maxBucketSize² per cell, never |a|·|b|).
    */
  def crossEmbeddingNearDups(
      a: DataFrame,
      b: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bits: Int = 32,
      dim: Int = 64,
      bands: Int = 4,
      maxBucketSize: Int = 1000): DataFrame = {
    require(bands > 0 && bits % bands == 0, s"bits ($bits) must divide into bands ($bands)")
    val width = bits / bands
    require(width * bands < 64, "banded key must fit a single long")
    val planes = hyperplanes(bits, dim)
    val mask = (1L << width) - 1L
    def banded(df: DataFrame): DataFrame = {
      val keyed = df.where(col(idCol).isNotNull).select(
        col(idCol),
        lshKey(col(vecCol), planes).as("key"))
      keyed.select(
        col(idCol),
        explode(
          transform(
            sequence(lit(0), lit(bands - 1)),
            bd => struct(
              bd.as("band"),
              call_function("shiftrightunsigned", col("key"), bd * lit(width))
                .bitwiseAND(lit(mask)).as("bucket"))))
          .as("bb"))
        .select(col(idCol), col("bb.band"), col("bb.bucket"))
    }
    val ba = graft.core.Blocks.checkpoint(banded(a))
    val bb = graft.core.Blocks.checkpoint(banded(b))
    def okBuckets(s: DataFrame) = s
      .groupBy("band", "bucket")
      .agg(count(lit(1)).as("dj_bn"))
      .where(col("dj_bn").between(1, maxBucketSize))
      .select("band", "bucket")
    val candidates = ba.join(okBuckets(ba), Seq("band", "bucket"))
      .select(col("band"), col("bucket"), col(idCol).as("id1"))
      .join(
        bb.join(okBuckets(bb), Seq("band", "bucket"))
          .select(col("band"), col("bucket"), col(idCol).as("id2")),
        Seq("band", "bucket"))
      .select("id1", "id2")
      .distinct()
    // LAZY checkpoint (r15): the count materializes it in one pass
    val checkpointed = graft.core.Blocks.checkpointLazy(candidates)
    val nCand = checkpointed.count()
    graft.core.Blocks.release(ba)
    graft.core.Blocks.release(bb)
    val sidesA = a.where(col(idCol).isNotNull)
      .select(col(idCol), col(vecCol).as("vec"))
    val sidesB = b.where(col(idCol).isNotNull)
      .select(col(idCol), col(vecCol).as("vec"))
    graft.ops.Dedup
      .verifyPairs(checkpointed, nCand, sidesA, sidesB, idCol, Seq("vec" -> "v"))
      .withColumn("cosine", cosineF(col("v1"), col("v2")))
      .where(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), col("cosine"))
  }

  /** Shared tail of the within-corpus embedding near-dup pipelines:
    * count-first-capped (band, bucket) cells → cross-pair candidates →
    * candidate-volume-sized exact-cosine verification. `releasable`
    * blocks are dead once the candidate set is materialized and are
    * released right then.
    */
  private def bandedCosinePairs(
      banded: DataFrame,
      releasable: Seq[DataFrame],
      sides: DataFrame,
      idCol: String,
      threshold: Double,
      maxBucketSize: Int): DataFrame = {
    // COUNT-FIRST capping (see Dedup.lshCandidatePairs): the cap filters
    // bucket keys off a constant-memory count aggregate, so a hot cell
    // never materializes as an array, and the within-bucket self-join is
    // bounded at maxBucketSize rows per key per side
    val sizes = banded
      .groupBy("band", "bucket")
      .agg(count(lit(1)).as("dj_bn"))
      .where(col("dj_bn").between(2, maxBucketSize))
      .select("band", "bucket")
    val ok = banded.join(sizes, Seq("band", "bucket"))
    val candidates = ok
      .select(col("band"), col("bucket"), col(idCol).as("id1"))
      .join(
        ok.select(col("band"), col("bucket"), col(idCol).as("id2")),
        Seq("band", "bucket"))
      .where(col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
    // LAZY checkpoint (r15): the count materializes it in one pass
    val checkpointed = graft.core.Blocks.checkpointLazy(candidates)
    val nCand = checkpointed.count()
    // candidates are materialized — the banded bucket blocks are dead NOW,
    // not at the next driver GC
    releasable.foreach(graft.core.Blocks.release)
    // candidate-volume-sized verification (see Dedup.verifyPairs): reduce
    // the vector side to candidate ids first in the common case; full
    // shuffle-hash only for a degenerate candidate explosion
    graft.ops.Dedup
      .verifyPairs(checkpointed, nCand, sides, sides, idCol, Seq("vec" -> "v"))
      .withColumn("cosine", cosineF(col("v1"), col("v2")))
      .where(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), col("cosine"))
  }

  /** The banded-bucket explode over a single-long sign key: band b's
    * bucket is key bits [b·width, (b+1)·width).
    */
  private def bandedBuckets(
      keyed: DataFrame, idCol: String, keyCol: String,
      bands: Int, width: Int): DataFrame = {
    val mask = (1L << width) - 1L
    keyed.select(
      col(idCol),
      explode(
        transform(
          sequence(lit(0), lit(bands - 1)),
          b => struct(
            b.as("band"),
            call_function("shiftrightunsigned", col(keyCol), b * lit(width))
              .bitwiseAND(lit(mask)).as("bucket"))))
        .as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bucket"))
  }

  def embeddingNearDups(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bits: Int = 32,
      dim: Int = 64,
      bands: Int = 4,
      maxBucketSize: Int = 1000): DataFrame = {
    require(bands > 0 && bits % bands == 0, s"bits ($bits) must divide into bands ($bands)")
    val width = bits / bands
    require(width * bands < 64, "banded key must fit a single long")
    val planes = hyperplanes(bits, dim)
    // NULL ids can never pair (id1 < id2 is NULL) — drop them before the
    // bucket size count so they don't shift a cell across the cap boundary
    val keyed = vectors.where(col(idCol).isNotNull).select(
      col(idCol),
      col(vecCol).as("vec"),
      lshKey(col(vecCol), planes).as("key"))
    // materialized once: read three times by the count-first machinery,
    // and recomputing it would re-run the sign-bit kernel over the corpus
    // per reference
    val bandedCk = graft.core.Blocks.checkpoint(
      bandedBuckets(keyed, idCol, "key", bands, width))
    bandedCosinePairs(
      bandedCk, Seq(bandedCk), keyed.select(col(idCol), col("vec")),
      idCol, threshold, maxBucketSize)
  }

  /** [[embeddingNearDups]] with CORPUS-SCALED key width and no caller-side
    * count job: the sign key is computed ONCE at the maximum width the
    * banded long can hold (⌊63/bands⌋ bits per band) and checkpointed as a
    * narrow (id, key) frame; the corpus size — the `corpusSize` hint when
    * given, else one count of that compact checkpoint (never a second scan
    * of the raw vectors) — picks the effective width via [[nearDupBits]],
    * and each band's bucket is a shift/mask SLICE of the wide key.
    *
    * Bit-identical to `embeddingNearDups(bits = nearDupBits(n))` by the
    * hyperplane PREFIX property: [[hyperplanes]] draws planes sequentially
    * from one LCG stream, so plane i is the same plane at any requested
    * width, and key bit i = sign(v·plane_i) regardless of how many bits
    * were computed — the sliced buckets match the narrow-key buckets bit
    * for bit (spec-pinned). The r10 gate spelled this as an external
    * `vecs.count()` per invocation — a full corpus scan the bench paid on
    * every run (VERDICT r10 item 4).
    */
  def embeddingNearDupsAuto(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int = 64,
      bands: Int = 4,
      maxBucketSize: Int = 1000,
      corpusSize: Option[Long] = None): DataFrame = {
    require(bands > 0 && bands < 64, s"bands must be in [1, 63], got $bands")
    val maxWidth = (64 - 1) / bands
    val planes = hyperplanes(maxWidth * bands, dim)
    val keyedCk = graft.core.Blocks.checkpoint(
      vectors.where(col(idCol).isNotNull).select(
        col(idCol),
        lshKey(col(vecCol), planes).as("dj_wkey")))
    val n = corpusSize.getOrElse(keyedCk.count())
    val width = nearDupBits(n, bands) / bands
    val banded = bandedBuckets(keyedCk, idCol, "dj_wkey", bands, width)
    val sides = vectors.where(col(idCol).isNotNull)
      .select(col(idCol), col(vecCol).as("vec"))
    bandedCosinePairs(
      banded, Seq(keyedCk), sides, idCol, threshold, maxBucketSize)
  }

  /** SemDeDup-style semantic near-duplicate pairs (public: Abbas et al.
    * 2023, arXiv:2303.09540): partition the embedding space with a
    * deterministic k-means coarse quantizer ([[fitCentroids]]) and compare
    * vectors only WITHIN their cluster — the pruning that makes
    * embedding-level dedup tractable when sign-bit LSH recalls poorly
    * (moderate-similarity semantic dups spread across many LSH buckets,
    * but land in one k-means cell).
    *
    * Returns (id1 < id2, cluster, cosine ≥ threshold). Determinism: cluster
    * assignment is argmax over round(cosine-to-centroid, 6) with ties to
    * the smallest centroid id — with `lloydIters = 0` the whole pipeline is
    * a pure function of the input (the correctness gate's flavor); Lloyd
    * refinement trades bit-reproducibility for tighter cells (see
    * [[fitCentroids]]).
    *
    * 100 TB posture: assignment is a per-row argmax kernel over the
    * (tiny) centroid table ([[assignCells]]) — one corpus scan, no
    * shuffle; within-cluster pair generation shuffles on cluster id with
    * the same COUNT-FIRST `maxClusterSize` cap as every bucket-join in
    * [[Dedup]] (a cell only
    * self-joins when its member count is in [2, cap]); verification is
    * candidate-volume-sized (`Dedup.verifyPairs`). Scale `nClusters` with
    * the corpus (SemDeDup used 50k clusters at web scale) so the EXPECTED
    * cell stays small and the cap only trims pathological mass.
    *
    * `probes` > 1 is the recall lever: each vector joins its `probes`
    * nearest cells (not just the argmax), so a pair straddling a cell
    * boundary is recovered whenever the two land in ANY shared probe cell
    * — the multi-probe trick from IVF search applied to the SemDeDup
    * pairing. Candidate volume scales ~×probes²/2 in the worst case (in
    * practice far less — probe cells overlap); pairs surfacing from
    * several shared cells are deduplicated to their smallest shared cell
    * id BEFORE verification, so the exact-cosine work and the output see
    * each pair once. `probes = 1` keeps the original single-cell plan
    * byte-for-byte (the correctness gate's flavor).
    *
    * The `maxClusterSize` cap binds on each cell's PRIMARY (rank-1)
    * membership — which is independent of `probes` — not on the
    * probe-inflated total, so a cell that emitted pairs at probes = 1 is
    * never dropped merely because probes = p visitors pushed its total
    * over the cap. A separate volume guard (total membership ≤
    * probes·maxClusterSize) bounds the within-cell self-join against
    * pathological probe-visitor mass; ONLY when that guard binds (all
    * probe-2+ traffic concentrating on one cell — degenerate geometry)
    * can raising `probes` lose a previously-found pair. With that
    * qualification, the probes = 1 output is a subset of the probes = p
    * output for p > 1 (rank-1 cells are among the p probe cells) —
    * `SemanticProbeSpec` pins both the subset law and the
    * cap-independence case.
    */
  /** Cluster count for [[semanticNearDups]] scaled to the corpus: the
    * EXPECTED cluster size tracks `targetClusterSize`, so within-cluster
    * candidate volume stays ~n·targetClusterSize/2 — linear in the corpus.
    * Floor 16; no upper cap (SemDeDup used 50k clusters at web scale) —
    * the assignment kernel's cost is the unavoidable n·k distance
    * evaluations.
    */
  def semanticClusters(corpusSize: Long, targetClusterSize: Int = 200): Int = {
    require(targetClusterSize > 0, s"targetClusterSize must be positive: $targetClusterSize")
    math.max(16L, math.min(Int.MaxValue.toLong, corpusSize / targetClusterSize)).toInt
  }

  /** Per-row SemDeDup cell assignment over `base` = (id, vec): each row
    * joins its `nProbes` best cells by ROUNDED cosine (argmax over
    * −round(cos, 6), exact, ties to the smallest centroid id — the same
    * coarse-membership trick as the near-dup oracles: a last-ulp engine
    * divergence only matters within ~1e-13 of a rounding midpoint).
    * Output: base's columns + `cluster` + `dj_primary` (rank-1 cell).
    *
    * NearestCellsCos embeds the centroid table as a compact plan constant
    * and ranks the cells per ROW in one codegen'd loop — one corpus scan,
    * no aggregate, no join, no shuffle; duplicate ids assign per row. A
    * literal transform+array_sort argmax is interpreted (ArrayTransform and
    * ArraySort are CodegenFallback) and measured 2× slower at k = 64 on
    * the corpus assignment job; it survives as the test-only reference
    * `SemanticAssignReference`, which this kernel matches bit for bit.
    */
  private[graft] def assignCells(
      base: DataFrame,
      withNorms: Seq[(Long, Seq[Double], Double)],
      nProbes: Int): DataFrame = {
    import graft.functions.NearestCellsCos.nearestCellsCos
    val ranked = nearestCellsCos(
      col("vec"),
      withNorms.map { case (cid, v, _) => (cid, v) },
      withNorms.map(_._3),
      nProbes, divideByRowNorm = true, round6 = true)
    val cols = base.columns.map(col)
    if (nProbes == 1)
      base.select(
        cols :+ element_at(ranked, 1).as("cluster") :+
          lit(true).as("dj_primary"): _*)
    else
      // multi-probe: the row fans out to its nProbes best cells — the
      // explode multiplies rows, not scans. posexplode marks the rank-1
      // (primary) cell: the size cap must count primaries only, so it
      // binds identically at every `probes`
      base
        .select(cols :+ posexplode(ranked): _*)
        .select(
          cols :+ col("col").as("cluster") :+
            (col("pos") === 0).as("dj_primary"): _*)
  }

  def semanticNearDups(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nClusters: Int = 256,
      lloydIters: Int = 0,
      maxClusterSize: Int = 1000,
      corpusSize: Option[Long] = None,
      probes: Int = 1): DataFrame = {
    require(nClusters > 0, s"nClusters must be positive: $nClusters")
    require(maxClusterSize >= 2, s"maxClusterSize must be at least 2: $maxClusterSize")
    require(probes >= 1, s"probes must be positive: $probes")
    val base = vectors
      .where(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).as("vec"))
    val centroids =
      fitCentroids(base, idCol, "vec", nClusters, lloydIters, corpusSize)
    if (centroids.isEmpty)
      return base
        .select(
          col(idCol).as("id1"),
          col(idCol).as("id2"),
          lit(0L).as("cluster"),
          lit(0.0).as("cosine"))
        .where(lit(false))
    // centroid norms are driver-computed constants (left-to-right sum of
    // squares)
    val withNorms = centroids.map { case (cid, v) =>
      (cid, v, math.sqrt(v.map(x => x * x).sum))
    }
    val nProbes = math.min(probes, centroids.size)
    // read three times below (sizes, two join sides) — the argmax kernel
    // over the corpus must run once, not per branch; registry-tracked so a
    // harness/constraint scope can release it the moment the pairs are
    // consumed
    val assigned =
      graft.core.Blocks.checkpoint(assignCells(base, withNorms, nProbes))
    // the cap counts PRIMARY members (probes-independent — at probes = 1
    // this is exactly the old between(2, maxClusterSize) on totals); the
    // probes·maxClusterSize total guard is the pathological-visitor bound
    // documented above
    val sizes = assigned
      .groupBy("cluster")
      .agg(
        count(lit(1)).as("dj_cn"),
        sum(when(col("dj_primary"), 1L).otherwise(0L)).as("dj_cp"))
      .where(
        col("dj_cn") >= 2 && col("dj_cp") <= maxClusterSize &&
          col("dj_cn") <= lit(maxClusterSize.toLong) * nProbes)
      .select("cluster")
    val members = assigned.join(sizes, Seq("cluster"))
    val rawCandidates = members
      .select(col("cluster"), col(idCol).as("id1"))
      .join(members.select(col("cluster"), col(idCol).as("id2")), Seq("cluster"))
      .where(col("id1") < col("id2"))
      .select("id1", "id2", "cluster")
    // multi-probe: a pair sharing several probe cells must be scored and
    // reported ONCE — canonical cell = smallest shared cell id (for
    // probes = 1 each pair arises in exactly one cell; skip the shuffle)
    val candidates =
      if (nProbes == 1) rawCandidates
      else rawCandidates.groupBy("id1", "id2").agg(min("cluster").as("cluster"))
    // LAZY checkpoint (r15): the count materializes it in one pass
    val checkpointed = graft.core.Blocks.checkpointLazy(candidates)
    val nCand = checkpointed.count()
    // probes > 1 leaves p rows per id in `assigned`; the verify side needs
    // one vector per id (values identical across probe rows, so the
    // subset-dedup is value-deterministic)
    val sides =
      if (nProbes == 1) assigned.select(col(idCol), col("vec"))
      else assigned.select(col(idCol), col("vec")).dropDuplicates(idCol)
    graft.ops.Dedup
      // "cluster" rides along on the candidate frame through the joins
      .verifyPairs(checkpointed, nCand, sides, sides, idCol, Seq("vec" -> "v"))
      .withColumn("cosine", cosineF(col("v1"), col("v2")))
      .where(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), col("cluster"), col("cosine"))
  }
}
