package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. All sketches are computed with codegen'd
  * higher-order functions (no UDFs); all candidate generation is
  * equi-join-shaped (shuffle on bucket keys), never O(n²) — the brute-force
  * pairwise variants exist only as small-scale verification oracles.
  *
  * 100 TB posture:
  *   - Signatures/sketches are one narrow projection per document — a single
  *     map-side pass over the corpus.
  *   - LSH candidate generation explodes B band keys per doc (linear blowup,
  *     B ≈ 16) and shuffles on (band, bucket): a standard hash join. Hot
  *     buckets (boilerplate docs) are capped via `maxBucketSize`.
  *   - Verification re-joins candidate pairs to per-doc shingle sets and
  *     evaluates Jaccard with array_intersect — per-pair work bounded by
  *     shingle-set size, no shuffle beyond the candidate join.
  */
object Dedup {

  /** Spread a narrow projection across the cluster ONLY when the source
    * arrives under-partitioned (a single small parquet file reads as one
    * partition, serializing the per-row sketch work that follows). A
    * well-partitioned 100 TB scan must NOT be round-robin-reshuffled — the
    * full-corpus exchange would dwarf the sketch cost — hence the threshold
    * rather than an unconditional `repartition`.
    */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val spark  = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // partition count from the physical plan's leaves — `df.rdd` would
    // materialize the whole RDD lineage just to read the same number. A
    // non-bucketed file scan reports UnknownPartitioning(0), so read the
    // scan's OWN input RDD partition count (post-pruning splits — Spark
    // computes these at execution anyway; `relation.location.sizeInBytes`
    // would be the PRE-pruning table size and over-counts a pruned scan);
    // only an all-leaves-unknown plan falls back to the full RDD.
    // floored at 1 per scan: an empty or fully-pruned scan yields 0 input
    // partitions, which must not be confused with "no known leaf" (the only
    // case worth the df.rdd fallback)
    val leafParts = df.queryExecution.executedPlan.collectLeaves().map {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        math.max(1L, f.inputRDDs().map(_.getNumPartitions.toLong).sum)
      case l => l.outputPartitioning.numPartitions.toLong
    }.sum
    val parts = if (leafParts > 0) leafParts else df.rdd.getNumPartitions.toLong
    if (parts < target) df.repartition(target) else df
  }

  /** 128-bit fast fingerprint: two independent xxhash64 evaluations (the
    * second seeded by an extra constant column) packed in a struct. The
    * exact-dedup family (dedupParagraphs, removeBoilerplate,
    * duplicatedSpans/removeDuplicatedSpans, ngramNovelty) DELETES text on
    * fingerprint equality, so a single 64-bit key is not enough at corpus
    * scale — birthday collisions become expected around ~5e9 distinct
    * paragraphs/windows (a realistic 100 TB corpus), silently merging
    * unrelated text. Two independent 64-bit halves push that to ~1e19
    * distinct keys: the struct is 16 bytes on the shuffle and both halves
    * are the codegen'd xxhash64 kernel. Grouping/joining on the struct is
    * exactly as cheap as on a long2 key.
    */
  private def fp128(parts: Column*): Column =
    struct(
      xxhash64(parts: _*).as("h1"),
      xxhash64((lit(0x9E3779B97F4A7C15L) +: parts): _*).as("h2"))

  /** Character k-shingles of `text` as a distinct array. The text expression
    * is lambda-bound (Hof.bound) so expensive inputs (e.g. regex-normalized
    * text) evaluate once per row, not once per shingle position.
    */
  def charShingles(text: Column, k: Int): Column =
    Hof.bound(text) { t =>
      array_distinct(
        filter(
          transform(
            sequence(lit(0), greatest(length(t) - k, lit(0))),
            i => t.substr(i + 1, lit(k))),
          s => length(s) === k))
    }

  /** Word n-grams of the token array as a distinct array (token expression
    * lambda-bound, see `charShingles`).
    */
  def wordNgrams(tokensCol: Column, n: Int): Column =
    Hof.bound(tokensCol) { toks =>
      array_distinct(
        filter(
          transform(
            sequence(lit(0), greatest(size(toks) - n, lit(0))),
            i => concat_ws(" ", slice(toks, i + 1, lit(n)))),
          g => size(split(g, " ")) === n))
    }

  /** Exact-duplicate groups after normalization: md5-keyed groupBy — the
    * exact-dedup pass every pipeline runs first. One shuffle on the
    * fingerprint; map-side combine shrinks it to one row per distinct text.
    */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(
        TextAnalysis.fingerprintMd5(col(textCol)).as("fingerprint"),
        col(idCol))
      .groupBy("fingerprint")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))
      .where(col("n_docs") > 1)

  /** Exact dedup: keep the minimum-id row per normalized-text fingerprint.
    *
    * Shaped as a fingerprint-partitioned window min rather than a
    * groupBy+self-join: ONE md5 evaluation per row (the join spelling paid a
    * second full hash pass on the probe side), ONE shuffle of the corpus on
    * the fingerprint, and no join — at 100 TB the keep-set is nearly
    * corpus-sized, so the join could never broadcast anyway.
    */
  def dedupExact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("dj_fp", TextAnalysis.fingerprintMd5(col(textCol)))
      .withColumn(
        "dj_keep",
        min(col(idCol)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("dj_fp")))
      // a NULL text has no fingerprint and is a duplicate of nothing: keep
      // every such row (the previous join spelling silently dropped them —
      // null-unsafe equality — which was data loss, not deduplication)
      .where(col("dj_fp").isNull || col(idCol) === col("dj_keep"))
      .drop("dj_fp", "dj_keep")

  /** MinHash signature over a precomputed array of base shingle hashes:
    * h_i(x) = xxhash64(i, baseHash(x)) — one string hash per shingle total,
    * then `numHashes` cheap fixed-width long hashes (ANSI-safe: no wrapping
    * arithmetic). Interpreted HOF form — the hot path uses the bit-identical
    * codegen'd `graft.functions.MinHashSignature` (see `DedupSpec`'s
    * equivalence pin); this declarative spelling remains as its oracle.
    */
  def minhashSignatureHof(baseHashesCol: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(baseHashesCol, h => xxhash64(lit(i), h)))
    }: _*)

  /** Per-document sorted shingle-hash set + MinHash signature.
    *
    * The document is reduced to `shingle_hashes` = SORTED distinct
    * `xxhash64` values of its shingles — the representation every downstream
    * step wants: the signature is one codegen'd `MinHashSignature` pass (min
    * is order-invariant), and exact Jaccard between two docs is a codegen'd
    * two-pointer merge (`JaccardSortedLong`) instead of hash-set
    * intersect/union over boxed strings. Identical results to the
    * string-shingle spelling (the signature chain already keyed off
    * `xxhash64(shingle)`; Jaccard over 64-bit hashes equals Jaccard over
    * shingles up to vanishing collision probability).
    *
    * Shingling (regex normalize + substring explode) is the expensive step
    * and runs once; the materialized footprint is 8 bytes per shingle, not
    * the shingle strings (10–50× the text at k=5 — the round-1 concern).
    *
    * EAGER materialization contract: CONSTRUCTING this frame runs the
    * shingling job over the corpus (localCheckpoint via [[graft.core.Blocks]],
    * not `.cache()`) — the downstream pipelines read it from several plan
    * branches (bucket generation + two verification sides), and a lazy cache
    * both races those branches on first materialization AND registers a
    * CacheManager entry nobody can release — a constraint evaluating
    * near-dup budgets in a loop would leak one corpus-sized entry per call
    * (the heavyHitters leak class). The blocks are registry-tracked: release
    * them with `Blocks.release(result)`/`Blocks.releaseAll()` when done, or
    * they linger until driver GC.
    */
  def minhashed(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleK: Int = 5,
      numHashes: Int = 64): DataFrame = {
    val shingled = spread(df.select(col(idCol), col(textCol)))
      .select(
        col(idCol),
        // one fused kernel: normalize byte-scan → per-window hash → sorted
        // distinct array; no per-shingle string allocation anywhere
        graft.functions.ShingleHashes
          .shingleHashes(TextAnalysis.normalize(col(textCol)), shingleK)
          .as("shingle_hashes"))
    val shingledCk = graft.core.Blocks.checkpoint(shingled)
    shingledCk
      .where(size(col("shingle_hashes")) > 0)
      .withColumn(
        "signature",
        graft.functions.MinHashSignature.minhashSignature(col("shingle_hashes"), numHashes))
  }

  /** Per-document MinHash signature ONLY, eagerly checkpointed (same
    * [[graft.core.Blocks]] contract as `minhashed`): the bucketing
    * representation for the near-dup pipelines. Materializes 8·numHashes
    * bytes/doc (~512 B at 64 hashes) instead of `minhashed`'s full sorted
    * shingle arrays (8 B per DISTINCT SHINGLE ≈ the text itself) — at
    * 100 TB that's the difference between a sub-TB signature table and a
    * corpus-sized one. Exact-verification shingle arrays are recomputed for
    * CANDIDATE docs only (see `candidateSides`), so the big arrays never
    * materialize corpus-wide; the signature itself is also computed exactly
    * once per doc here (the minhashed-based spelling recomputed the
    * 64-hashes-per-shingle pass on every plan branch that read it).
    */
  def minhashSignatures(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleK: Int = 5,
      numHashes: Int = 64): DataFrame = {
    val sigs = spread(df.select(col(idCol), col(textCol)))
      .select(
        col(idCol),
        graft.functions.ShingleHashes
          .shingleHashes(TextAnalysis.normalize(col(textCol)), shingleK)
          .as("shingle_hashes"))
      .where(size(col("shingle_hashes")) > 0)
      .select(
        col(idCol),
        graft.functions.MinHashSignature
          .minhashSignature(col("shingle_hashes"), numHashes)
          .as("signature"))
    graft.core.Blocks.checkpoint(sigs)
  }

  /** Exact-verification payload for CANDIDATE docs only: semi-join the raw
    * corpus to the candidate id set and recompute (shingle_hashes,
    * signature) for that subset — one checkpoint sized by candidate volume,
    * not corpus volume. `broadcastIds` should mirror the verification
    * join's own broadcast decision (candidate set within the session's
    * broadcast budget).
    */
  private[graft] def candidateSides(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleK: Int,
      numHashes: Int,
      candIds: DataFrame,
      broadcastIds: Boolean): DataFrame = {
    val ids = if (broadcastIds) broadcast(candIds) else candIds
    val docs = spread(df.select(col(idCol), col(textCol)))
      .join(ids, Seq(idCol), "left_semi")
    graft.core.Blocks.checkpoint(
      docs
        .select(
          col(idCol),
          graft.functions.ShingleHashes
            .shingleHashes(TextAnalysis.normalize(col(textCol)), shingleK)
            .as("shingle_hashes"))
        .withColumn(
          "signature",
          graft.functions.MinHashSignature
            .minhashSignature(col("shingle_hashes"), numHashes)))
  }

  /** LSH banding: explode the signature into `bands` band keys
    * (band index, xxhash64 of the band's rows); docs sharing any band key
    * are candidates. Returns (id, band, bucket).
    */
  def lshBuckets(signed: DataFrame, idCol: String, bands: Int): DataFrame = {
    val rowsPerBand = size(col("signature")) / bands
    signed.select(
      col(idCol),
      explode(
        transform(
          sequence(lit(0), lit(bands - 1)),
          b =>
            struct(
              b.as("band"),
              xxhash64(slice(col("signature"), b * rowsPerBand + 1, rowsPerBand), b)
                .as("bucket")))).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bucket"))
  }

  /** Candidate pairs from LSH buckets (id1 < id2), hot buckets capped:
    * a bucket with more than `maxBucketSize` docs is dropped (boilerplate
    * guard — at scale those would be quadratic; they are better handled by
    * the exact-dedup pass that precedes MinHash).
    *
    * COUNT-FIRST capping: bucket sizes come from a count aggregate
    * (map-side partial, constant memory), the cap filters bucket KEYS,
    * and only surviving-bucket rows enter the within-bucket self-join —
    * so a pathological bucket never materializes anywhere (the previous
    * `collect_list`-then-filter spelling built the full id array in one
    * aggregation buffer BEFORE the size check could drop it). The
    * self-join is bounded by construction: every key holds ≤
    * `maxBucketSize` rows per side.
    */
  def lshCandidatePairs(
      buckets0: DataFrame,
      idCol: String,
      maxBucketSize: Int = 1000): DataFrame = {
    // the bucket frame is read THREE times below (size count + both
    // self-join sides) and upstream it embeds the signature computation —
    // materialize once ((id, band, bucket) rows, ~24 bytes each;
    // registry-tracked — `Blocks.releaseAll()` or driver GC reclaims).
    // NULL ids can never pair (id1 < id2 is NULL) — drop them BEFORE the
    // size count so they don't shift a bucket across the cap boundary
    // (the old collect_list(id) spelling skipped them implicitly).
    val buckets =
      graft.core.Blocks.checkpoint(buckets0.where(col(idCol).isNotNull))
    pairsFromBuckets(buckets, idCol, maxBucketSize)
  }

  /** Count-first-capped pair generation over an ALREADY-MATERIALIZED
    * (id, band, bucket) frame — split out so pipeline callers can release
    * the bucket checkpoint as soon as the candidate set is materialized.
    */
  private def pairsFromBuckets(
      buckets: DataFrame,
      idCol: String,
      maxBucketSize: Int): DataFrame = {
    val sizes = buckets
      .groupBy("band", "bucket")
      .agg(count(lit(1)).as("dj_bn"))
      .where(col("dj_bn").between(2, maxBucketSize))
      .select("band", "bucket")
    val ok = buckets.join(sizes, Seq("band", "bucket"))
    ok.select(col("band"), col("bucket"), col(idCol).as("id1"))
      .join(ok.select(col("band"), col("bucket"), col(idCol).as("id2")),
        Seq("band", "bucket"))
      .where(col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
  }

  /** MinHash near-duplicates: LSH candidates verified with the exact Jaccard
    * over shingle sets. Output: (id1, id2, jaccard) with jaccard >= threshold.
    *
    * EAGER materialization contract: CONSTRUCTING the returned frame runs
    * the shingling, banding, candidate-generation, AND candidate-payload
    * jobs over the corpus (the candidate count sizes the verification join,
    * so it must be measured before the final plan exists) — `explain()`
    * alone triggers them. Only the exact-Jaccard verification remains lazy.
    * On sparse-dup corpora (broadcast-small candidate sets) materialized
    * state is signature-sized + candidate-sized — never corpus-shingle-sized;
    * only a dup-heavy corpus (candidates ≈ corpus) falls back to one full
    * shingle checkpoint for verification. The bucket and signature
    * checkpoints are released before returning; the candidate pairs +
    * verification payloads (read by the returned plan) with
    * `Blocks.releaseAll()` once the result is consumed.
    */
  def minhashNearDups(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleK: Int = 5,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.6,
      // per-stage instrumentation hook (seconds per eager stage, plus the
      // "n_candidates" count) — zero-cost when left at the default; the
      // bench uses it to carry a stage decomposition in the artifact
      // instead of prose (only the stages this method runs EAGERLY are
      // reported; the exact-Jaccard verify stays lazy and its cost is the
      // caller's count minus these)
      stageHook: (String, Double) => Unit = (_, _) => ()): DataFrame = {
    def staged[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      stageHook(name, (System.nanoTime() - t0) / 1e9)
      r
    }
    // signatures-only checkpoint (8·numHashes B/doc): the corpus-wide
    // shingle arrays never materialize — exact-verification payloads are
    // recomputed below for candidate docs only
    val signed = staged("shingle_sig_s")(
      minhashSignatures(df, textCol, idCol, shingleK, numHashes))
    val buckets = staged("buckets_s")(graft.core.Blocks.checkpoint(
      lshBuckets(signed, idCol, bands).where(col(idCol).isNotNull)))
    // LAZY checkpoint (r15): the count on the next line is the sole
    // first consumer and materializes every partition — the eager form
    // paid a dedicated pass before the (then cache-scan) count
    val candidates = staged("candidates_s")(
      graft.core.Blocks.checkpointLazy(pairsFromBuckets(buckets, idCol, 1000)))
    val nCand = staged("candidates_count_s")(candidates.count())
    stageHook("n_candidates", nCand.toDouble)
    // candidates are materialized — the banded bucket AND signature blocks
    // are dead NOW, not at the next driver GC (verification carries its own
    // candidate-subset signatures)
    graft.core.Blocks.release(buckets)
    graft.core.Blocks.release(signed)
    val small = nCand <= pairBroadcastCap(df.sparkSession)
    // Verification payload, sized by the measured candidate volume:
    //   - sparse-dup corpora (candidate set broadcast-small — the realistic
    //     100 TB regime): recompute (shingles, signature) for candidate docs
    //     only, behind a broadcast semi-join — nothing corpus-shingle-sized
    //     ever materializes;
    //   - dup-heavy corpora (candidates ≈ corpus): ONE full shingle+signature
    //     checkpoint serves both join sides — a per-candidate recompute here
    //     would re-shingle and re-shuffle the whole corpus a second time for
    //     no reduction (measured 2.5× slower on the 100× bench leg).
    val sides = staged("verify_payload_s")(
      if (small) {
        val candIds = candidates.select(col("id1").as(idCol))
          .union(candidates.select(col("id2").as(idCol)))
          .distinct()
        candidateSides(df, textCol, idCol, shingleK, numHashes, candIds,
          broadcastIds = true)
      } else {
        minhashed(df, textCol, idCol, shingleK, numHashes)
          .select(col(idCol), col("shingle_hashes"), col("signature"))
      })
    // Signature-agreement prefilter: E[matching fraction] = Jaccard with
    // σ = sqrt(j(1-j)/numHashes) ≈ 0.06 at 64 hashes, so a 0.25 margin below
    // the threshold keeps true pairs with ~4σ headroom while discarding the
    // low-similarity bulk BEFORE the exact set intersection.
    val estCutoff = math.max(0.0, threshold - 0.25)
    verifyMinhashPairs(candidates, nCand, sides, sides, idCol,
      threshold, estCutoff)
  }

  /** Join candidate pairs (id1, id2) back to per-id payload columns for
    * exact verification, sized by the MEASURED candidate count:
    *
    *   - common case (`nCand` small): reduce each payload side to its
    *     candidate ids FIRST with a broadcast semi-join, so the
    *     verification joins touch payload rows ∝ candidate volume — never
    *     the whole corpus — and the pair side broadcasts;
    *   - degenerate case (huge candidate set): shuffle-hash joins with the
    *     pairs as build side — the stat-less checkpointed pairs would
    *     otherwise make the planner broadcast the corpus' payloads.
    *
    * `sides1` serves id1, `sides2` serves id2 (the same frame for
    * within-corpus pairs, two frames for cross-corpus pairs). `payload`
    * maps source column → output prefix (prefix+"1"/"2").
    *
    * The broadcast path ships the pair set (and a distinct-id set per side)
    * to every executor AND pins it in driver memory first — so the default
    * cap derives from the session's own
    * `spark.sql.autoBroadcastJoinThreshold` at ~16 bytes per (long, long)
    * pair row (10 MB default → ~650k pairs), instead of a fixed count that
    * ignores how the session was sized. Pass `broadcastableCandidates >= 0`
    * to override (0 forces the shuffle-hash path; a broadcast-disabled
    * session, threshold <= 0, gets shuffle-hash automatically).
    */
  /** How many (long, long) candidate pairs fit the session's broadcast
    * budget (`spark.sql.autoBroadcastJoinThreshold` at ~16 B/pair;
    * disabled threshold → 0). Shared by `verifyPairs` and the
    * candidate-id semi-join broadcast decisions so they agree.
    */
  private[graft] def pairBroadcastCap(
      spark: org.apache.spark.sql.SparkSession): Long = {
    val raw =
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB").trim
    val bytes =
      try {
        if (raw.startsWith("-")) -1L
        else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
      } catch { case _: NumberFormatException => 10L * 1024 * 1024 }
    if (bytes <= 0) 0L else bytes / 16L
  }

  private[graft] def verifyPairs(
      candidates: DataFrame,
      nCand: Long,
      sides1: DataFrame,
      sides2: DataFrame,
      idCol: String,
      payload: Seq[(String, String)],
      broadcastableCandidates: Long = -1L): DataFrame = {
    val cap =
      if (broadcastableCandidates >= 0L) broadcastableCandidates
      else pairBroadcastCap(candidates.sparkSession)
    def side(sides: DataFrame, n: Int) = sides.select(
      (col(idCol).as(s"id$n") +: payload.map { case (c, p) => col(c).as(s"$p$n") }): _*)
    if (nCand <= cap) {
      // the semi-join reduction stays INLINE (scan + broadcast semi, no
      // materialization): each verification join re-derives it, which is
      // one cheap pruned pass — a checkpoint here costs more than it saves
      def needed(sides: DataFrame, n: Int) = side(
        sides.join(
          broadcast(candidates.select(col(s"id$n").as(idCol)).distinct()),
          Seq(idCol), "left_semi"),
        n)
      broadcast(candidates)
        .join(needed(sides1, 1), "id1")
        .join(needed(sides2, 2), "id2")
    } else {
      // degenerate candidate explosion: SORT-MERGE — the only join
      // strategy that spills. The former shuffle_hash hint built an
      // in-memory hash relation per partition from the pair side, which is
      // exactly what dies when the candidate set is corpus-scale (the 100×
      // bench leg reproduced it: "Can't acquire 268435456 bytes memory to
      // build hash relation"); the merge hint also keeps the stat-less
      // checkpointed pairs from making the planner broadcast the corpus'
      // payloads
      candidates
        .hint("merge")
        .join(side(sides1, 1), "id1")
        .hint("merge")
        .join(side(sides2, 2), "id2")
    }
  }

  /** Exact-Jaccard verification of MinHash candidate pairs, shared by
    * minhashNearDups / crossNearDups / DedupIndex.incrementalNearDups:
    * the signature-agreement prefilter (matching fraction ≥ `estCutoff`)
    * followed by the exact shingle-set Jaccard ≥ `threshold`. Both sides
    * carry (idCol, shingle_hashes, signature).
    *
    * Broadcast-small candidate sets verify in ONE pass (pair set
    * broadcast, payloads pruned by semi-join — the arrays stream through
    * a single codegen stage, nothing exchanges them).
    *
    * Past the broadcast cap the single-pass spelling is the r14-measured
    * wall: the first sort-merge join's output — every candidate pair ×
    * its full shingle array (~8 B per distinct shingle ≈ the text
    * itself) — crosses the id2 exchange BEFORE either filter can run
    * (q_rebanded_dedup at sf0.1: 3.84 M candidates × ~16 KB arrays,
    * 23.3 s). Staged verification moves heavy bytes only for decided
    * survivors (guide §8): stage 1 joins ONLY the 8·numHashes-byte
    * signatures and applies the prefilter (3.84 M pairs → 40.8 k, 1.3 s);
    * stage 2 attaches shingle arrays to the survivors alone (usually back
    * under the broadcast cap). Identical output — same predicates over
    * the same values, evaluation order of two independent conjuncts.
    */
  private[graft] def verifyMinhashPairs(
      candidates: DataFrame,
      nCand: Long,
      sidesA: DataFrame,
      sidesB: DataFrame,
      idCol: String,
      threshold: Double,
      estCutoff: Double): DataFrame = {
    import graft.functions.LongArraySim.{jaccardSorted, matchingFraction}
    val cap = pairBroadcastCap(candidates.sparkSession)
    if (nCand <= cap)
      verifyPairs(candidates, nCand, sidesA, sidesB, idCol,
        Seq("shingle_hashes" -> "sh", "signature" -> "sig"))
        .where(matchingFraction(col("sig1"), col("sig2")) >= estCutoff)
        .withColumn("jaccard", jaccardSorted(col("sh1"), col("sh2")))
        .where(col("jaccard") >= threshold)
        .select(col("id1"), col("id2"), col("jaccard"))
    else {
      // Stage-1 signatures are narrowed to their LOW 16 bits
      // (array<smallint>, 2 B/position vs 8): the id2 exchange carries
      // sig1 on EVERY candidate pair, so the pair joins move ~4× fewer
      // bytes (q_rebanded_dedup at sf0.1: 3.84 M pairs × 528 B → 144 B).
      // Low bits stay uniform under min-selection (the minhash minimum
      // concentrates in the HIGH bits — those would read near-constant),
      // and a truncation collision can only turn a mismatched position
      // into a match, so the narrowed prefilter passes a SUPERSET of the
      // full-width survivors (E[extra matches] = 64·2⁻¹⁶ ≈ 0.001 of one
      // position) — stage 2's exact Jaccard discards the strays and the
      // output is identical.
      def narrowed(sides: DataFrame) =
        sides.select(
          col(idCol),
          transform(col("signature"),
            x => (x.bitwiseAND(lit(0xFFFFL)) - lit(32768L)).cast("smallint"))
            .as("signature"))
      val survivors = graft.core.Blocks.checkpointLazy(
        verifyPairs(candidates, nCand,
          narrowed(sidesA),
          narrowed(sidesB),
          idCol, Seq("signature" -> "sig"))
          .where(matchingFraction(col("sig1"), col("sig2")) >= estCutoff)
          .select(col("id1"), col("id2")))
      val nSurv = survivors.count()
      verifyPairs(survivors, nSurv,
        sidesA.select(col(idCol), col("shingle_hashes")),
        sidesB.select(col(idCol), col("shingle_hashes")),
        idCol, Seq("shingle_hashes" -> "sh"))
        .withColumn("jaccard", jaccardSorted(col("sh1"), col("sh2")))
        .where(col("jaccard") >= threshold)
        .select(col("id1"), col("id2"), col("jaccard"))
    }
  }

  /** Cross-corpus near-duplicate pairs: (id1 ∈ dfA, id2 ∈ dfB, jaccard ≥
    * threshold) — the train-vs-eval / corpus-vs-corpus containment check
    * (e.g. "which training documents are near-dups of benchmark
    * documents"). Same MinHash machinery as `minhashNearDups`, but the
    * bucket join runs ACROSS the two tables only — no within-table pairs —
    * and each side's hot buckets are capped independently (candidate
    * volume per cell ≤ maxBucketSize², never |A|·|B|).
    *
    * EAGER materialization contract: as [[minhashNearDups]] — construction
    * runs both sides' shingling and the cross-bucket candidate join; only
    * the exact-Jaccard verification is lazy in the returned frame. Release
    * the tracked intermediates with `Blocks.releaseAll()` after consuming.
    */
  def crossNearDups(
      dfA: DataFrame,
      dfB: DataFrame,
      textCol: String,
      idCol: String,
      shingleK: Int = 5,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.6,
      maxBucketSize: Int = 1000): DataFrame = {
    val signedA = minhashSignatures(dfA, textCol, idCol, shingleK, numHashes)
    val signedB = minhashSignatures(dfB, textCol, idCol, shingleK, numHashes)
    // (capped bucket frame, its checkpoint handle — released once the
    // candidate set is materialized)
    def cappedBuckets(signed: DataFrame): (DataFrame, DataFrame) = {
      // NULL ids can never appear in output pairs — drop before the cap
      // count (matching lshCandidatePairs' boundary semantics)
      val b = graft.core.Blocks.checkpoint(
        lshBuckets(signed, idCol, bands).where(col(idCol).isNotNull))
      (b.join(
        b.groupBy("band", "bucket").agg(count(lit(1)).as("dj_bn"))
          .where(col("dj_bn") <= maxBucketSize)
          .select("band", "bucket"),
        Seq("band", "bucket")), b)
    }
    val (cappedA, bucketsA) = cappedBuckets(signedA)
    val (cappedB, bucketsB) = cappedBuckets(signedB)
    // LAZY checkpoint (r15): the count materializes it — see minhashNearDups
    val candidates = graft.core.Blocks.checkpointLazy(
      cappedA
        .select(col("band"), col("bucket"), col(idCol).as("id1"))
        .join(
          cappedB.select(col("band"), col("bucket"), col(idCol).as("id2")),
          Seq("band", "bucket"))
        .select("id1", "id2")
        .distinct())
    val nCand = candidates.count()
    // candidates are materialized — both sides' bucket AND signature blocks
    // are dead NOW (verification recomputes candidate-subset payloads)
    graft.core.Blocks.release(bucketsA)
    graft.core.Blocks.release(bucketsB)
    graft.core.Blocks.release(signedA)
    graft.core.Blocks.release(signedB)
    // same candidate-volume-sized strategy switch as minhashNearDups
    val small = nCand <= pairBroadcastCap(dfA.sparkSession)
    def sideFor(df: DataFrame, pairCol: String) =
      if (small)
        candidateSides(df, textCol, idCol, shingleK, numHashes,
          candidates.select(col(pairCol).as(idCol)).distinct(),
          broadcastIds = true)
      else
        minhashed(df, textCol, idCol, shingleK, numHashes)
          .select(col(idCol), col("shingle_hashes"), col("signature"))
    val sidesA = sideFor(dfA, "id1")
    val sidesB = sideFor(dfB, "id2")
    val estCutoff = math.max(0.0, threshold - 0.25)
    verifyMinhashPairs(candidates, nCand, sidesA, sidesB, idCol,
      threshold, estCutoff)
  }

  /** n-gram Jaccard near-dup pairs: candidate pairs share at least one
    * COARSE shingle (length `coarseK`, sampled every `coarseStride` chars,
    * df-capped), then the exact fine-grained (`shingleK`) Jaccard is
    * evaluated on the candidates with array_intersect/array_union.
    *
    * Why not a fine-shingle inverted index: on boilerplate-heavy corpora a
    * 5-gram appears in a large fraction of documents, making the
    * shingle self-join quadratic in that fraction. Long sampled shingles
    * are combinatorially rare (low document frequency), so the inverted
    * index stays near-linear; any pair with fine Jaccard >= ~0.5 shares
    * many long spans, so candidate recall is effectively total (the
    * winnowing argument). The reported Jaccard itself is EXACT — the
    * coarse pass only proposes pairs.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleK: Int = 5,
      threshold: Double = 0.6,
      coarseK: Int = 24,
      coarseStride: Int = 4,
      maxShingleDf: Int = 20): DataFrame = {
    val sh0 = spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), TextAnalysis.normalize(col(textCol)).as("dj_norm"))
      // exact-Jaccard verification runs on sorted 64-bit shingle hashes
      // (fused kernel + codegen'd two-pointer merge, see minhashed) — the
      // normalized string stays only for the coarse candidate keys
      .withColumn(
        "shingle_hashes",
        graft.functions.ShingleHashes.shingleHashes(col("dj_norm"), shingleK))
    // read by the coarse-key explode AND both verification sides — one
    // eager registry-tracked checkpoint (released via Blocks, not a
    // CacheManager entry that outlives the call until clearCache)
    val shCk = graft.core.Blocks.checkpoint(sh0)
      .where(size(col("shingle_hashes")) > 0) // post-checkpoint: no recompute
    // the candidate key shuffles twice (df window + self-join): hash the
    // coarseK-char window to 8 bytes first — a collision can only ADD a
    // candidate pair, and every pair is exact-verified below. The native
    // kernel hashes each strided window straight off the input bytes
    // (bit-identical to the substr+xxhash64 HOF chain it replaced; that
    // chain copied one 24-char substring per window — the dominant cost of
    // this explode at the 100× leg)
    val coarse = shCk.select(
      col(idCol),
      explode(
        graft.functions.StridedHashes
          .stridedHashes(col("dj_norm"), coarseK, coarseStride)).as("ckey"))
    // COUNT-FIRST df cap (the lshCandidatePairs pattern): the document
    // frequency comes from a groupBy — map-side combine collapses a hot
    // boilerplate 24-gram BEFORE the shuffle — and the cap filters KEYS.
    // The former window-over-ckey spelling funneled every occurrence of a
    // hot key through one reducer just to count it (windows get no AQE
    // skew splitting); the explode recomputes once per branch from the
    // checkpointed shingle frame, which is cheaper than the skewed sort.
    val rare = coarse.join(
      coarse
        .groupBy("ckey")
        .agg(count(lit(1)).as("dj_df"))
        .where(col("dj_df") <= maxShingleDf)
        .select("ckey"),
      Seq("ckey"))
    val candidates = rare.as("a")
      .join(rare.as("b"), col("a.ckey") === col("b.ckey") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"))
      .distinct()
    val s1 = shCk.select(col(idCol).as("id1"), col("shingle_hashes").as("sh1"))
    val s2 = shCk.select(col(idCol).as("id2"), col("shingle_hashes").as("sh2"))
    candidates
      .join(s1, "id1")
      .join(s2, "id2")
      .withColumn(
        "jaccard",
        graft.functions.LongArraySim.jaccardSorted(col("sh1"), col("sh2")))
      .where(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Candidate-volume accounting for [[ngramJaccardPairs]] — the numbers
    * that decide whether `maxShingleDf` / `coarseStride` / `coarseK`
    * defaults leave time on the table at scale (r9 verdict task: three
    * rounds of flat sf10 cost with no volume attribution in the
    * artifact). Runs the SAME plan shapes with count actions at each
    * stage; returns an insertion-ordered map of
    * (n_docs, n_coarse_rows, n_keys, n_hot_keys, n_dropped_rows,
    * n_candidates, n_pairs, plus per-stage seconds). Intended for the
    * bench artifact, not production — the counts are extra jobs.
    */
  private[graft] def ngramJaccardProfile(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleK: Int = 5,
      threshold: Double = 0.6,
      coarseK: Int = 24,
      coarseStride: Int = 4,
      maxShingleDf: Int = 20): scala.collection.mutable.LinkedHashMap[String, Double] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      out.update(name, math.round((System.nanoTime() - t0) / 1e9 * 1000) / 1000.0)
      r
    }
    val sh0 = spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), TextAnalysis.normalize(col(textCol)).as("dj_norm"))
      .withColumn(
        "shingle_hashes",
        graft.functions.ShingleHashes.shingleHashes(col("dj_norm"), shingleK))
    val shCk = timed("shingle_s")(graft.core.Blocks.checkpoint(sh0))
      .where(size(col("shingle_hashes")) > 0)
    out.update("n_docs", shCk.count().toDouble)
    val coarse = graft.core.Blocks.checkpoint(shCk.select(
      col(idCol),
      explode(
        graft.functions.StridedHashes
          .stridedHashes(col("dj_norm"), coarseK, coarseStride)).as("ckey")))
    out.update("n_coarse_rows", timed("coarse_s")(coarse.count()).toDouble)
    val keyDf = graft.core.Blocks.checkpoint(
      coarse.groupBy("ckey").agg(count(lit(1)).as("dj_df")))
    out.update("n_keys", timed("df_s")(keyDf.count()).toDouble)
    val hot = keyDf.where(col("dj_df") > maxShingleDf)
      .agg(count(lit(1)).as("k"), sum(col("dj_df")).as("r")).head()
    out.update("n_hot_keys", hot.getLong(0).toDouble)
    out.update("n_dropped_rows",
      (if (hot.isNullAt(1)) 0L else hot.getLong(1)).toDouble)
    val rare = coarse.join(
      keyDf.where(col("dj_df") <= maxShingleDf).select("ckey"), Seq("ckey"))
    val candidates = graft.core.Blocks.checkpoint(rare.as("a")
      .join(rare.as("b"), col("a.ckey") === col("b.ckey") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"))
      .distinct())
    out.update("n_candidates", timed("candidates_s")(candidates.count()).toDouble)
    // candidates are materialized: the coarse-key and df frames are dead —
    // release NOW (the profile's verify stage otherwise runs with ~2 GB of
    // dead blocks pinned, which OOM'd a late-session bench run)
    graft.core.Blocks.release(coarse)
    graft.core.Blocks.release(keyDf)
    val s1 = shCk.select(col(idCol).as("id1"), col("shingle_hashes").as("sh1"))
    val s2 = shCk.select(col(idCol).as("id2"), col("shingle_hashes").as("sh2"))
    val nPairs = timed("verify_s")(candidates
      .join(s1, "id1")
      .join(s2, "id2")
      .where(graft.functions.LongArraySim
        .jaccardSorted(col("sh1"), col("sh2")) >= threshold)
      .count())
    out.update("n_pairs", nPairs.toDouble)
    out
  }

  /** 64-bit SimHash of the token multiset: per bit, sum +1/−1 over token
    * hashes, take the sign. Near-identical texts differ in few bits.
    */
  def simhash64(tokensCol: Column): Column =
    simhash64FromHashes(transform(tokensCol, t => xxhash64(t)))

  /** SimHash sketch over an arbitrary precomputed token-hash array —
    * declarative HOF fold; the hot path uses the codegen'd
    * `functions.SimHash64` (xxhash64 flavor), this generic form backs the
    * cross-engine oracle variant (md5-derived hashes both engines share).
    */
  def simhash64FromHashes(hashesCol: Column): Column =
    Hof.bound(hashesCol) { hashes =>
      aggregate(
        sequence(lit(0), lit(63)),
        lit(0L),
        (acc, b) =>
          acc + when(
            aggregate(
              hashes,
              lit(0L),
              (a, h) =>
                a + when(call_function("shiftright", h, b).bitwiseAND(1) === 1, 1L)
                  .otherwise(-1L)) > 0,
            call_function("shiftleft", lit(1L), b)).otherwise(0L))
    }

  /** SimHash near-duplicates: band the 64-bit sketch into four 16-bit chunks
    * (any doc pair within Hamming distance 3 shares at least one chunk —
    * pigeonhole), bucket-join on (chunk index, chunk value), verify with
    * bit_count(xor) <= maxHamming.
    */
  def simhashNearDups(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    // the sketch is one codegen'd projection over the corpus scan — zero
    // shuffle (`functions.SimHash64`; the round-1 plan exploded every token
    // and shuffled them back on doc id just to sum votes). NULL texts are
    // dropped, matching the explode plan (split never yields an empty array
    // for non-null text, so the null check is the exact — and cheap — filter).
    val sketched = spread(df.select(col(idCol), col(textCol)))
      .where(col(textCol).isNotNull)
      .select(
        col(idCol),
        // fully fused: normalize byte-scan → in-scan tokenize → vote —
        // two native kernels, no token array materialization
        graft.functions.SimHash64
          .simhash64(TextAnalysis.normalize(col(textCol)))
          .as("simhash"))
    simhashPairsFromSketch(sketched, idCol, maxHamming, maxBucketSize)
  }

  /** Chunk banding + bucket join + Hamming verification over a prepared
    * (id, simhash) frame — shared by the production xxhash64 path and the
    * oracle's md5-hash variant.
    */
  def simhashPairsFromSketch(
      sketchedIn: DataFrame,
      idCol: String,
      maxHamming: Int,
      maxBucketSize: Int = 1000): DataFrame = {
    // barrier: the chunk explode below references `simhash` inside its
    // generator — without materialization, projection collapse would
    // re-compute the sketch per reference. 16 bytes/doc, spill-safe;
    // eager registry-tracked checkpoint (Blocks-released, not a
    // CacheManager entry that outlives the call until clearCache).
    val sketched = graft.core.Blocks.checkpoint(sketchedIn)
    val chunked = sketched.select(
      col(idCol),
      col("simhash"),
      explode(
        transform(
          sequence(lit(0), lit(3)),
          c =>
            struct(
              c.as("chunk"),
              call_function("shiftright", col("simhash"), c * 16).bitwiseAND(0xFFFFL).as("value")))).as("cc"))
      .select(col(idCol), col("simhash"), col("cc.chunk"), col("cc.value"))
    // cap hot chunk buckets (boilerplate guard, same rationale as MinHash
    // LSH): COUNT-FIRST — the cap filters bucket keys off a constant-memory
    // count aggregate; a pathological bucket never materializes as an
    // array (see `lshCandidatePairs`), and the within-bucket self-join is
    // bounded at maxBucketSize rows per key per side
    val sizes = chunked
      .groupBy("chunk", "value")
      .agg(count(lit(1)).as("dj_bn"))
      .where(col("dj_bn").between(2, maxBucketSize))
      .select("chunk", "value")
    val ok = chunked.join(sizes, Seq("chunk", "value"))
    ok.select(col("chunk"), col("value"), col(idCol).as("id1"), col("simhash").as("sh1"))
      .join(
        ok.select(col("chunk"), col("value"), col(idCol).as("id2"), col("simhash").as("sh2")),
        Seq("chunk", "value"))
      .where(col("id1") < col("id2"))
      .select(
        col("id1"),
        col("id2"),
        expr("bit_count(sh1 ^ sh2)").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** C4/CCNet-style PARAGRAPH-level dedup: split each document on
    * `delimiter`, drop every repetition of a paragraph beyond its first
    * corpus occurrence (first = minimum (doc id, position) — deterministic
    * under any partitioning), and reassemble the surviving paragraphs in
    * document order. A document whose every paragraph is a repeat drops
    * out of the output entirely (the curation-pipeline contract: fully
    * boilerplate docs are removed, not emptied). Paragraphs shorter than
    * `minParagraphChars` are structural (blank lines, headers) and are
    * never deduplicated.
    *
    * Scale shape: first-occurrence is a partial-aggregated
    * `groupBy(fingerprint).agg(min(struct(id, pos)))` — map-side combine
    * absorbs a boilerplate paragraph repeated across half the corpus
    * BEFORE the shuffle, the failure mode a window-over-fingerprint plan
    * would hit head-on (every copy shuffled to one reducer). The join
    * back on fingerprint is AQE-skew-splittable. Two shuffles total
    * (fingerprint, then doc id for reassembly).
    */
  def dedupParagraphs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      delimiter: String = "\n",
      minParagraphChars: Int = 1): DataFrame = {
    val parts = spread(df.where(col(textCol).isNotNull).select(col(idCol), col(textCol)))
      .select(
        col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delimiter))))
      .toDF(idCol, "dj_pos", "dj_para")
    val keyed = parts
      .withColumn("dj_fp", fp128(col("dj_para")))
      .withColumn("dj_dedupable", length(col("dj_para")) >= minParagraphChars)
    val firsts = keyed
      .where(col("dj_dedupable"))
      .groupBy("dj_fp")
      .agg(min(struct(col(idCol), col("dj_pos"))).as("dj_first"))
    keyed
      .join(firsts, Seq("dj_fp"), "left")
      .where(!col("dj_dedupable") ||
        struct(col(idCol), col("dj_pos")) === col("dj_first"))
      .groupBy(idCol)
      .agg(inPosOrder(delimiter, "dj_para").as(textCol))
  }

  /** The per-group aggregate joining `partCol` with `delimiter` in `dj_pos`
    * order — the ordered reassembly of a posexploded document.
    */
  private def inPosOrder(delimiter: String, partCol: String): Column =
    concat_ws(
      delimiter,
      transform(
        array_sort(collect_list(struct(col("dj_pos"), col(partCol)))),
        s => s.getField(partCol)))

  /** Boilerplate-line removal (the CCNet/C4 "strip lines repeated across
    * many documents" pass — navbars, cookie banners, license footers): a
    * delimiter-separated unit is boilerplate WITHIN its `groupCol` slice
    * (e.g. the crawl source; global when None) if it appears in at least
    * `max(minDocs, ceil(minDocFraction * group-doc-count))` distinct
    * documents. Every occurrence of a boilerplate unit is removed and the
    * survivors are reassembled in order; fully-boilerplate documents stay
    * in the output with empty text (so downstream min-length filters see
    * them, instead of them silently vanishing).
    *
    * Plan: one explode, ONE countDistinct aggregate over (group, unit
    * fingerprint) — partial-aggregated, so a navbar repeated in 100 M docs
    * arrives at its reducer as per-partition distinct sets, not 100 M rows
    * — a broadcast of the tiny per-group doc-count table, one join back on
    * the fingerprint, and a per-doc reassembly aggregate. Nothing driver-
    * side, no window over an unpartitioned frame.
    *
    * Output: (`idCol`, `textCol` cleaned, `n_units`, `n_removed`).
    */
  def removeBoilerplate(
      df: DataFrame,
      textCol: String,
      idCol: String,
      delimiter: String = "\n",
      minDocFraction: Double = 0.5,
      minDocs: Long = 2,
      groupCol: Option[String] = None): DataFrame = {
    require(minDocFraction > 0 && minDocFraction <= 1,
      s"minDocFraction must lie in (0, 1]: $minDocFraction")
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val keep = Seq(col(idCol)) ++ groupCol.map(col)
    val g = groupCol.map(col).getOrElse(lit(""))
    val base = spread(
      df.where(col(textCol).isNotNull).select(keep :+ col(textCol): _*))
    val units = base
      .select(
        col(idCol),
        g.as("dj_grp"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delimiter))))
      .toDF(idCol, "dj_grp", "dj_pos", "dj_unit")
      .withColumn("dj_fp", fp128(col("dj_unit")))
    // tiny: one row per group (one row total when ungrouped) — broadcast
    val groupDocs = broadcast(
      base.groupBy(g.as("dj_grp")).agg(count(lit(1)).as("dj_group_docs")))
    val unitDocs = units
      .groupBy(col("dj_grp"), col("dj_fp"))
      .agg(countDistinct(col(idCol)).as("dj_unit_docs"))
    val kept = units
      .join(unitDocs, Seq("dj_grp", "dj_fp"))
      .join(groupDocs, Seq("dj_grp"))
      .where(col("dj_unit_docs") <
        greatest(lit(minDocs), ceil(lit(minDocFraction) * col("dj_group_docs"))))
    val keptAgg = kept
      .groupBy(idCol)
      .agg(
        inPosOrder(delimiter, "dj_unit").as("dj_text"),
        count(lit(1)).as("dj_kept"))
    units
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_units"))
      .join(keptAgg, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("dj_text"), lit("")).as(textCol),
        col("n_units"),
        (col("n_units") - coalesce(col("dj_kept"), lit(0L))).as("n_removed"))
  }

  /** Connected components over near-dup pair edges → one row per vertex:
    * (`id`, `cluster_id` = minimum id in its component) — the step every
    * dedup pipeline runs after pair generation, so "keep one doc per
    * cluster" is a groupBy away instead of a greedy per-pair guess.
    *
    * Min-label propagation with POINTER JUMPING: labels start as own id;
    * each round takes (1) the min over neighbor labels (one key-partitioned
    * join + one aggregate, both map-side-combining) and then (2) the label
    * of its own label (`label ← label(label(v))`, one self-join of the
    * label table). The jump doubles the distance a label has travelled, so
    * rounds = O(log diameter) — a 1000-hop chain converges in ~10 rounds
    * instead of 1000 (Shiloach-Vishkin's shortcut step on DataFrame-only
    * machinery; large-star/small-star — Kiveris et al., "Connected
    * Components in MapReduce and Beyond" — would also bound per-round
    * edge-copy volume, which near-dup graphs don't need). Labels only
    * decrease and every label value is a component member's id, so the
    * fixed point — label = component minimum — is identical to plain
    * propagation; the jump changes round count, never the result. The
    * driver sees one converged-yet count per round, never the labels.
    *
    * SIZE-ADAPTIVE small-graph path (r15, guide §1.2): a near-dup edge
    * set is orders of magnitude smaller than its corpus (pairs are the
    * OUTPUT of aggressive similarity filtering), so when the materialized
    * edges fit `smallGraphEdgeCap` (bounded driver memory: ≤ cap
    * (long, long) rows via an executeTake probe of the checkpoint — never
    * an unbounded collect) the components are solved with a driver-side
    * union-find and returned as a LOCAL relation. Identical output
    * (min-id representative, every edge endpoint labeled), and downstream
    * joins see a broadcastable label table instead of a stat-less
    * checkpoint. Non-integral id types and anything past the cap take the
    * distributed loop unchanged — the cap bounds memory, not coverage.
    */
  def connectedComponents(
      pairs: DataFrame,
      id1: String = "id1",
      id2: String = "id2",
      maxIters: Int = 25,
      jumpAfter: Int = 2,
      smallGraphEdgeCap: Int = 1 << 20): DataFrame = {
    // EAGER localCheckpoint: pair generation upstream (LSH, inverted index)
    // is the expensive part, and round 1 reads the edge set from several
    // plan branches — a lazy cache would let those branches race and
    // recompute it per branch. The checkpoint also pins the loop's plans to
    // constant size (the jump self-join would otherwise DOUBLE the logical
    // plan every round — analysis alone goes exponential). Superseded
    // checkpoint blocks are reclaimed by the context cleaner once the
    // previous frame goes unreferenced.
    // materialize the DIRECTED pairs first: symmetrizing with unionAll
    // embeds the (expensive — LSH / inverted-index) pair plan twice, and
    // the two branches would recompute it per branch, racing any lazy
    // cache inside it. One checkpoint = one pair-generation pass.
    val half = graft.core.Blocks.checkpoint(
      pairs.select(col(id1).as("dj_src"), col(id2).as("dj_dst")))
    val integralIds = {
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      Seq(half.schema("dj_src").dataType, half.schema("dj_dst").dataType)
        .forall(t => t == LongType || t == IntegerType || t == ShortType ||
          t == ByteType)
    }
    if (integralIds && smallGraphEdgeCap > 0) {
      // executeTake over the materialized checkpoint: fetches partitions
      // incrementally, stops at cap+1 rows — a huge edge set never lands
      // on the driver
      val probe = half.limit(smallGraphEdgeCap + 1).collect()
      if (probe.length <= smallGraphEdgeCap &&
          probe.forall(r => !r.isNullAt(0) && !r.isNullAt(1))) {
        graft.core.Blocks.release(half)
        return smallGraphComponents(
          pairs.sparkSession,
          probe.map(r => (r.get(0).asInstanceOf[Number].longValue(),
            r.get(1).asInstanceOf[Number].longValue())),
          half.schema("dj_src").dataType)
      }
      // over the cap (or null ids): fall through — `half` stays
      // materialized for the loop
    }
    val sym = graft.core.Blocks.checkpoint(half
      .unionAll(half.select(col("dj_dst").as("dj_src"), col("dj_src").as("dj_dst")))
      .distinct())
    graft.core.Blocks.release(half) // sym is materialized; the directed half is dead
    var labels = sym
      .select(col("dj_src").as("dj_id"))
      .distinct()
      .withColumn("dj_label", col("dj_id"))
    var iters = 0
    var done  = false
    while (!done && iters < maxIters) {
      val nbrMin = sym
        .join(
          labels.select(col("dj_id").as("dj_dst"), col("dj_label").as("dj_nl")),
          "dj_dst")
        .groupBy("dj_src")
        .agg(min(col("dj_nl")).as("dj_nmin"))
        .select(col("dj_src").as("dj_id"), col("dj_nmin"))
      // hop: one edge-step of label propagation
      val hopPlan = labels
        .join(nbrMin, Seq("dj_id"), "left")
        .select(
          col("dj_id"),
          col("dj_label").as("dj_old"),
          least(col("dj_label"), coalesce(col("dj_nmin"), col("dj_label")))
            .as("dj_hop"))
      // Pointer jumping (label ← label-of-label) doubles the distance a
      // label has travelled but costs a hop materialization + a self-join
      // per round — pure overhead for the shallow star/clique components
      // near-dup graphs actually produce (they converge in ≤ 2 hops). So
      // the first `jumpAfter` rounds are plain hops; a graph still moving
      // after that has a deep chain, and the jump caps the remaining
      // rounds at O(log diameter).
      var roundHop: Option[DataFrame] = None
      val nextPlan = (if (iters < jumpAfter) {
        hopPlan.select(
          col("dj_id"),
          col("dj_hop").as("dj_label"),
          (col("dj_hop") < col("dj_old")).as("dj_changed"))
      } else {
        // the self-join reads hop from both sides: materialize it first so
        // the edge join + aggregate run once, not once per side
        val hop  = graft.core.Blocks.checkpoint(hopPlan)
        roundHop = Some(hop)
        val jump = hop.select(col("dj_id").as("dj_jkey"), col("dj_hop").as("dj_jump"))
        hop
          .join(jump, col("dj_hop") === col("dj_jkey"), "left")
          .select(
            col("dj_id"),
            least(col("dj_hop"), coalesce(col("dj_jump"), col("dj_hop")))
              .as("dj_label"),
            (least(col("dj_hop"), coalesce(col("dj_jump"), col("dj_hop")))
              < col("dj_old")).as("dj_changed"))
      })
      val next = graft.core.Blocks.checkpoint(nextPlan)
      // the change flag rides along with the label update — counting changed
      // rows is then a scan of the materialized frame, not another join
      // against the previous labels
      val changed = next.where(col("dj_changed")).count()
      // `next` is materialized, so the previous round's checkpoint blocks
      // (and this round's hop, if the jump ran) are dead — release them
      // NOW instead of waiting for a driver GC to trigger the context
      // cleaner (a long-lived driver looping over corpora would otherwise
      // accumulate O(rounds · |labels|) dead blocks per call). Release
      // only targets a frame whose plan ROOT is the checkpoint RDD —
      // round-1 `labels` is a plain derivation over `sym`, and a deep
      // match would wrongly unpersist the still-needed edge checkpoint.
      graft.core.Blocks.release(labels)
      roundHop.foreach(graft.core.Blocks.release)
      labels = next
      done = changed == 0
      iters += 1
    }
    // a silently-wrong clustering is worse than an error: non-convergence
    // means components deeper than maxIters exist and labels are still
    // intermediate ("no silent caps"). Release the loop's checkpoints
    // BEFORE throwing — a caller that catches and retries with a higher
    // maxIters must not accumulate dead blocks per failed attempt.
    if (!done) {
      graft.core.Blocks.release(labels)
      graft.core.Blocks.release(sym)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIters rounds — " +
          s"component diameter exceeds the bound; raise maxIters or use a " +
          s"star-contraction algorithm for deep graphs")
    }
    // eager local checkpoint materializes the result, then the loop's
    // remaining checkpoints (edge set, final round's labels) are released
    // explicitly — nothing waits on a driver GC
    val result = graft.core.Blocks.checkpoint(
      labels.select(col("dj_id").as("id"), col("dj_label").as("cluster_id")))
    graft.core.Blocks.release(labels)
    graft.core.Blocks.release(sym)
    result
  }

  /** Driver-side union-find over a BOUNDED edge list (the
    * [[connectedComponents]] small-graph path): one row per distinct
    * endpoint, `cluster_id` = minimum id in its component — bit-identical
    * to the distributed min-label fixed point. Returned as a local
    * relation in the ids' original integral type, so downstream joins
    * broadcast it.
    */
  private def smallGraphComponents(
      spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)],
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      // path compression
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (a, b) =>
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    // min-id representative: roots are already the component minimum
    // (unions always link the larger root under the smaller)
    val rows = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
    parent.keySet().forEach(id => rows += ((id, find(id))))
    import spark.implicits._
    rows.toSeq.toDF("id", "cluster_id")
      .select(
        col("id").cast(idType).as("id"),
        col("cluster_id").cast(idType).as("cluster_id"))
  }

  /** Canonical-document selection after clustering (the survivorship step
    * every near-dup pipeline needs between [[connectedComponents]] and the
    * corpus write): given one row per cluster member carrying a numeric
    * preference (quality score, length, authority — higher is better),
    * return each cluster's representative. Deterministic tie rule: highest
    * preference wins, exact ties break to the SMALLEST id (the same
    * convention as the min-id cluster label).
    *
    * Scale shape: ONE hash aggregate with map-side partials —
    * `min(struct(−pref, id))` is an associative argmax, so a hot cluster
    * (the boilerplate cluster with 10⁷ members at 100 TB) combines
    * per-partition instead of sorting through one reducer the way a
    * `row_number` window would. Emits (`clusterCol`, `rep_id`,
    * `n_members`, `rep_pref`).
    *
    * `prefCol` must be non-NaN (NaN breaks struct ordering); NULL
    * preferences sort below every value (the representative of an all-NULL
    * cluster is its min id).
    */
  def clusterRepresentatives(
      members: DataFrame,
      idCol: String,
      clusterCol: String,
      prefCol: String): DataFrame =
    members
      .groupBy(col(clusterCol))
      .agg(
        min(struct(
          (-col(prefCol)).as("dj_np"),
          col(idCol).as("dj_id"))).as("dj_m"),
        count(lit(1)).as("n_members"))
      .select(
        col(clusterCol),
        col("dj_m.dj_id").as("rep_id"),
        col("n_members"),
        (-col("dj_m.dj_np")).as("rep_pref"))

  /** End-to-end near-dup dedup with survivorship: cluster the pair set,
    * keep each cluster's best document (per `prefCol`, ties to smallest
    * id), pass unclustered documents through untouched. The one-call
    * spelling of pairs → [[connectedComponents]] →
    * [[clusterRepresentatives]] → filter.
    *
    * Scale: the docs side is touched by one broadcast-or-shuffle left join
    * against the (cluster-count-sized) representative set and one against
    * the member set — no window over the corpus.
    */
  def dedupKeepBest(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String,
      prefCol: String,
      id1: String = "id1",
      id2: String = "id2"): DataFrame = {
    val clusters = connectedComponents(pairs, id1, id2)
      .select(col("id").as(idCol), col("cluster_id"))
    val reps = clusterRepresentatives(
      docs.join(clusters, Seq(idCol)), idCol, "cluster_id", prefCol)
      .select(col("rep_id").as(idCol))
    val clustered = clusters.select(col(idCol))
    docs
      .join(clustered, Seq(idCol), "left_anti")
      .unionByName(docs.join(reps, Seq(idCol), "left_semi"))
  }

  /** Shared window-fingerprint builder of the exact-substring family:
    * (tokenized documents `(idCol, dj_toks, dj_n)`, and their window
    * fingerprints `(idCol, dj_fps)`, where element i is the window starting
    * at token i).
    *
    * NULL ids and NULL texts are dropped (the Corpus-ops policy): a NULL id
    * has no stable identity to anchor the (id, pos) first-occurrence order —
    * min(struct) would otherwise let a null-id occurrence absorb the real
    * first. Window fingerprints only ever act as GROUPING keys, so no hash
    * value reaches the output: every token is hashed ONCE with xxhash64 per
    * row, then each window is the 128-bit fp128 struct over its token-hash
    * slice — no per-window string build, and collision-safe at corpus scale
    * (a collision here deletes text or mislabels a window as seen
    * elsewhere — see fp128). Tokens are whitespace-split, so grouping by
    * the token-hash slice is grouping by the window's token list.
    * Documents shorter than one window get NULL `dj_fps` (no rows when
    * exploded). The guard is a CASE in the same projection, not a filter
    * below it, because the optimizer does not promise to apply that filter
    * before every predicate it derives from the projection — and Spark's
    * sequence(1, 0) would DESCEND ([1, 0]) into an invalid slice start.
    */
  private def spanWindows(
      df: DataFrame,
      textCol: String,
      idCol: String,
      l: Int): (DataFrame, DataFrame) = {
    val toksDf = spread(df
      .where(col(textCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol), col(textCol)))
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("dj_toks"))
      .select(col(idCol), col("dj_toks"), size(col("dj_toks")).cast("long").as("dj_n"))
    val fps = toksDf.select(
      col(idCol),
      when(col("dj_n") >= l,
        Hof.bound(transform(col("dj_toks"), tk => xxhash64(tk))) { hs =>
          transform(
            sequence(lit(1), (size(hs) - l + 1).cast("int")),
            i => fp128(slice(hs, i, lit(l))))
        }).as("dj_fps"))
    (toksDf, fps)
  }

  /** Span coverage of the exact-substring family, computed once for
    * [[duplicatedSpans]] and [[removeDuplicatedSpans]]: the tokenized
    * documents `(idCol, dj_toks, dj_n)` plus `dj_runs`, each document's
    * UNCOVERED token runs as (1-based `start`, `len`) structs in order.
    *
    * A window start is flagged when it is not the corpus-wide first
    * occurrence of its fingerprint (ordered by (id, position)); a flag at f
    * covers tokens [f, f + l). With a document's flagged starts sorted into
    * F, the tokens left uncovered between consecutive flags a < b are
    * [a + l, b), so zipping (1 - l, F…) against (F…, n + 1) yields every run
    * — overlapping or adjacent flags give runs of length ≤ 0, which are
    * dropped. Ids must be distinct: the (id, pos) first-occurrence order
    * assumes it.
    */
  private def spanRuns(
      df: DataFrame,
      textCol: String,
      idCol: String,
      l: Int): DataFrame = {
    val (toksDf, fps) = spanWindows(df, textCol, idCol, l)
    val wins = fps
      .select(col(idCol), posexplode(col("dj_fps")).as(Seq("dj_pos0", "dj_fp")))
      .select(col(idCol), (col("dj_pos0") + 1).as("dj_pos"), col("dj_fp"))
    // read twice (first-occurrence aggregate AND the flagged join) — the
    // per-token fingerprint explode must run once, not per branch.
    // Registry-tracked checkpoint, NOT cache: MaxDupSpanFraction evaluates
    // this path inside a constraint loop, where a cache entry per call
    // would accumulate until someone clears the whole cache (the
    // heavyHitters leak class); the constraint's scope releases these
    // blocks the moment the evaluation returns.
    val winsCk = graft.core.Blocks.checkpoint(wins)
    val firsts = winsCk
      .groupBy("dj_fp")
      .agg(min(struct(col(idCol), col("dj_pos"))).as("dj_first"))
    val flagStarts = winsCk
      .join(firsts, Seq("dj_fp"))
      .where(struct(col(idCol), col("dj_pos")) =!= col("dj_first"))
      .groupBy(idCol)
      .agg(array_sort(collect_list(col("dj_pos"))).as("dj_flags"))
    val f = coalesce(col("dj_flags"), typedLit(Seq.empty[Int]))
    toksDf
      .join(flagStarts, Seq(idCol), "left")
      .select(
        col(idCol),
        col("dj_toks"),
        col("dj_n"),
        filter(
          zip_with(
            concat(array(lit(1 - l)), f),
            concat(f, array((col("dj_n") + 1).cast("int"))),
            (a, b) => struct((a + l).as("start"), (b - a - l).as("len"))),
          r => r.getField("len") > 0).as("dj_runs"))
  }

  /** Exact-substring duplication stats per document (the window-fingerprint
    * approximation of suffix-array exact-substring dedup — Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better", public
    * arXiv:2107.06499): every `windowTokens`-token window of the normalized
    * token stream is fingerprinted; a window occurrence that is not the
    * corpus-wide FIRST occurrence of its fingerprint (ordered by (id,
    * position)) marks its token span as duplicated. Returns one row per
    * non-null-id, non-null-text document: (`idCol`, `n_tokens`,
    * `dup_tokens` = size of the union of flagged spans, `dup_frac` =
    * dup_tokens / n_tokens) — the signal pipelines threshold to drop or
    * trim bulk-copied text that document-level near-dup passes miss (long
    * quotes, syndicated boilerplate inside otherwise-unique pages). Ids
    * must be distinct.
    *
    * Scale shape: windows are one fingerprint array per document, exploded
    * once (one row per token, same order as any shingling pass);
    * first-occurrence is the skew-safe partial-aggregated
    * `groupBy(fp).agg(min(struct(id, pos)))` — map-side combine absorbs a
    * boilerplate window repeated across half the corpus BEFORE the shuffle
    * (never a window-function over fingerprint, which funnels every copy
    * through one reducer). Each document's flagged starts collect into one
    * sorted array (one row per document with a flag), joined back to the
    * documents once by id; coverage is then array arithmetic in one
    * projection (see `spanRuns`) — no window, no per-token rows, no global
    * ordering. Four shuffles total (fingerprint agg, fingerprint join, flag
    * collect, id join).
    */
  def duplicatedSpans(
      df: DataFrame,
      textCol: String,
      idCol: String,
      windowTokens: Int = 8): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be positive: $windowTokens")
    spanRuns(df, textCol, idCol, windowTokens)
      .select(
        col(idCol),
        col("dj_n").as("n_tokens"),
        (col("dj_n") - aggregate(col("dj_runs"), lit(0L), (acc, r) => acc + r.getField("len")))
          .as("dup_tokens"))
      .withColumn("dup_frac",
        round(col("dup_tokens") / greatest(col("n_tokens"), lit(1L)), 6))
  }

  /** Per-document n-gram novelty: the fraction of a document's DISTINCT
    * `windowTokens`-token window fingerprints that appear in NO other
    * document — the inverse view of span/contamination overlap, and the
    * usual "how much genuinely new text does this source add" score when
    * deciding whether a crawl snapshot is worth ingesting. Emits
    * (`idCol`, n_fp, n_novel, novelty ∈ [0,1]); documents shorter than one
    * window get n_fp = 0 and a NULL novelty (no evidence either way).
    *
    * Scale shape: one token explode per document reduced to DISTINCT
    * fingerprints in-array (within-doc repetition is not cross-doc
    * overlap, and the explode volume drops before the shuffle), one
    * vocabulary-keyed document-frequency aggregate (map-side partials),
    * one fp-keyed join back (AQE-managed; a boilerplate fingerprint skews
    * only its own join group), one id-keyed count. The fingerprint frame
    * is checkpointed — frequency aggregate and join-back read it once.
    */
  def ngramNovelty(
      df: DataFrame,
      textCol: String,
      idCol: String,
      windowTokens: Int = 8): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be positive: $windowTokens")
    val (toksDf, fps) = spanWindows(df, textCol, idCol, windowTokens)
    val fpsCk = graft.core.Blocks.checkpoint(
      fps.select(col(idCol), explode(array_distinct(col("dj_fps"))).as("dj_fp")))
    val docFreq = fpsCk.groupBy("dj_fp").agg(count(lit(1)).as("dj_nd"))
    val per = fpsCk
      .join(docFreq, Seq("dj_fp"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_fp"),
        sum(when(col("dj_nd") === 1, 1L).otherwise(0L)).as("n_novel"))
    toksDf
      .select(col(idCol))
      .join(per, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(
          col("n_novel") / when(col("n_fp") > 0, col("n_fp")),
          6).as("novelty"))
  }

  /** The rewrite flavor of [[duplicatedSpans]] (the reference behavior of
    * exact-substring dedup — arXiv:2107.06499 REMOVES the cloned spans):
    * every token covered by a flagged (non-first-occurrence) window is
    * excised and the survivors reassemble in order. Returns one row per
    * surviving document: (`idCol`, `textCol` = the NORMALIZED token stream
    * with duplicated spans removed — normalization is the working
    * representation of the whole exact-substring family; the original raw
    * text is not reconstructable from token identity). A fully-covered
    * document drops out entirely, mirroring [[dedupParagraphs]]'
    * fully-boilerplate contract. Ids must be distinct.
    *
    * Scale shape: exactly the plan of [[duplicatedSpans]]; the surviving
    * text is the uncovered runs sliced out of the token array in the same
    * projection. No window, no per-token explode, no reassembly aggregate.
    */
  def removeDuplicatedSpans(
      df: DataFrame,
      textCol: String,
      idCol: String,
      windowTokens: Int = 8): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be positive: $windowTokens")
    spanRuns(df, textCol, idCol, windowTokens)
      .where(size(col("dj_runs")) > 0)
      .select(
        col(idCol),
        concat_ws(
          " ",
          flatten(transform(col("dj_runs"),
            r => slice(col("dj_toks"), r.getField("start"), r.getField("len"))))).as(textCol))
  }

  /** All strings reachable from `s` by deleting up to `depth` characters
    * (including `s` itself), distinct — the SymSpell deletion neighborhood
    * (Garbe's public symmetric-delete algorithm). Two strings within
    * Levenshtein distance `depth` ALWAYS share a neighborhood member
    * (delete the edited positions on each side), so an equi-join on the
    * neighborhood is a recall-1 candidate generator for edit distance —
    * no similarity-join nested loop at any scale.
    */
  def deletionVariants(s: Column, depth: Int): Column = {
    require(depth >= 1 && depth <= 2, s"deletion depth must be 1 or 2: $depth")
    val del1 = Hof.bound(s) { t =>
      transform(
        sequence(lit(0), greatest(length(t) - 1, lit(0))),
        i => concat(t.substr(lit(1), i), t.substr(i + 2, length(t))))
    }
    val withSelf = array_union(array(s), del1)
    if (depth == 1) array_distinct(withSelf)
    else {
      val second = Hof.bound(withSelf) { vs =>
        flatten(transform(vs, v =>
          array_union(
            array(v),
            transform(
              sequence(lit(0), greatest(length(v) - 1, lit(0))),
              i => concat(v.substr(lit(1), i), v.substr(i + 2, length(v)))))))
      }
      array_distinct(second)
    }
  }

  /** Fuzzy near-duplicate pairs under Levenshtein distance ≤ `maxDist`
    * (1 or 2): candidates share a deletion-neighborhood member
    * ([[deletionVariants]] — recall 1 by the symmetric-delete pigeonhole),
    * hot variants are COUNT-FIRST capped (the empty/very-short-variant
    * guard, same discipline as the LSH buckets), and every candidate is
    * verified with the exact codegen'd `levenshtein` (+ a cheap length
    * prefilter). Emits (id1, id2, dist ≤ maxDist), id1 < id2.
    *
    * Intended for SHORT keys (titles, names, normalized URLs): the
    * neighborhood is O(len^maxDist) variants per row — the classic
    * SymSpell trade (explode volume for equi-join candidates) that works
    * precisely because join keys are short.
    */
  def fuzzyPairsLevenshtein(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxDist: Int = 1,
      maxBucketSize: Int = 1000): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2, s"maxDist must be 1 or 2: $maxDist")
    val base = graft.core.Blocks.checkpoint(
      df.where(col(textCol).isNotNull && col(idCol).isNotNull)
        .select(col(idCol).as("dj_id"), col(textCol).as("dj_t"))
        .withColumn("dj_len", length(col("dj_t"))))
    // variants WITHOUT the title payload (r14, guide §2.3): the self-join
    // below used to shuffle every row's title string twice and drag both
    // titles through the join and the pair distinct — keys/lengths decide
    // everything, titles re-attach to the distinct survivors only
    val exploded = graft.core.Blocks.checkpoint(
      base.select(col("dj_id"), col("dj_len"),
        explode(deletionVariants(col("dj_t"), maxDist)).as("dj_var")))
    // the hot-variant cap counts TRUE string variants (a hashed-key count
    // could collision-merge two buckets across the cap boundary and drop
    // pairs the all-pairs oracle keeps)
    val capped = exploded.join(
      exploded.groupBy("dj_var").agg(count(lit(1)).as("dj_vn"))
        .where(col("dj_vn") <= maxBucketSize)
        .select("dj_var"),
      Seq("dj_var"))
      // the JOIN key is the variant's 8-byte hash, not the string: a
      // collision can only ADD a candidate pair, which the exact
      // levenshtein verify below discards — identical output, ~4× fewer
      // shuffle bytes per exploded row
      .select(xxhash64(col("dj_var")).as("dj_vh"), col("dj_id"), col("dj_len"))
    val candidates = capped.select(col("dj_vh"), col("dj_id").as("id1"),
        col("dj_len").as("dj_l1"))
      .join(
        capped.select(col("dj_vh"), col("dj_id").as("id2"),
          col("dj_len").as("dj_l2")),
        Seq("dj_vh"))
      .where(col("id1") < col("id2") &&
        abs(col("dj_l1") - col("dj_l2")) <= maxDist)
      .select("id1", "id2")
      .distinct()
    candidates
      .join(base.select(col("dj_id").as("id1"), col("dj_t").as("dj_t1")), Seq("id1"))
      .join(base.select(col("dj_id").as("id2"), col("dj_t").as("dj_t2")), Seq("id2"))
      .withColumn("dist", levenshtein(col("dj_t1"), col("dj_t2")))
      .where(col("dist") <= maxDist)
      .select(col("id1"), col("id2"), col("dist").cast("long").as("dist"))
  }

  /** Cross-corpus SUBSTRING contamination via winnowing fingerprints
    * ([[graft.ops.TextAnalysis.winnowFingerprints]]): for every corpus
    * document, the fraction of its fingerprints that also occur anywhere in
    * the eval corpus. A shared substring of ≥ `k + w - 1` normalized
    * characters is GUARANTEED to contribute a shared fingerprint (the
    * winnowing property), so `containment` upper-bounds how much of the
    * document could have leaked verbatim into the eval set — the
    * position-robust exact sibling of [[crossNearDups]]' whole-document
    * Jaccard and [[graft.ops.Corpus.decontaminate]]'s word-n-gram overlap.
    *
    * Returns one row per corpus document with at least one fingerprint:
    * (`idCol`, `n_fp`, `n_matched`, `containment`, `flagged` =
    * containment ≥ `minContainment`).
    *
    * Scale shape: the eval side is reduced to its DISTINCT fingerprint set
    * (a hash equi-join key — broadcastable when the eval corpus is small,
    * the usual case for decontamination); the corpus side explodes each
    * document's already-distinct fingerprint array, so join output is
    * bounded by the exploded corpus row count — there is no document-pair
    * space at any scale. One shuffle (the per-document regroup).
    */
  def winnowContamination(
      corpus: DataFrame,
      evalDf: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 8,
      w: Int = 4,
      minContainment: Double = 0.5): DataFrame = {
    require(
      minContainment >= 0 && minContainment <= 1,
      s"minContainment must lie in [0, 1]: $minContainment")
    def fps(df: DataFrame) = df
      .where(col(textCol).isNotNull)
      .select(
        col(idCol),
        TextAnalysis.winnowFingerprints(col(textCol), k, w).as("dj_fps"))
      .where(size(col("dj_fps")) > 0)
    val evalSet = fps(evalDf)
      .select(explode(col("dj_fps")).as("dj_fp"))
      .distinct()
      .withColumn("dj_hit", lit(1L))
    fps(corpus)
      .select(col(idCol), size(col("dj_fps")).as("n_fp"),
        explode(col("dj_fps")).as("dj_fp"))
      .join(evalSet, Seq("dj_fp"), "left")
      .groupBy(col(idCol), col("n_fp"))
      .agg(sum(coalesce(col("dj_hit"), lit(0L))).as("n_matched"))
      .withColumn("containment",
        col("n_matched").cast("double") / col("n_fp").cast("double"))
      .withColumn("flagged", col("containment") >= minContainment)
      .select(col(idCol), col("n_fp").cast("long").as("n_fp"),
        col("n_matched"), col("containment"), col("flagged"))
  }

}
