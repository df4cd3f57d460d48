package graft.gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.gates.Common._

/** Oracle gates for vectors, ANN search and persisted vector indexes. */
private[graft] object VectorGates {

  def gates: Seq[Gate] = Seq(
    // top-k ANN from a PERSISTED IVF index: quantizer fit + corpus→cell
    // assignment paid once into a cell-sorted bucketed postings table
    // (built/reused via the same content-fingerprint cache as
    // q_incremental_dedup), queries served by probing cells off the index
    // — the probed-cell isin pushes into the parquet scan (AnnIndexSpec
    // pins the plan). nProbe = nCells here, so the result is EXACT top-k:
    // the same brute-force oracle as q_embedding_topk checks the whole
    // build/open/query path end-to-end.
    Gate("q_indexed_ann", { (s, dir) =>
      val vecs = s.read.parquet(pq(dir, "embeddings"))
      val path = cachedIndexPath(dir, "embeddings", "ann_index") { p =>
        graft.sources.AnnIndex.build(
          vecs, "vec_id", "embedding", p, nCentroids = 8, kmeansIters = 0)
      }
      graft.sources.AnnIndex
        .queryTopK(
          vecs.where(col("vec_id") < 5), "vec_id", "embedding", path,
          k = 3, nProbe = 8)
        .select(
          col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank").cast("bigint").as("rank"))
    },
      bruteForceTop3Sql),

    // product-quantization encode (Jégou 2011): bit-reproducible seed
    // codebooks (first-16-by-id vectors, 4 subspaces × 16 dims), every
    // vector → 4 smallint codes via the native argmin kernel
    // (functions.PqCodes). The oracle re-derives the codebooks and the
    // per-subspace argmin in SQL — same sequential double arithmetic,
    // same ties-to-smallest-codeword.
    Gate("q_pq_encode", { (s, dir) =>
      val vecs = s.read.parquet(pq(dir, "embeddings"))
      val cb = graft.ops.Pq.seedCodebooks(vecs, "vec_id", "embedding", m = 4, ks = 16)
      graft.ops.Pq.withCodes(vecs, "embedding", cb)
        .select(col("vec_id"), posexplode(col("pq_codes")))
        .select(
          col("vec_id"),
          col("pos").cast("bigint").as("subspace"),
          col("col").cast("bigint").as("code"))
    },
      // PQ codebooks re-derived in SQL: codeword cw = the cw-th vector by
      // id; per (vector, subspace) the squared-L2 argmin over codewords —
      // list_sum(list_transform(...)) is the same sequential double
      // accumulation as the native kernel, ties break to the smallest cw on
      // both sides (strict < scan ≡ ORDER BY d2, cw)
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
              cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cw, e
                     FROM v ORDER BY vec_id LIMIT 16),
              d AS (SELECT v.vec_id, s.s, cb.cw,
                      list_sum(list_transform(range(16),
                        j -> (v.e[CAST(s.s*16 + j + 1 AS INT)] - cb.e[CAST(s.s*16 + j + 1 AS INT)])
                           * (v.e[CAST(s.s*16 + j + 1 AS INT)] - cb.e[CAST(s.s*16 + j + 1 AS INT)]))) AS d2
                    FROM v CROSS JOIN range(4) s(s) CROSS JOIN cb),
              r AS (SELECT vec_id, s, cw,
                      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cw) AS rn
                    FROM d)
         SELECT vec_id, s AS subspace, cw AS code FROM r WHERE rn = 1"""),

    // asymmetric-distance top-k over the PQ codes: per-query LUT of
    // query-slice·codeword dots, every corpus code scored with 4 lookups,
    // ranked by the approximate dot. The oracle recomputes codes, then the
    // per-subspace inner products summed in subspace order (pivoted
    // left-assoc sum — DuckDB's sum() aggregates in arbitrary order and
    // drifts 1 ulp otherwise).
    Gate("q_pq_adc", { (s, dir) =>
      val vecs = s.read.parquet(pq(dir, "embeddings"))
      val cb = graft.ops.Pq.seedCodebooks(vecs, "vec_id", "embedding", m = 4, ks = 16)
      graft.ops.Pq
        .adcTopK(vecs, vecs.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 3, codebooks = cb)
        .select(
          col("query_id"), col("neighbor_id"),
          round(col("adc_dot"), 6).as("adc_dot"),
          col("rank").cast("bigint").as("rank"))
    },
      // ADC top-k: same code derivation, then per-subspace inner products
      // pivoted and added LEFT-ASSOCIATIVELY in subspace order — the exact
      // accumulation order of the native pq_adc loop (an aggregate sum()
      // would add in arbitrary order and drift 1 ulp on the scores)
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
              cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cw, e
                     FROM v ORDER BY vec_id LIMIT 16),
              d AS (SELECT v.vec_id, s.s, cb.cw,
                      list_sum(list_transform(range(16),
                        j -> (v.e[CAST(s.s*16 + j + 1 AS INT)] - cb.e[CAST(s.s*16 + j + 1 AS INT)])
                           * (v.e[CAST(s.s*16 + j + 1 AS INT)] - cb.e[CAST(s.s*16 + j + 1 AS INT)]))) AS d2
                    FROM v CROSS JOIN range(4) s(s) CROSS JOIN cb),
              codes AS (SELECT vec_id, s, cw FROM (
                          SELECT vec_id, s, cw,
                            row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cw) AS rn
                          FROM d) WHERE rn = 1),
              q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 5),
              ip AS (SELECT q.qid, c.vec_id AS nid, c.s,
                       list_sum(list_transform(range(16),
                         j -> q.qe[CAST(c.s*16 + j + 1 AS INT)] * cb.e[CAST(c.s*16 + j + 1 AS INT)])) AS p
                     FROM codes c JOIN cb ON cb.cw = c.cw CROSS JOIN q
                     WHERE c.vec_id <> q.qid),
              adc AS (SELECT qid, nid,
                        max(CASE WHEN s=0 THEN p END) + max(CASE WHEN s=1 THEN p END)
                      + max(CASE WHEN s=2 THEN p END) + max(CASE WHEN s=3 THEN p END) AS adc
                      FROM ip GROUP BY qid, nid),
              r AS (SELECT qid AS query_id, nid AS neighbor_id, adc,
                      row_number() OVER (PARTITION BY qid ORDER BY adc DESC, nid) AS rank
                    FROM adc)
         SELECT query_id, neighbor_id, round(adc, 6) AS adc_dot, rank
         FROM r WHERE rank <= 3"""),

    // top-k from the PQ-carrying persisted index: codes round-trip through
    // the bucketed postings, the ADC prefilter + LUT machinery runs end to
    // end, and at exhaustive settings (every cell probed, pool covering
    // the corpus) the exact rerank makes the result brute-force top-k —
    // the same oracle as q_indexed_ann. ADC VALUE correctness is oracled
    // separately (q_pq_adc); this gate checks the persisted-codes path.
    Gate("q_indexed_pq", { (s, dir) =>
      val vecs = s.read.parquet(pq(dir, "embeddings"))
      val path = cachedIndexPath(dir, "embeddings", "ann_pq_index") { p =>
        graft.sources.AnnIndex.build(
          vecs, "vec_id", "embedding", p,
          nCentroids = 8, kmeansIters = 0, pq = Some((4, 16)), pqIters = 0)
      }
      graft.sources.AnnIndex
        .queryTopKPq(
          vecs.where(col("vec_id") < 5), "vec_id", "embedding", path,
          k = 3, nProbe = 8, poolFactor = Int.MaxValue)
        .select(
          col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank").cast("bigint").as("rank"))
    },
      // the persisted-index queries probe every cell (nProbe = nCells; the
      // PQ flavor also pools the whole corpus), so exact brute-force top-k
      // is the ground truth — same oracle shape as q_embedding_topk
      bruteForceTop3Sql),

    // the REBUILD (quantizer refit) half of the ann-index lifecycle: build
    // on half the corpus, append the other half (drifting the frozen
    // 8-cell geometry), rebuild to 16 cells — a new generation, atomic
    // meta flip — then answer with EVERY cell probed: exhaustive probing
    // ranks over all vectors, so brute-force top-k is the exact oracle
    // regardless of the refit geometry (the q_indexed_ann shape).
    Gate("q_rebuilt_ann", { (s, dir) =>
      val vecs = s.read.parquet(pq(dir, "embeddings"))
      val path = cachedIndexPath(dir, "embeddings", "ann_rebuild_index") { p =>
        graft.sources.AnnIndex.build(
          vecs.where(col("vec_id") % 2 === 0), "vec_id", "embedding", p,
          nCentroids = 8, kmeansIters = 0)
        graft.sources.AnnIndex.append(
          vecs.where(col("vec_id") % 2 === 1), p): Unit
        graft.sources.AnnIndex.rebuild(
          s, p, nCentroids = Some(16), kmeansIters = Some(0)): Unit
      }
      val nCells = graft.sources.AnnIndex.readMeta(path).nCells
      graft.sources.AnnIndex
        .queryTopK(
          vecs.where(col("vec_id") < 5), "vec_id", "embedding", path,
          k = 3, nProbe = nCells)
        .select(
          col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank").cast("bigint").as("rank"))
    },
      // exhaustive probing ranks over every vector, so brute-force top-k is
      // exact whatever geometry the rebuild refit — same oracle as
      // q_indexed_ann
      bruteForceTop3Sql),

    // the persisted-index tiers of annTopKAuto (r11 verdict task 3): with
    // an indexPath the auto dispatch must answer from the index —
    // bit-identical to AnnIndex.queryTopK at the flat-auto geometry — and
    // the forced compressed tier (pqMinCorpus = 1) must answer through the
    // ADC prefilter at a RECALL-TARGETED auto pool factor whose measured
    // recall against the uncompressed answer clears the floor. Dispatch
    // decisions and arithmetic are deterministic, so the all-green row is
    // a stable hash target (the q_streaming_sessions gate pattern).
    Gate("q_indexed_auto", { (s, dir) =>
      val vecs = s.read.parquet(pq(dir, "embeddings"))
      val n = vecs.count()
      val k = 10
      val (cents, nProbe) = graft.ops.Similarity.ivfAutoParams(n, k)
      val path = cachedIndexPath(dir, "embeddings", "ann_auto_index") { p =>
        // pre-build at the BIT-REPRODUCIBLE geometry (kmeansIters = 0 —
        // Lloyd rounds lose summation-order determinism and this gate is
        // a hash target); the annTopKAuto calls below pass the same
        // buildKmeansIters = 0, so the geometry the dispatch would build
        // if the cache were cold is exactly the one validated here
        graft.sources.AnnIndex.build(
          vecs, "vec_id", "embedding", p, nCentroids = cents,
          kmeansIters = 0, corpusSize = Some(n),
          pq = Some((8, 256)), pqIters = 1): Unit
      }
      def ids(df: DataFrame) = df
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val queries = vecs.where(col("vec_id") < 10)
      val auto = ids(graft.ops.Similarity.annTopKAuto(
        vecs, queries, "vec_id", "embedding", k, corpusSize = n,
        indexPath = Some(path), buildKmeansIters = 0))
      val direct = ids(graft.sources.AnnIndex.queryTopK(
        queries, "vec_id", "embedding", path, k, nProbe))
      val pqTier = ids(graft.ops.Similarity.annTopKAuto(
        vecs, queries, "vec_id", "embedding", k, corpusSize = n,
        indexPath = Some(path), pqMinCorpus = 1, buildKmeansIters = 0))
      graft.core.Blocks.releaseAll()
      val directIds = direct.map(t => (t._1, t._2))
      val pqRecall =
        if (directIds.isEmpty) 0.0
        else pqTier.map(t => (t._1, t._2)).count(directIds.contains)
          .toDouble / directIds.size
      one(
        s,
        Seq("indexed_matches_direct", "index_pq_carrying", "pq_recall_ok"),
        Seq(
          String.valueOf(auto == direct),
          String.valueOf(graft.sources.AnnIndex.readMeta(path).pqM == 8),
          String.valueOf(pqRecall >= 0.8)))
    },
      // deterministic self-comparison gate (the q_streaming_sessions
      // pattern): dispatch identity, PQ carriage, and compressed-tier recall
      // are computed in-engine; the oracle is the constant all-green row
      """SELECT 'true' AS indexed_matches_direct, 'true' AS index_pq_carrying,
                'true' AS pq_recall_ok"""),

    // brute-force cosine top-3 neighbors for the first 5 vectors
    Gate("q_embedding_topk", { (s, dir) =>
      val vectors = s.read.parquet(pq(dir, "embeddings"))
      val queries = vectors.where(col("vec_id") < 5)
      graft.ops.Similarity
        .bruteForceTopK(vectors, queries, "vec_id", "embedding", k = 3)
        .select(
          col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank").cast("bigint").as("rank"))
    },
      bruteForceTop3Sql),

    // embedding-space similarity histogram: exact cosines of a
    // deterministic linear pair sample (successor vectors of every 7th
    // id — NEVER all pairs) bucketed over [-1, 1) — the embedding-health
    // profile (collapsed space → mass near 1). Cosines are bit-identical
    // cross-engine (double-accumulated dot, same order), so the bucket
    // floor can't flip.
    Gate("q_embedding_hist", { (s, dir) =>
      val v = s.read.parquet(pq(dir, "embeddings"))
      val a = v.where(col("vec_id") % 7 === 0)
        .select(col("vec_id").as("id_a"), col("embedding").as("ea"))
      val b = v.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
      val cos = a
        .join(b, col("id_b") === col("id_a") + 1)
        .select(graft.ops.Similarity.cosineF(col("ea"), col("eb")).as("c"))
      graft.ops.Stats
        .histogram(cos, "c", lo = -1.0, hi = 1.0, nBuckets = 20)
        .select(col("bucket"), col("cnt"))
    },
      // similarity histogram: same pair sample, same cosine (bit-identical
      // double accumulation), same bucket arithmetic
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings),
              p AS (SELECT list_cosine_similarity(a.e, b.e) AS c
                    FROM v a JOIN v b ON b.vec_id = a.vec_id + 1
                    WHERE a.vec_id % 7 = 0)
         SELECT CAST(least(greatest(
                  floor((c - -1.0) * 20 / 2.0), 0), 19) AS BIGINT) AS bucket,
                count(*) AS cnt
         FROM p GROUP BY 1"""),

    // LSH-bucketed approximate top-k (scale path; full DuckDB oracle — the
    // sign-bit buckets are bit-deterministic because ±1-plane dot products
    // are the same exact double-addition sequence in both engines)
    Gate("q_embedding_lsh", { (s, dir) =>
      val vectors = s.read.parquet(pq(dir, "embeddings"))
      val queries = vectors.where(col("vec_id") < 5)
      graft.ops.Similarity
        .lshTopK(vectors, queries, "vec_id", "embedding", k = 3, bits = 8, dim = 64)
        .select(
          col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank").cast("bigint").as("rank"))
    },
      lshOracleSql),

    // embedding near-dup pairs: deterministic sign-bit buckets, exact
    // cosine verification; the membership boundary is the ROUNDED cosine
    // (both engines round to 6 before comparing, so a last-ulp float/double
    // divergence can't flip a pair in or out)
    Gate("q_embedding_neardup", { (s, dir) =>
      // corpus-scaled key width WITHOUT a caller-side count: the auto
      // flavor sizes nearDupBits off its own compact (id, key) checkpoint
      // — stays 32 bits at every gate scale (≤ ~8k rows → oracle-
      // identical) and widens on the bench's 100× legs so cells hold ~32
      // expected members instead of cap-saturating (the fixed-32-bit
      // spelling produced a ~300M-pair candidate set there). The r10 gate
      // paid a full vecs.count() scan per invocation just to size the key.
      val vecs = s.read.parquet(pq(dir, "embeddings"))
      graft.ops.Similarity
        .embeddingNearDupsAuto(vecs, "vec_id", "embedding", threshold = 0.3495)
        .select(
          col("id1"), col("id2"),
          round(col("cosine"), 6).as("cosine"),
          round(col("cosine"), 3).as("dj_member"))
        .where(col("dj_member") >= 0.35)
        .drop("dj_member")
    },
      // embedding near-dup pairs: the same deterministic 32 sign bits BANDED
      // into 4×8-bit sub-keys with the 1000-member bucket cap (mirrors the
      // SimHash oracle's chunked/sizes/pairs shape); candidates are DISTINCT
      // pairs agreeing on any band, then exact-cosine verified. Membership is
      // on the COARSE rounded value: the flip window at a rounding midpoint
      // shrinks with the grid, so a last-ulp engine divergence is ~1e-13/pair.
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
             k AS (SELECT vec_id, e,
                  (${lshBucketExprSql(bits = 32)}) AS key FROM v),
             banded AS (SELECT vec_id, bd.band AS band,
                          (key >> (bd.band * 8)) & 255 AS bucket
                        FROM k, (SELECT unnest([0,1,2,3]) AS band) bd),
             sizes AS (SELECT band, bucket, count(*) AS n
                       FROM banded GROUP BY 1, 2),
             pairs AS (SELECT DISTINCT a.vec_id AS id1, b2.vec_id AS id2
                       FROM banded a
                       JOIN banded b2 ON a.band = b2.band
                         AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id
                       JOIN sizes s ON s.band = a.band AND s.bucket = a.bucket
                         AND s.n BETWEEN 2 AND 1000)
         SELECT p.id1, p.id2,
                round(list_cosine_similarity(va.e, vb.e), 6) AS cosine
         FROM pairs p JOIN v va ON p.id1 = va.vec_id
                      JOIN v vb ON p.id2 = vb.vec_id
         WHERE round(list_cosine_similarity(va.e, vb.e), 3) >= 0.35"""),

    // cross-corpus SEMANTIC contamination: even-id vectors as "train",
    // odd-id as "eval" — near-dup pairs across the split only, per-side
    // capped banded sign-bit buckets (Similarity.crossEmbeddingNearDups).
    // Same coarse-membership rounding discipline as q_embedding_neardup.
    Gate("q_cross_embedding", { (s, dir) =>
      val vecs = s.read.parquet(pq(dir, "embeddings"))
      graft.ops.Similarity
        .crossEmbeddingNearDups(
          vecs.where(col("vec_id") % 2 === 0),
          vecs.where(col("vec_id") % 2 === 1),
          "vec_id", "embedding", threshold = 0.3495, bits = 32)
        .select(
          col("id1"), col("id2"),
          round(col("cosine"), 6).as("cosine"),
          round(col("cosine"), 3).as("dj_member"))
        .where(col("dj_member") >= 0.35)
        .drop("dj_member")
    },
      // cross-corpus embedding near-dups: same banded sub-keys, per-side
      // [1,1000] caps, cross-parity pairs only
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
             k AS (SELECT vec_id, e,
                  (${lshBucketExprSql(bits = 32)}) AS key FROM v),
             bandedA AS (SELECT vec_id, bd.band AS band,
                           (key >> (bd.band * 8)) & 255 AS bucket
                         FROM k, (SELECT unnest([0,1,2,3]) AS band) bd
                         WHERE vec_id % 2 = 0),
             bandedB AS (SELECT vec_id, bd.band AS band,
                           (key >> (bd.band * 8)) & 255 AS bucket
                         FROM k, (SELECT unnest([0,1,2,3]) AS band) bd
                         WHERE vec_id % 2 = 1),
             sizesA AS (SELECT band, bucket, count(*) AS n
                        FROM bandedA GROUP BY 1, 2),
             sizesB AS (SELECT band, bucket, count(*) AS n
                        FROM bandedB GROUP BY 1, 2),
             pairs AS (SELECT DISTINCT a.vec_id AS id1, b2.vec_id AS id2
                       FROM bandedA a
                       JOIN bandedB b2 ON a.band = b2.band
                         AND a.bucket = b2.bucket
                       JOIN sizesA sa ON sa.band = a.band
                         AND sa.bucket = a.bucket
                         AND sa.n BETWEEN 1 AND 1000
                       JOIN sizesB sb ON sb.band = b2.band
                         AND sb.bucket = b2.bucket
                         AND sb.n BETWEEN 1 AND 1000)
         SELECT p.id1, p.id2,
                round(list_cosine_similarity(va.e, vb.e), 6) AS cosine
         FROM pairs p JOIN v va ON p.id1 = va.vec_id
                      JOIN v vb ON p.id2 = vb.vec_id
         WHERE round(list_cosine_similarity(va.e, vb.e), 3) >= 0.35"""),

    // SemDeDup-style semantic near-dups: deterministic coarse quantizer
    // (lloydIters = 0, stride-1 sample → centroids = first 64 vectors by
    // id, SQL-replicable), argmax-of-rounded-cosine assignment, capped
    // within-cluster pairs, exact-cosine verify. Same coarse-membership
    // rounding as q_embedding_neardup.
    Gate("q_semantic_neardup", { (s, dir) =>
      graft.ops.Similarity
        .semanticNearDups(
          s.read.parquet(pq(dir, "embeddings")),
          "vec_id", "embedding", threshold = 0.3495,
          nClusters = 64, lloydIters = 0, corpusSize = Some(1))
        .select(
          col("id1"), col("id2"), col("cluster"),
          round(col("cosine"), 6).as("cosine"),
          round(col("cosine"), 3).as("dj_member"))
        .where(col("dj_member") >= 0.35)
        .drop("dj_member")
    },
      // semantic near-dups: first-64-by-id centroids (the stride-1 sample),
      // argmax over round(cosine, 6) with ties to the smallest centroid id,
      // [2, 1000]-capped within-cluster pairs, exact-cosine verify with the
      // coarse rounded membership
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings
                 WHERE embedding IS NOT NULL AND vec_id IS NOT NULL),
             cent AS (SELECT vec_id AS cid, e AS cvec FROM v
                      ORDER BY vec_id LIMIT 64),
             scored AS (SELECT vec_id, cid,
                          round(list_cosine_similarity(e, cvec), 6) AS sim
                        FROM v, cent),
             assigned AS (SELECT vec_id, cid AS cluster FROM (
                 SELECT vec_id, cid,
                        row_number() OVER (PARTITION BY vec_id
                          ORDER BY sim DESC, cid) AS rn
                 FROM scored) t WHERE rn = 1),
             sizes AS (SELECT cluster, count(*) AS n FROM assigned GROUP BY 1),
             ok AS (SELECT a.vec_id, a.cluster FROM assigned a
                    JOIN sizes s ON a.cluster = s.cluster
                      AND s.n BETWEEN 2 AND 1000),
             pairs AS (SELECT a.vec_id AS id1, b.vec_id AS id2, a.cluster
                       FROM ok a JOIN ok b ON a.cluster = b.cluster
                         AND a.vec_id < b.vec_id)
         SELECT p.id1, p.id2, p.cluster,
                round(list_cosine_similarity(va.e, vb.e), 6) AS cosine
         FROM pairs p JOIN v va ON p.id1 = va.vec_id
                      JOIN v vb ON p.id2 = vb.vec_id
         WHERE round(list_cosine_similarity(va.e, vb.e), 3) >= 0.35"""),

    // multi-probe SemDeDup: each vector joins its TWO nearest cells, pairs
    // recovered from ANY shared probe cell, canonical cell = smallest
    // shared id — the recall lever over q_semantic_neardup (whose output
    // is a subset of this one by construction)
    Gate("q_semantic_mp", { (s, dir) =>
      graft.ops.Similarity
        .semanticNearDups(
          s.read.parquet(pq(dir, "embeddings")),
          "vec_id", "embedding", threshold = 0.3495,
          nClusters = 64, lloydIters = 0, corpusSize = Some(1), probes = 2)
        .select(
          col("id1"), col("id2"), col("cluster"),
          round(col("cosine"), 6).as("cosine"),
          round(col("cosine"), 3).as("dj_member"))
        .where(col("dj_member") >= 0.35)
        .drop("dj_member")
    },
      // multi-probe flavor: rn <= 2 probe cells per vector, size cap per
      // probe cell, pairs from any shared cell deduplicated to min(cell)
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings
                 WHERE embedding IS NOT NULL AND vec_id IS NOT NULL),
             cent AS (SELECT vec_id AS cid, e AS cvec FROM v
                      ORDER BY vec_id LIMIT 64),
             scored AS (SELECT vec_id, cid,
                          round(list_cosine_similarity(e, cvec), 6) AS sim
                        FROM v, cent),
             assigned AS (SELECT vec_id, cid AS cluster FROM (
                 SELECT vec_id, cid,
                        row_number() OVER (PARTITION BY vec_id
                          ORDER BY sim DESC, cid) AS rn
                 FROM scored) t WHERE rn <= 2),
             sizes AS (SELECT cluster, count(*) AS n FROM assigned GROUP BY 1),
             ok AS (SELECT a.vec_id, a.cluster FROM assigned a
                    JOIN sizes s ON a.cluster = s.cluster
                      AND s.n BETWEEN 2 AND 1000),
             pairs AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
                              min(a.cluster) AS cluster
                       FROM ok a JOIN ok b ON a.cluster = b.cluster
                         AND a.vec_id < b.vec_id
                       GROUP BY 1, 2)
         SELECT p.id1, p.id2, p.cluster,
                round(list_cosine_similarity(va.e, vb.e), 6) AS cosine
         FROM pairs p JOIN v va ON p.id1 = va.vec_id
                      JOIN v vb ON p.id2 = vb.vec_id
         WHERE round(list_cosine_similarity(va.e, vb.e), 3) >= 0.35""")
  )

  /** The sign-bit bucket expression over `e DOUBLE[]` — shared by the LSH
    * top-k and near-dup oracles; the hyperplane literals come from the SAME
    * deterministic LCG the Spark operators use.
    */
  private def lshBucketExprSql(bits: Int = 8): String = {
    val planes = graft.ops.Similarity.hyperplanes(bits, dim = 64)
    planes.zipWithIndex.map { case (p, i) =>
      val arr = p.map(x => if (x > 0) "1.0" else "-1.0").mkString(",")
      s"CASE WHEN list_dot_product(e, [$arr]) > 0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END"
    }.mkString("\n                 + ")
  }

  /** DuckDB oracle for the multi-probe LSH top-k: the hyperplane literals
    * are generated from the SAME deterministic LCG the Spark operator uses,
    * so both engines compute identical sign-bit buckets (±1 components make
    * each dot product an exact, order-identical double addition chain).
    */
  private def lshOracleSql: String = {
    val bucketExpr = lshBucketExprSql()
    val probeList = (0 until 8).map(i => s"xor(bucket, (1::BIGINT << $i))").mkString(", ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            b AS (SELECT vec_id, e,
                 ($bucketExpr) AS bucket FROM v),
            q AS (SELECT vec_id AS qid, e AS qe,
                    unnest(list_distinct([bucket, $probeList])) AS pbucket
                  FROM b WHERE vec_id < 5),
            scored AS (SELECT q.qid AS query_id, b.vec_id AS neighbor_id,
                         list_cosine_similarity(q.qe, b.e) AS c
                       FROM b JOIN q ON b.bucket = q.pbucket AND b.vec_id <> q.qid),
            ranked AS (SELECT query_id, neighbor_id, c,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY c DESC, neighbor_id) AS r
                       FROM scored)
       SELECT query_id, neighbor_id, round(c, 6) AS cosine, r AS rank
       FROM ranked WHERE r <= 3"""
  }

  /** Exhaustive cosine top-3 of the first 5 vectors: the exact answer
    * every ANN gate must reproduce.
    */
  private val bruteForceTop3Sql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
              q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 5),
              scored AS (SELECT qid AS query_id, v.vec_id AS neighbor_id,
                           list_cosine_similarity(qe, e) AS c
                         FROM v, q WHERE v.vec_id <> qid),
              ranked AS (SELECT query_id, neighbor_id, c,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY c DESC, neighbor_id) AS r
                         FROM scored)
         SELECT query_id, neighbor_id, round(c, 6) AS cosine, r AS rank
         FROM ranked WHERE r <= 3"""
}
