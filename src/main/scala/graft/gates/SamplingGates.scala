package graft.gates

import org.apache.spark.sql.functions._

import graft.gates.Common._

/** Oracle gates for sampling, splits, shards and mixing. */
private[graft] object SamplingGates {

  def gates: Seq[Gate] = Seq(
    // DSIR importance weights: hashed unigram+bigram buckets (md5 flavor so
    // the oracle recomputes identical buckets), smoothed target/raw
    // log-ratios over the full bucket spine, exact decimal per-doc sums
    Gate("q_dsir_weights", { (s, dir) =>
      val docs =
        s.read.parquet(pq(dir, "documents")).select(col("doc_id"), col("text"))
      graft.ops.Dsir
        .importanceWeights(
          docs, docs.where(col("doc_id") % 7 === 0), "text", "doc_id",
          nBuckets = 512, md5Flavor = true)
        .select(
          col("doc_id"),
          col("n_features").cast("bigint").as("n_features"),
          round(col("logw"), 6).cast("double").as("logw"))
    },
      s"""WITH $dsirChainSql
         SELECT doc_id, n_features,
                CAST(round(logw_raw, 6) AS DOUBLE) AS logw FROM w"""),

    // DSIR Gumbel-top-k selection: deterministic md5-lattice uniforms,
    // sample-∝-weight without replacement, rank pinned by (gumbel, id)
    Gate("q_dsir_sample", { (s, dir) =>
      val docs =
        s.read.parquet(pq(dir, "documents")).select(col("doc_id"), col("text"))
      graft.ops.Dsir
        .resample(
          docs, docs.where(col("doc_id") % 7 === 0), "text", "doc_id",
          k = 50, seed = "gate", nBuckets = 512, md5Flavor = true)
        .select(
          col("doc_id"),
          col("n_features").cast("bigint").as("n_features"),
          round(col("logw"), 6).cast("double").as("logw"),
          round(col("gumbel"), 6).as("gumbel"),
          col("rank").cast("bigint").as("rank"))
    },
      s"""WITH $dsirChainSql,
              g AS (SELECT doc_id, n_features, logw_raw,
                      CAST(logw_raw AS DOUBLE)
                        - ln(-ln((('0x' || substring(md5(doc_id::VARCHAR || ':gate'), 1, 13))::BIGINT
                                  + 0.5) / 4503599627370496.0)) AS gum
                    FROM w),
              r AS (SELECT doc_id, n_features, logw_raw, gum,
                      row_number() OVER (ORDER BY gum DESC, doc_id ASC) AS rank
                    FROM g)
         SELECT doc_id, n_features,
                CAST(round(logw_raw, 6) AS DOUBLE) AS logw,
                round(gum, 6) AS gumbel,
                CAST(rank AS BIGINT) AS rank
         FROM r WHERE rank <= 50"""),

    // hashed-n-gram KL text-drift scalar (the PSI sibling for text):
    // smoothed target/raw distributions over the full bucket spine
    Gate("q_text_drift_kl", { (s, dir) =>
      val docs =
        s.read.parquet(pq(dir, "documents")).select(col("doc_id"), col("text"))
      graft.ops.Dsir
        .hashedNgramKlFrame(
          docs, docs.where(col("doc_id") % 7 === 0), "text",
          nBuckets = 512, md5Flavor = true)
        .select(round(col("kl"), 6).cast("double").as("kl"))
    },
      // reuses the DSIR chain's md5-bucket histograms and smoothing
      // constants (nBuckets 512 → +256.0 denominators)
      s"""WITH $dsirChainSql,
              kl AS (SELECT CAST(sum(CAST(
                       ((coalesce(cr, 0) + 0.5) / (nr.n + 256.0)) *
                       ln(((coalesce(cr, 0) + 0.5) / (nr.n + 256.0)) /
                          ((coalesce(ct, 0) + 0.5) / (nt.n + 256.0)))
                       AS DECIMAL(20,12))) AS DECIMAL(38,12)) AS v
                     FROM (SELECT unnest(range(0, 512)) AS b) sp
                     LEFT JOIN tgt ON sp.b = tgt.b
                     LEFT JOIN rw ON sp.b = rw.b
                     CROSS JOIN nt CROSS JOIN nr)
         SELECT CAST(round(v, 6) AS DOUBLE) AS kl FROM kl"""),

    // weight-balanced serpentine shard assignment over the bucketed global
    // rank (no unpartitioned window) — per-shard token totals near-equal
    Gate("q_shard_assign", { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
        .where(col("text").isNotNull)
        .select(
          col("doc_id"),
          graft.ops.TextAnalysis.tokenCount(col("text")).cast("bigint").as("tok_w"))
      graft.ops.Corpus
        .assignShardsBalanced(docs, "doc_id", "tok_w", nShards = 8)
        .select(
          col("doc_id"), col("tok_w"),
          col("shard_rank").cast("bigint").as("shard_rank"),
          col("shard").cast("bigint").as("shard"))
    },
      s"""WITH d AS (SELECT doc_id,
                       len(string_split($normSql, ' '))::BIGINT AS tok_w
                     FROM documents WHERE text IS NOT NULL),
              r AS (SELECT doc_id, tok_w,
                      row_number() OVER (ORDER BY tok_w DESC, doc_id ASC) AS rk
                    FROM d)
         SELECT doc_id, tok_w, CAST(rk AS BIGINT) AS shard_rank,
                CAST(CASE WHEN ((rk - 1) // 8) % 2 = 0 THEN (rk - 1) % 8
                          ELSE 7 - (rk - 1) % 8 END AS BIGINT) AS shard
         FROM r"""),

    // deterministic epoch shuffle (ops.Corpus.epochShuffle): the full
    // md5-lattice permutation of the documents table for (seed=gate,
    // epoch=3) — bucketed global rank vs the oracle's row_number over the
    // identical 52-bit dyadic key, id tie-break pinning determinism
    Gate("q_epoch_shuffle", { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents")).select(col("doc_id"))
      graft.ops.Corpus
        .epochShuffle(docs, "doc_id", "gate", 3)
        .select(col("doc_id"), col("shuffle_rank"))
    },
      """SELECT doc_id,
                CAST(row_number() OVER (
                  ORDER BY (('0x' || substring(md5(doc_id::VARCHAR || ':gate:3'), 1, 13))::BIGINT
                            + 0.5) / 4503599627370496.0, doc_id) AS BIGINT)
                  AS shuffle_rank
         FROM documents WHERE doc_id IS NOT NULL"""),

    // source mixing weights (ops.Corpus.sourceMixWeights): α=0.7
    // temperature sampling over the documents sources — n^α terms
    // decimal-cast before the normalizing sum
    Gate("q_source_mix", { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      graft.ops.Corpus
        .sourceMixWeights(docs, "source", alpha = 0.7)
        .select(
          col("source"), col("n_docs"),
          round(col("weight"), 6).as("weight"),
          round(col("share"), 6).as("share"),
          round(col("boost"), 6).as("boost"))
    },
      // source mix: identical counts, pow terms decimal-cast before the
      // sum, identical division shapes
      """WITH c AS (SELECT coalesce(CAST(source AS VARCHAR), '<null>')
                      AS source, count(*) AS n_docs
                    FROM documents GROUP BY 1),
              t AS (SELECT sum(n_docs) AS n,
                      sum(CAST(pow(CAST(n_docs AS DOUBLE), 0.7)
                          AS DECIMAL(28, 12))) AS pt
                    FROM c)
         SELECT source, n_docs,
                round(pow(CAST(n_docs AS DOUBLE), 0.7)
                      / CAST(pt AS DOUBLE), 6) AS weight,
                round(CAST(n_docs AS DOUBLE) / CAST(n AS DOUBLE), 6) AS share,
                round((pow(CAST(n_docs AS DOUBLE), 0.7) / CAST(pt AS DOUBLE))
                      / (CAST(n_docs AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                  AS boost
         FROM c, t"""),

    // per-domain document cap (ops.Corpus.capPerGroup): at most 5 docs per
    // source, highest n_chars first, doc_id tie-break — the salted
    // two-phase exact top-k vs DuckDB's single-window spelling
    Gate("q_domain_cap", { (s, dir) =>
      graft.ops.Corpus
        .capPerGroup(
          s.read.parquet(pq(dir, "documents")),
          "source", "n_chars", "doc_id", cap = 5)
        .select(col("doc_id"), col("source"), col("n_chars"), col("keep_rank"))
    },
      // per-domain cap: single-window spelling of the salted two-phase plan
      """WITH r AS (SELECT doc_id, source, n_chars,
                      row_number() OVER (PARTITION BY source
                                         ORDER BY n_chars DESC, doc_id ASC)
                        AS keep_rank
                    FROM documents)
         SELECT doc_id, source, n_chars,
                CAST(keep_rank AS BIGINT) AS keep_rank
         FROM r WHERE keep_rank <= 5"""),

    // deterministic train/val/test assignment: split is a pure function of
    // md5(id ":" seed) against integer-lattice hex boundaries — DuckDB
    // recomputes membership bit-for-bit from the same digest
    Gate("q_split_assign", { (s, dir) =>
      graft.ops.Corpus.assignSplits(
        s.read.parquet(pq(dir, "documents")).select(col("doc_id")),
        "doc_id",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
    }, {
      val bounds = graft.ops.Corpus.splitBoundsHex(
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      s"""SELECT doc_id,
                 CASE WHEN md5(doc_id || ':graft') < '${bounds(0)}' THEN 'train'
                      WHEN md5(doc_id || ':graft') < '${bounds(1)}' THEN 'val'
                      ELSE 'test' END AS split
          FROM documents"""
    }),

    // deterministic stratified sample: k smallest md5(id:seed) per stratum
    // via the salted two-phase top-k (no per-stratum reducer funnel)
    Gate("q_stratified_sample", { (s, dir) =>
      graft.ops.Corpus.stratifiedSample(
        s.read.parquet(pq(dir, "documents"))
          .select(col("doc_id"), (col("doc_id") % 7).as("stratum")),
        "stratum", "doc_id", k = 3)
        .select(col("doc_id"), col("stratum"), col("sample_rank"))
    },
      """WITH s AS (SELECT doc_id, doc_id % 7 AS stratum,
                           md5(doc_id || ':graft:sample') AS u FROM documents),
             r AS (SELECT doc_id, stratum,
                     CAST(row_number() OVER (PARTITION BY stratum
                            ORDER BY u, doc_id) AS INT) AS sample_rank FROM s)
         SELECT doc_id, stratum, sample_rank FROM r WHERE sample_rank <= 3"""),

    // deterministic weighted training mix: per-source hash-rate membership,
    // rate boundaries as hex literals (no float compare)
    Gate("q_weighted_mix", { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      graft.ops.Corpus.weightedMix(
        Seq(
          // documents already has a 'source' column; tag as mix_source
          ("head", docs.where(col("doc_id") % 2 === 0), 0.5),
          ("tail", docs.where(col("doc_id") % 2 === 1), 0.25)),
        "doc_id", tagCol = "mix_source")
        .select(col("mix_source"), col("doc_id"))
    }, {
      val h = graft.ops.Corpus.rateBoundHex(0.5)
      val t = graft.ops.Corpus.rateBoundHex(0.25)
      s"""SELECT 'head' AS mix_source, doc_id FROM documents
          WHERE doc_id % 2 = 0 AND md5(doc_id || ':graft:head') < '$h'
          UNION ALL
          SELECT 'tail' AS mix_source, doc_id FROM documents
          WHERE doc_id % 2 = 1 AND md5(doc_id || ':graft:tail') < '$t'"""
    }),

    // GPT-style sequence packing: concat docs in deterministic md5 order
    // within hash buckets, cut every 2048 tokens; each doc gets the pack
    // window its first token falls in
    Gate("q_pack_sequences", { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
        .where(col("text").isNotNull)
        .select(
          col("doc_id"),
          graft.ops.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.ops.Corpus
        .packSequences(docs, "doc_id", "n_tokens", capacity = 2048, nBuckets = 16)
        .select(
          col("doc_id"), col("pack_bucket"), col("pack_id"), col("pack_offset"))
    },
      s"""WITH d AS (SELECT doc_id,
                            len(string_split($normSql, ' '))::BIGINT AS n_tokens,
                            md5(doc_id || ':graft:pack') AS u
                     FROM documents WHERE text IS NOT NULL),
             b AS (SELECT doc_id, n_tokens, u,
                          ('0x' || substring(u, 1, 8))::BIGINT % 16 AS pack_bucket
                   FROM d),
             o AS (SELECT doc_id, pack_bucket,
                          sum(n_tokens) OVER (PARTITION BY pack_bucket
                              ORDER BY u, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                            - n_tokens AS pack_offset
                   FROM b)
         SELECT doc_id, pack_bucket,
                CAST(pack_offset // 2048 AS BIGINT) AS pack_id,
                CAST(pack_offset AS BIGINT) AS pack_offset
         FROM o""")
  )

  /** Shared DSIR oracle chain: empty-filtered normalized tokens, unigram +
    * bigram features, md5 buckets mod 512, smoothed log-ratio spine, exact
    * decimal per-doc weights (target = doc_id % 7 == 0, raw = all docs).
    */
  private def dsirChainSql: String =
    s"""d AS (SELECT doc_id, list_filter(string_split($normSql, ' '),
                                         t -> t <> '') AS toks
              FROM documents WHERE text IS NOT NULL),
        uni AS (SELECT doc_id, unnest(toks) AS g FROM d),
        bi AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS g
               FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                     FROM d WHERE len(toks) > 1)),
        feats AS (SELECT doc_id, g FROM uni UNION ALL SELECT doc_id, g FROM bi),
        fb AS (SELECT doc_id,
                 ('0x' || substring(md5(g), 1, 15))::BIGINT % 512 AS b FROM feats),
        tgt AS (SELECT b, count(*) AS ct FROM fb WHERE doc_id % 7 = 0 GROUP BY 1),
        rw AS (SELECT b, count(*) AS cr FROM fb GROUP BY 1),
        nt AS (SELECT CAST(sum(ct) AS DOUBLE) AS n FROM tgt),
        nr AS (SELECT CAST(sum(cr) AS DOUBLE) AS n FROM rw),
        lr AS (SELECT sp.b,
                 CAST(ln(((coalesce(ct, 0) + 0.5) / (nt.n + 256.0)) /
                         ((coalesce(cr, 0) + 0.5) / (nr.n + 256.0)))
                      AS DECIMAL(20,12)) AS lr
               FROM (SELECT unnest(range(0, 512)) AS b) sp
               LEFT JOIN tgt ON sp.b = tgt.b
               LEFT JOIN rw ON sp.b = rw.b
               CROSS JOIN nt CROSS JOIN nr),
        db AS (SELECT doc_id, b, count(*) AS cnt FROM fb GROUP BY 1, 2),
        w AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_features,
                     CAST(sum(CAST(cnt AS DECIMAL(17,0)) * lr) AS DECIMAL(38,12)) AS logw_raw
              FROM db JOIN lr USING (b) GROUP BY doc_id)"""
}
