package graft.gates

import org.apache.spark.sql.functions._

import graft.gates.Common._

/** Oracle gates for deduplication and persisted dedup indexes. */
private[graft] object DedupGates {

  def gates: Seq[Gate] = Seq(
    // exact-duplicate groups on a normalized 20-char prefix key
    Gate("q_dedup_exact", { (s, dir) =>
      s.read.parquet(pq(dir, "documents"))
        .select(substring(col("text"), 1, 20).as("k"), col("doc_id"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
        .where(col("n_docs") > 1)
    },
      """SELECT substring(text, 1, 20) AS k, count(*) AS n_docs, min(doc_id) AS keep_id
         FROM documents GROUP BY 1 HAVING count(*) > 1"""),

    // C4-style paragraph dedup: the corpus has no newlines, so the query
    // synthesizes paragraph structure with a deterministic LITERAL replace
    // (' table ' -> newline boundary; left-to-right non-overlapping scan,
    // identical in both engines), then drops every repeated paragraph
    // beyond its first (doc_id, position) occurrence and reassembles
    Gate("q_paragraph_dedup", { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
        .withColumn(
          "text",
          expr("replace(text, ' table ', concat(chr(10), 'table '))"))
      graft.ops.Dedup
        .dedupParagraphs(docs, "text", "doc_id")
        .select(col("doc_id"), col("text"))
    },
      // paragraph dedup: same synthetic newline injection, first-occurrence
      // by (doc_id, position), reassembly via ordered string_agg
      """WITH base AS (SELECT doc_id,
                  replace(text, ' table ', chr(10) || 'table ') AS t
                FROM documents WHERE text IS NOT NULL),
            p AS (SELECT doc_id,
                    unnest(string_split(t, chr(10))) AS para,
                    unnest(range(1, len(string_split(t, chr(10))) + 1)) AS pos
                  FROM base),
            keyed AS (SELECT doc_id, pos, para, md5(para) AS fp,
                        length(para) >= 1 AS ded FROM p),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY fp
                         ORDER BY doc_id, pos) AS rn FROM keyed)
         SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text
         FROM ranked WHERE NOT ded OR rn = 1
         GROUP BY doc_id"""),

    // exact-substring span dedup (window-fingerprint flavor): per-doc
    // duplicated-token coverage from non-first occurrences of 8-token
    // windows, span union via per-doc sweep
    Gate("q_span_dedup", { (s, dir) =>
      graft.ops.Dedup
        .duplicatedSpans(
          s.read.parquet(pq(dir, "documents")), "text", "doc_id",
          windowTokens = 8)
        .select(col("doc_id"), col("n_tokens"), col("dup_tokens"), col("dup_frac"))
    },
      // exact-substring span dedup: 8-token window fingerprints,
      // first-occurrence by (doc_id, pos), per-doc interval-union sweep over
      // flagged starts. Parallel unnest keeps (pos, fp) aligned, as in the
      // paragraph-dedup oracle.
      s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS toks
                  FROM documents WHERE text IS NOT NULL),
             t AS (SELECT doc_id, toks, len(toks)::BIGINT AS n FROM d),
             w0 AS (SELECT doc_id,
                      list_transform(range(1, n - 6),
                        i -> md5(array_to_string(list_slice(toks, i, i + 7), ' '))) AS fps
                    FROM t WHERE n >= 8),
             w AS (SELECT doc_id, unnest(fps) AS fp,
                     unnest(range(1, len(fps) + 1)) AS pos FROM w0),
             ranked AS (SELECT doc_id, pos, fp,
                          row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn
                        FROM w),
             flagged AS (SELECT doc_id, pos FROM ranked WHERE rn > 1),
             sweep AS (SELECT doc_id, pos,
                         max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
                       FROM flagged),
             cov AS (SELECT doc_id,
                       sum(greatest(0, pos + 8 - greatest(pos, coalesce(pe, pos)))) AS dup
                     FROM sweep GROUP BY doc_id)
         SELECT t.doc_id, t.n AS n_tokens,
                coalesce(cov.dup, 0)::BIGINT AS dup_tokens,
                round(coalesce(cov.dup, 0)::DOUBLE / greatest(t.n, 1), 6) AS dup_frac
         FROM t LEFT JOIN cov ON t.doc_id = cov.doc_id"""),

    // exact-substring span REMOVAL: same flags as q_span_dedup, covered
    // tokens excised, survivors reassembled in order (normalized stream)
    Gate("q_span_removal", { (s, dir) =>
      graft.ops.Dedup
        .removeDuplicatedSpans(
          s.read.parquet(pq(dir, "documents")), "text", "doc_id",
          windowTokens = 8)
        .select(col("doc_id"), col("text"))
    },
      // span removal: same flagged starts; a token survives iff the latest
      // flag start at-or-before it is more than window-1 tokens back
      s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS toks
                  FROM documents WHERE text IS NOT NULL),
             t AS (SELECT doc_id, toks, len(toks)::BIGINT AS n FROM d),
             w0 AS (SELECT doc_id,
                      list_transform(range(1, n - 6),
                        i -> md5(array_to_string(list_slice(toks, i, i + 7), ' '))) AS fps
                    FROM t WHERE n >= 8),
             w AS (SELECT doc_id, unnest(fps) AS fp,
                     unnest(range(1, len(fps) + 1)) AS pos FROM w0),
             ranked AS (SELECT doc_id, pos, fp,
                          row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn
                        FROM w),
             flagged AS (SELECT doc_id, pos FROM ranked WHERE rn > 1),
             tok AS (SELECT doc_id, unnest(toks) AS tok,
                       unnest(range(1, len(toks) + 1)) AS pos FROM d),
             marked AS (SELECT tk.doc_id, tk.pos, tk.tok,
                          max(CASE WHEN f.pos IS NOT NULL THEN tk.pos END)
                            OVER (PARTITION BY tk.doc_id ORDER BY tk.pos
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lastf
                        FROM tok tk LEFT JOIN flagged f
                          ON tk.doc_id = f.doc_id AND tk.pos = f.pos)
         SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
         FROM marked
         WHERE lastf IS NULL OR pos > lastf + 7
         GROUP BY doc_id"""),

    // cross-corpus near-dup containment: even-id docs as "train", odd-id
    // docs as "eval" — pairs across the split only. Same recall posture as
    // q_minhash_dedup (64 hashes / 16 bands ≈ brute force on this corpus),
    // so the exact cross inverted-index Jaccard is the oracle.
    Gate("q_cross_neardup", { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      graft.ops.Dedup.crossNearDups(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1),
        "text", "doc_id", threshold = 0.6)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
    },
      jaccardSqlWith("a.doc_id % 2 = 0 AND b.doc_id % 2 = 1")),

    // incremental dedup against a PERSISTED corpus index: the odd half is
    // the already-ingested corpus (fingerprinted once into a DedupIndex —
    // bucketed signature/bucket/size tables on disk), the even half is the
    // arriving shard. Output is bit-identical to the batch
    // crossNearDups(even, odd) recompute (DedupIndexSpec pins it), so the
    // same exact-Jaccard oracle serves both. The index is keyed by the
    // data dir + corpus file bytes and REUSED when present — the
    // operational contract at 100 TB: build once, dedup every subsequent
    // shard against it without re-fingerprinting the corpus.
    Gate("q_incremental_dedup", { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      val path = cachedIndexPath(dir, "documents", "dedup_index") { p =>
        graft.sources.DedupIndex.build(
          docs.where(col("doc_id") % 2 === 1), "text", "doc_id", p)
      }
      graft.sources.DedupIndex
        .incrementalNearDups(
          docs.where(col("doc_id") % 2 === 0), "text", path, threshold = 0.6)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
    },
      // the incremental path must reproduce the batch cross recompute, so it
      // answers to the SAME exact cross-Jaccard oracle
      jaccardSqlWith("a.doc_id % 2 = 0 AND b.doc_id % 2 = 1")),

    // the append→compact index lifecycle under the gate: corpus index
    // built from the %3==1 third, the %3==2 third APPENDED (one more
    // file-set layered per bucketed table), then COMPACTED back to one
    // file-set per bucket — the shuffle-free rewrite must leave the
    // incremental answer bit-identical to the batch crossNearDups
    // recompute of shard (%3==0) vs corpus (the other two thirds), which
    // the exact cross-Jaccard oracle checks end to end.
    Gate("q_compacted_dedup", { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      val path = cachedIndexPath(dir, "documents", "dedup_compact_index") { p =>
        graft.sources.DedupIndex.build(
          docs.where(col("doc_id") % 3 === 1), "text", "doc_id", p)
        graft.sources.DedupIndex.append(
          docs.where(col("doc_id") % 3 === 2), "text", p): Unit
        graft.sources.DedupIndex.compact(s, p): Unit
      }
      graft.sources.DedupIndex
        .incrementalNearDups(
          docs.where(col("doc_id") % 3 === 0), "text", path, threshold = 0.6)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
    },
      // build+append+compact must be invisible to results: the same exact
      // cross-Jaccard ground truth, thirds split (shard = %3==0, corpus =
      // the appended-then-compacted other two thirds)
      jaccardSqlWith("a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0")),

    // the REBUILD (re-band) half of the dedup-index lifecycle (r12 verdict
    // task 4's generation scheme, oracle-gated): build → append → rebuild
    // to 32 bands (rows-per-band 2 — a superset of the 16-band discovery,
    // so the exact-jaccard verify still reproduces the full pair set) →
    // dedup a shard against the re-banded generation. The cap is lifted
    // for the gate (maxBucketSize high) so banding recall is the only
    // discovery variable and the all-pairs oracle stays exact.
    Gate("q_rebanded_dedup", { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      val path = cachedIndexPath(dir, "documents", "dedup_reband_index") { p =>
        graft.sources.DedupIndex.build(
          docs.where(col("doc_id") % 3 === 1), "text", "doc_id", p)
        graft.sources.DedupIndex.append(
          docs.where(col("doc_id") % 3 === 2), "text", p): Unit
        graft.sources.DedupIndex.rebuild(s, p, bands = 32): Unit
      }
      graft.sources.DedupIndex
        .incrementalNearDups(
          docs.where(col("doc_id") % 3 === 0), "text", path,
          threshold = 0.6, maxBucketSize = 1000000)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
    },
      // re-banded discovery is a SUPERSET of the build banding's and the cap
      // is lifted in the gate, so the exact-jaccard verify reproduces the
      // full pair set — same oracle as the compacted flavor
      jaccardSqlWith("a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0")),

    // n-gram Jaccard near-dup pairs (exact, inverted-index join)
    Gate("q_ngram_jaccard", { (s, dir) =>
      graft.ops.Dedup
        .ngramJaccardPairs(
          s.read.parquet(pq(dir, "documents")), "text", "doc_id",
          shingleK = 5, threshold = 0.6)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
    },
      jaccardSql),

    // near-dup clusters: connected components over the exact-Jaccard pair
    // set (min id per component); oracled by a DuckDB recursive-CTE closure
    // over the same pairs
    Gate("q_dedup_clusters", { (s, dir) =>
      val pairs = graft.ops.Dedup.ngramJaccardPairs(
        s.read.parquet(pq(dir, "documents")), "text", "doc_id",
        shingleK = 5, threshold = 0.6)
      graft.ops.Dedup
        .connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("cluster_id").cast("bigint").as("cluster_id"))
    },
      s"""$closureSql
         SELECT id AS doc_id, least(id, min(r)) AS cluster_id
         FROM reach GROUP BY id"""),

    // survivorship: canonical doc per near-dup cluster — argmax text
    // length, ties to smallest id, via the associative min(struct) argmax
    // (no per-cluster window); oracled by the CC closure + a DuckDB window
    Gate("q_cluster_reps", { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      val pairs = graft.ops.Dedup.ngramJaccardPairs(
        docs, "text", "doc_id", shingleK = 5, threshold = 0.6)
      val clusters = graft.ops.Dedup.connectedComponents(pairs)
        .select(
          col("id").as("doc_id"),
          col("cluster_id").cast("bigint").as("cluster_id"))
      val members = clusters.join(
        docs.select(
          col("doc_id"), length(col("text")).cast("bigint").as("pref")),
        Seq("doc_id"))
      graft.ops.Dedup
        .clusterRepresentatives(members, "doc_id", "cluster_id", "pref")
        .select(
          col("cluster_id"), col("rep_id"), col("n_members"),
          col("rep_pref").cast("bigint").as("rep_pref"))
    },
      s"""$closureSql,
              cl AS (SELECT id AS doc_id, least(id, min(r)) AS cluster_id
                     FROM reach GROUP BY id),
              m AS (SELECT cl.cluster_id, cl.doc_id,
                      CAST(length(d.text) AS BIGINT) AS pref
                    FROM cl JOIN documents d USING (doc_id)),
              r AS (SELECT cluster_id, doc_id, pref,
                      row_number() OVER (PARTITION BY cluster_id
                                         ORDER BY pref DESC, doc_id ASC) AS rn,
                      count(*) OVER (PARTITION BY cluster_id) AS n_members
                    FROM m)
         SELECT cluster_id, doc_id AS rep_id, n_members, pref AS rep_pref
         FROM r WHERE rn = 1"""),

    // MinHash+LSH near-dups, verified by exact Jaccard — with 64 hashes /
    // 16 bands recall at j>=0.9 is ~1, so the output equals brute force on
    // this corpus and shares its oracle.
    Gate("q_minhash_dedup", { (s, dir) =>
      graft.ops.Dedup
        .minhashNearDups(
          s.read.parquet(pq(dir, "documents")), "text", "doc_id",
          shingleK = 5, numHashes = 64, bands = 16, threshold = 0.6)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
    },
      jaccardSql),

    // SimHash near-dup pairs (production xxhash64 sketch — no SQL oracle;
    // rows-only check; the pipeline LOGIC is oracle-verified by
    // q_simhash_md5 below)
    Gate("q_simhash_pairs", { (s, dir) =>
      graft.ops.Dedup.simhashNearDups(
          s.read.parquet(pq(dir, "documents")), "text", "doc_id", maxHamming = 10)
        .select(col("id1"), col("id2"), col("hamming").cast("bigint").as("hamming"))
    },
      simhashXxhOracleSql),

    // SimHash banding/bucketing/Hamming pipeline with an md5-derived token
    // hash BOTH engines can compute — full DuckDB oracle for the pipeline
    // logic (the production path differs only in the token hash function)
    Gate("q_simhash_md5", { (s, dir) =>
      val hashes = transform(
        graft.ops.TextAnalysis.tokens(col("text")),
        tok => conv(substring(md5(tok.cast("binary")), 1, 15), 16, 10).cast("long"))
      val sketched = s.read.parquet(pq(dir, "documents"))
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.SimHash64.simhash64(hashes).as("simhash"))
      graft.ops.Dedup
        .simhashPairsFromSketch(sketched, "doc_id", maxHamming = 10)
        .select(col("id1"), col("id2"), col("hamming").cast("bigint").as("hamming"))
    },
      simhashMd5OracleSql),

    // winnowing fingerprints (Schleimer et al. 2003): the exploded
    // per-document fingerprint set of every third document — full XXH64
    // oracle re-derives the window-min chain declaratively
    Gate("q_winnow_fp", { (s, dir) =>
      s.read.parquet(pq(dir, "documents"))
        .where(col("doc_id") % 3 === 0 && col("text").isNotNull)
        .select(col("doc_id"),
          explode(graft.ops.TextAnalysis.winnowFingerprints(col("text"), 8, 4))
            .as("fp"))
    },
      s"""WITH RECURSIVE
            ${winnowFpSqlWith("doc_id % 3 = 0")}
         SELECT doc_id, fp FROM fps"""),

    // cross-corpus substring contamination: parity-split corpus/eval,
    // per-document winnowing-fingerprint containment — the verbatim-leak
    // detector (any shared >= 11-char normalized substring is detected)
    Gate("q_winnow_overlap", { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      graft.ops.Dedup
        .winnowContamination(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1),
          "text", "doc_id", k = 8, w = 4, minContainment = 0.5)
        .select(col("doc_id"), col("n_fp"), col("n_matched"),
          round(col("containment"), 6).as("containment"), col("flagged"))
    },
      s"""WITH RECURSIVE
            ${winnowFpSqlWith("TRUE")},
            ev AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 2 = 1),
            corp AS (SELECT doc_id, fp FROM fps WHERE doc_id % 2 = 0),
            agg AS (SELECT c.doc_id, count(*) AS n_fp, count(e.fp) AS n_matched
                    FROM corp c LEFT JOIN ev e ON c.fp = e.fp GROUP BY 1)
         SELECT doc_id, n_fp::BIGINT AS n_fp, n_matched::BIGINT AS n_matched,
                round(n_matched::DOUBLE / n_fp, 6) AS containment,
                (n_matched::DOUBLE / n_fp) >= 0.5 AS flagged
         FROM agg"""),

    // eval-set decontamination: corpus docs sharing >= 1 normalized word
    // 5-gram with the (broadcast) eval set; raw-gram join so the SQL oracle
    // replicates the keys (production default hashes them to 8 bytes)
    Gate("q_decontaminate", { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      graft.ops.Corpus.decontaminate(
        docs.where(col("doc_id") % 37 =!= 0),
        docs.where(col("doc_id") % 37 === 0),
        "text", "doc_id", n = 5, hashKeys = false)
    },
      // decontamination: distinct word 5-grams, eval set = doc_id % 37 = 0
      s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS t
                     FROM documents WHERE text IS NOT NULL),
             g AS (SELECT doc_id,
                     unnest(list_distinct(list_filter(
                       list_transform(range(0, greatest(len(t)-5, 0)+1),
                                      i -> array_to_string(t[i+1:i+5], ' ')),
                       g -> len(string_split(g, ' ')) = 5))) AS gram
                   FROM d),
             ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 37 = 0)
         SELECT g.doc_id, count(*) AS n_shared
         FROM g JOIN ev USING (gram)
         WHERE g.doc_id % 37 <> 0
         GROUP BY g.doc_id"""),

    // fuzzy title join: SymSpell deletion-neighborhood candidates + exact
    // levenshtein verify on synthesized titles (odd ids carry one typo);
    // the oracle IS the brute-force all-pairs edit-distance join
    Gate("q_fuzzy_pairs", { (s, dir) =>
      val base = s.read.parquet(pq(dir, "documents"))
        .select(col("doc_id"),
          concat(col("source"), lit("-"), col("doc_id") % 40).as("t0"))
      val titles = base.withColumn(
        "title",
        when(col("doc_id") % 2 === 1,
          concat(substring(col("t0"), 1, 3), lit("x"),
            col("t0").substr(lit(4), length(col("t0")))))
          .otherwise(col("t0")))
        .select(col("doc_id"), col("title"))
      graft.ops.Dedup
        .fuzzyPairsLevenshtein(titles, "title", "doc_id", maxDist = 1)
    },
      """WITH t AS (SELECT doc_id,
                      source || '-' || (doc_id % 40)::VARCHAR AS t0
                    FROM documents),
             titles AS (SELECT doc_id,
                          CASE WHEN doc_id % 2 = 1
                               THEN substring(t0, 1, 3) || 'x' || substring(t0, 4)
                               ELSE t0 END AS title
                        FROM t)
         SELECT a.doc_id AS id1, b.doc_id AS id2,
                levenshtein(a.title, b.title)::BIGINT AS dist
         FROM titles a JOIN titles b ON a.doc_id < b.doc_id
         WHERE levenshtein(a.title, b.title) <= 1"""),

    // n-gram novelty: fraction of a doc's DISTINCT 8-token window
    // fingerprints found in no other document — the "new text" score;
    // short docs (< 8 tokens) report n_fp = 0, novelty NULL
    Gate("q_novelty", { (s, dir) =>
      graft.ops.Dedup.ngramNovelty(
        s.read.parquet(pq(dir, "documents")), "text", "doc_id",
        windowTokens = 8)
    },
      // n-gram novelty: distinct 8-token window fps per doc, document
      // frequency over the distinct sets, novel = df == 1
      s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS toks
                  FROM documents WHERE text IS NOT NULL),
             t AS (SELECT doc_id, toks, len(toks)::BIGINT AS n FROM d),
             w0 AS (SELECT doc_id,
                      list_distinct(list_transform(range(1, n - 6),
                        i -> md5(array_to_string(list_slice(toks, i, i + 7), ' ')))) AS fps
                    FROM t WHERE n >= 8),
             w AS (SELECT doc_id, unnest(fps) AS fp FROM w0),
             dfreq AS (SELECT fp, count(*) AS nd FROM w GROUP BY 1),
             per AS (SELECT w.doc_id, count(*)::BIGINT AS n_fp,
                       sum(CASE WHEN nd = 1 THEN 1 ELSE 0 END)::BIGINT AS n_novel
                     FROM w JOIN dfreq USING (fp) GROUP BY 1)
         SELECT t.doc_id, coalesce(per.n_fp, 0)::BIGINT AS n_fp,
                coalesce(per.n_novel, 0)::BIGINT AS n_novel,
                round(per.n_novel::DOUBLE / nullif(per.n_fp, 0), 6) AS novelty
         FROM t LEFT JOIN per USING (doc_id)"""),

    // near-dup leakage across splits: val/test docs whose CC near-dup
    // cluster also holds a train doc — the contamination exact
    // decontamination misses; composes the q_dedup_clusters closure with
    // the q_split_assign lattice assignment
    Gate("q_split_leakage", { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      val clusters = graft.ops.Dedup
        .connectedComponents(graft.ops.Dedup.ngramJaccardPairs(
          docs, "text", "doc_id", shingleK = 5, threshold = 0.6))
        .select(col("id").as("doc_id"), col("cluster_id").cast("bigint").as("cluster_id"))
      val splits = graft.ops.Corpus.assignSplits(
        docs.select(col("doc_id")), "doc_id",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      graft.ops.Corpus
        .splitLeakage(clusters, "doc_id", "cluster_id", splits, "split")
    }, {
      val bounds = graft.ops.Corpus.splitBoundsHex(
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      s"""$closureSql,
              cl AS (SELECT id AS doc_id, least(id, min(r)) AS cluster_id
                     FROM reach GROUP BY id),
              sp AS (SELECT doc_id,
                       CASE WHEN md5(doc_id || ':graft') < '${bounds(0)}' THEN 'train'
                            WHEN md5(doc_id || ':graft') < '${bounds(1)}' THEN 'val'
                            ELSE 'test' END AS split
                     FROM documents),
              m AS (SELECT cl.doc_id, cl.cluster_id, sp.split
                    FROM cl JOIN sp USING (doc_id)),
              agg AS (SELECT cluster_id,
                        sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)::BIGINT AS n_train,
                        count(*)::BIGINT AS n_docs
                      FROM m GROUP BY 1)
         SELECT m.doc_id, m.cluster_id, m.split, a.n_train, a.n_docs
         FROM m JOIN agg a USING (cluster_id)
         WHERE m.split <> 'train' AND a.n_train > 0"""
    })
  )

  /** Exact inverted-index 5-gram Jaccard over `documents`, parameterized by
    * the pair predicate: within-corpus (`a.doc_id < b.doc_id`) serves
    * `q_ngram_jaccard` / `q_minhash_dedup` / the clustering CTE; the
    * parity-split cross predicate serves `q_cross_neardup` — one CTE chain,
    * no desynchronizable copies.
    */
  private def jaccardSqlWith(pairCond: String): String =
    s"""WITH d AS (SELECT doc_id, $normSql AS t FROM documents),
            sh AS (SELECT doc_id,
                     list_distinct(list_filter(
                       list_transform(range(0, greatest(length(t)-5, 0)+1),
                                      i -> substring(t, i+1, 5)),
                       s -> length(s) = 5)) AS shingles FROM d),
            sh2 AS (SELECT * FROM sh WHERE len(shingles) > 0),
            sizes AS (SELECT doc_id, len(shingles) AS n FROM sh2),
            inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh2),
            common AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
                       FROM inv a JOIN inv b ON a.s = b.s AND $pairCond
                       GROUP BY 1, 2)
       SELECT id1, id2, round(c::DOUBLE / (s1.n + s2.n - c), 6) AS jaccard
       FROM common JOIN sizes s1 ON id1 = s1.doc_id JOIN sizes s2 ON id2 = s2.doc_id
       WHERE c::DOUBLE / (s1.n + s2.n - c) >= 0.6"""

  private val jaccardSql = jaccardSqlWith("a.doc_id < b.doc_id")

  /** The banding / bucket-cap / Hamming-verify tail shared by both SimHash
    * oracles, over a CTE `sk`(doc_id, simhash).
    */
  private val simhashPairsTailSql: String =
    s"""chunked AS (SELECT doc_id, simhash, c.chunk,
                          (simhash >> (c.chunk * 16)) & 65535 AS value
                        FROM sk, (SELECT unnest([0,1,2,3]) AS chunk) c),
            sizes AS (SELECT chunk, value, count(*) AS n FROM chunked GROUP BY 1, 2),
            pairs AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
                        bit_count(xor(a.simhash, b.simhash)) AS hamming
                      FROM chunked a
                      JOIN chunked b ON a.chunk = b.chunk AND a.value = b.value
                        AND a.doc_id < b.doc_id
                      JOIN sizes s ON s.chunk = a.chunk AND s.value = a.value
                        AND s.n BETWEEN 2 AND 1000)
       SELECT id1, id2, hamming::BIGINT AS hamming FROM pairs WHERE hamming <= 10"""

  /** 64 per-bit vote aggregates over token-hash column `hcol`; bit 63's
    * mask is spelled as a subtraction because DuckDB rejects `1 << 63` as
    * an overflow.
    */
  private def simhashVotesSql(hcol: String): String = {
    def bitMask(b: Int): String =
      if (b == 63) "(-9223372036854775807 - 1)" else s"(1::BIGINT << $b)"
    (0 until 64).map { b =>
      s"CASE WHEN sum(CASE WHEN ($hcol >> $b) & 1 = 1 THEN 1 ELSE -1 END) > 0 " +
        s"THEN ${bitMask(b)} ELSE 0::BIGINT END"
    }.mkString("\n                 + ")
  }

  /** Single-statement DuckDB spelling of Spark's `xxhash64` (XXH64, seed
    * 42) over ASCII tokens — the full public algorithm (Y. Collet's spec):
    * 32-byte stripe accumulators, merge rounds, 8/4/1-byte tails, final
    * avalanche. Data-dependent loops become recursive CTEs; every value is
    * a HUGEINT kept in [0, 2^64) with the wrapping 64×64 multiply split
    * into 32-bit halves (a full product would overflow the signed 128-bit
    * HUGEINT). Emits CTE `hashed`(doc_id, p, hv) with hv the SIGNED 64-bit
    * value Spark reports. Needs `WITH RECURSIVE` and a `tokens` CTE
    * providing (doc_id, p, t, n = length(t)).
    */
  private object XxhSql {
    private val T  = "18446744073709551616" // 2^64
    private val P1 = "11400714785074694791"
    private val P2 = "14029467366897019727"
    private val P3 = "1609587929392839161"
    private val P4 = "9650029242287828579"
    private val P5 = "2870177450012600261"
    private val Seed = 42L

    private def mult(a: String, b: String): String =
      s"(((($a) * (($b) % 4294967296)) % $T" +
        s" + (((($a) * (($b) // 4294967296)) % 4294967296) * 4294967296)) % $T)"

    private def rotl(x: String, r: Int): String =
      s"(((($x) * ${1L << r}) % $T) + (($x) // ${BigInt(1) << (64 - r)}))"

    private def word(t: String, pos: String, bytes: Int): String =
      (0 until bytes).map { j =>
        s"ord(substr($t, ($pos) + $j, 1))::HUGEINT * ${1L << (8 * j)}"
      }.mkString("(", " + ", ")")

    // stripe round: v' = rotl(v + w*P2, 31) * P1
    private def vStep(v: String, w: String): String =
      mult(rotl(s"(($v + ${mult(w, P2)}) % $T)", 31), P1)

    // merge round: h = (h XOR rotl(v*P2,31)*P1) * P1 + P4
    private def mergeRound(h: String, v: String): String =
      s"((${mult(s"xor($h, ${mult(rotl(mult(v, P2), 31), P1)})", P1)} + $P4) % $T)"

    def chain(tokensCte: String): String = {
      val bigP  = BigInt(1) << 64
      val v1i = (BigInt(Seed) + BigInt(P1) + BigInt(P2)).mod(bigP)
      val v2i = (BigInt(Seed) + BigInt(P2)).mod(bigP)
      val v3i = BigInt(Seed)
      val v4i = (BigInt(Seed) - BigInt(P1)).mod(bigP)
      s"""stripes AS (
   SELECT doc_id, p, t, n, 0::BIGINT AS i,
          $v1i::HUGEINT AS v1, $v2i::HUGEINT AS v2,
          $v3i::HUGEINT AS v3, $v4i::HUGEINT AS v4
   FROM $tokensCte WHERE n >= 32
   UNION ALL
   SELECT doc_id, p, t, n, i + 32,
          ${vStep("v1", word("t", "i + 1", 8))},
          ${vStep("v2", word("t", "i + 9", 8))},
          ${vStep("v3", word("t", "i + 17", 8))},
          ${vStep("v4", word("t", "i + 25", 8))}
   FROM stripes WHERE i + 32 <= n),
 merged AS (
   SELECT doc_id, p, t, n, i AS pos,
          ${mergeRound(
             mergeRound(
               mergeRound(
                 mergeRound(
                   s"((${rotl("v1", 1)} + ${rotl("v2", 7)} + ${rotl("v3", 12)} + ${rotl("v4", 18)}) % $T)",
                   "v1"),
                 "v2"),
               "v3"),
             "v4")} AS h
   FROM stripes WHERE i + 32 > n),
 lenadj AS (
   SELECT doc_id, p, t, n, pos, ((h + n) % $T) AS h FROM merged
   UNION ALL
   SELECT doc_id, p, t, n, 0::BIGINT AS pos,
          (($Seed + $P5 + n) % $T) AS h
   FROM $tokensCte WHERE n < 32),
 w8loop AS (
   SELECT doc_id, p, t, n, pos, h FROM lenadj
   UNION ALL
   SELECT doc_id, p, t, n, pos + 8,
          ((${mult(rotl(s"xor(h, ${mult(rotl(mult(word("t", "pos + 1", 8), P2), 31), P1)})", 27), P1)} + $P4) % $T)
   FROM (SELECT doc_id, p, t, n, pos, h FROM w8loop WHERE pos + 8 <= n) z),
 w4done AS (
   SELECT doc_id, p, t, n,
          CASE WHEN pos + 4 <= n THEN pos + 4 ELSE pos END AS pos,
          CASE WHEN pos + 4 <= n
               THEN ((${mult(rotl(s"xor(h, ${mult(word("t", "pos + 1", 4), P1)})", 23), P2)} + $P3) % $T)
               ELSE h END AS h
   FROM w8loop WHERE pos + 8 > n),
 bloop AS (
   SELECT doc_id, p, t, n, pos, h FROM w4done
   UNION ALL
   SELECT doc_id, p, t, n, pos + 1,
          ${mult(rotl(s"xor(h, (${mult("ord(substr(t, pos + 1, 1))::HUGEINT", P5)}))", 11), P1)}
   FROM (SELECT doc_id, p, t, n, pos, h FROM bloop WHERE pos < n) z),
 aval1 AS (SELECT doc_id, p, ${mult("xor(h, h // 8589934592)", P2)} AS h
           FROM bloop WHERE pos >= n),
 aval2 AS (SELECT doc_id, p, ${mult("xor(h, h // 536870912)", P3)} AS h FROM aval1),
 hashed AS (
   SELECT doc_id, p,
          CASE WHEN xor(h, h // 4294967296) >= 9223372036854775808::HUGEINT
               THEN (xor(h, h // 4294967296) - $T)::BIGINT
               ELSE xor(h, h // 4294967296)::BIGINT END AS hv
   FROM aval2)"""
    }
  }

  /** Winnowing-fingerprint CTE chain (emits `fps`(doc_id, fp) — the sorted
    * distinct window-min shingle-hash set of `WinnowHashes`): per-position
    * 8-char shingles, each hashed with the full XXH64 re-derivation
    * (`XxhSql`), then the window minimum over every run of 4 consecutive
    * positions (`min() OVER ... ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING`,
    * valid starts only) with the short-document (< w shingles) global-min
    * degradation — the declarative spelling of the deque kernel, exact
    * because window-min VALUES are tie-rule independent.
    */
  private def winnowFpSqlWith(docFilter: String): String =
    s"""d AS (SELECT doc_id, $normSql AS norm FROM documents
                  WHERE text IS NOT NULL AND ($docFilter)),
            sp AS (SELECT doc_id, norm,
                     unnest(range(1, greatest(length(norm) - 8 + 1, 0) + 1)) AS p
                   FROM d),
            tokn AS (SELECT doc_id, p, substring(norm, p, 8) AS t,
                       length(substring(norm, p, 8))::BIGINT AS n FROM sp),
            ${XxhSql.chain("tokn")},
            mm AS (SELECT doc_id, count(*) AS m FROM hashed GROUP BY 1),
            wmins AS (SELECT h.doc_id, h.p, mm.m,
                        min(hv) OVER (PARTITION BY h.doc_id ORDER BY h.p
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
                      FROM hashed h JOIN mm ON h.doc_id = mm.doc_id),
            sel AS (SELECT doc_id, fp FROM wmins WHERE m >= 4 AND p <= m - 3
                    UNION ALL
                    SELECT h.doc_id, min(hv) AS fp
                    FROM hashed h JOIN mm ON h.doc_id = mm.doc_id
                    WHERE mm.m < 4 GROUP BY h.doc_id),
            fps AS (SELECT DISTINCT doc_id, fp FROM sel)"""

  /** Full-hash DuckDB oracle for the PRODUCTION SimHash path: the token
    * hash is Spark's own xxhash64, re-derived in SQL (`XxhSql`), so
    * `q_simhash_pairs` no longer needs a rows-only concession.
    */
  private def simhashXxhOracleSql: String =
    s"""WITH RECURSIVE
            d AS (SELECT doc_id, $normSql AS norm FROM documents
                  WHERE text IS NOT NULL),
            tok AS (SELECT doc_id,
                      unnest(string_split(norm, ' ')) AS t,
                      unnest(range(1, len(string_split(norm, ' ')) + 1)) AS p
                    FROM d),
            tokn AS (SELECT doc_id, p, t, length(t)::BIGINT AS n FROM tok),
            ${XxhSql.chain("tokn")},
            sk AS (SELECT doc_id, (${simhashVotesSql("hv")}) AS simhash
                   FROM hashed GROUP BY doc_id),
            $simhashPairsTailSql"""

  /** DuckDB oracle for the md5-flavored SimHash pipeline. */
  private def simhashMd5OracleSql: String = {
    val votes = simhashVotesSql("h")
    s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS t
                      FROM documents WHERE text IS NOT NULL),
            hashed AS (SELECT doc_id,
                         ('0x' || substring(md5(t), 1, 15))::BIGINT AS h FROM toks),
            sk AS (SELECT doc_id, ($votes) AS simhash
                   FROM hashed GROUP BY doc_id),
            $simhashPairsTailSql"""
  }

  /** Transitive closure over the exact Jaccard pair set: `reach`(id, r)
    * holds every vertex reachable from `id`.
    */
  private val closureSql: String =
    s"""WITH RECURSIVE pairs AS (SELECT id1, id2 FROM ($jaccardSql)),
              edges AS (SELECT id1 AS a, id2 AS b FROM pairs
                        UNION SELECT id2, id1 FROM pairs),
              reach AS (SELECT a AS id, b AS r FROM edges
                        UNION
                        SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a)"""
}
