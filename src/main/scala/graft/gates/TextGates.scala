package graft.gates

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.gates.Common._

/** Oracle gates for text and corpus cleaning. */
private[graft] object TextGates {

  def gates: Seq[Gate] = Seq(
    // text analysis: token counts + character-ratio quality signals
    Gate("q_text_stats", { (s, dir) =>
      val t = col("text")
      s.read.parquet(pq(dir, "documents")).select(
        col("doc_id"),
        graft.ops.TextAnalysis.tokenCount(t).cast("bigint").as("n_tokens"),
        graft.ops.TextAnalysis.bpeishTokenCount(t).cast("bigint").as("n_bpeish"),
        round(graft.ops.TextAnalysis.punctRatio(t), 6).as("punct_ratio"),
        round(graft.ops.TextAnalysis.stopwordRatio(t), 6).as("stop_ratio"))
    },
      s"""SELECT doc_id,
                 len(string_split($normSql, ' '))::BIGINT AS n_tokens,
                 len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))::BIGINT AS n_bpeish,
                 round((length(text) - length(regexp_replace(text,
                     '[\\.,;:!\\?''"\\(\\)\\[\\]\\{\\}-]', '', 'g')))::DOUBLE
                   / greatest(length(text), 1), 6) AS punct_ratio,
                 round(len(list_filter(string_split($normSql, ' '),
                     t -> list_contains(['the','and','of','to','in','a','is'], t)))::DOUBLE
                   / greatest(len(string_split($normSql, ' ')), 1), 6) AS stop_ratio
          FROM documents"""),

    // PII scan + redaction (emails/URLs/phones): the corpus text is
    // deterministically enriched with known PII on id-derived rows so the
    // counts and the redacted-text hash are non-trivial on both engines
    Gate("q_pii_scan", { (s, dir) =>
      import graft.ops.TextAnalysis._
      val t = concat(
        col("text"),
        when(col("doc_id") % 7 === 0,
          lit(" contact bob@example.com or +1 (555) 123-4567")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          lit(" see https://example.com/data?x=1&y=2")).otherwise(lit("")))
      s.read.parquet(pq(dir, "documents"))
        .where(col("text").isNotNull)
        .select(
          col("doc_id"),
          emailCount(t).cast("bigint").as("n_emails"),
          urlCount(t).cast("bigint").as("n_urls"),
          phoneCount(t).cast("bigint").as("n_phones"),
          md5(redactPii(t).cast("binary")).as("redacted_md5"))
    },
      """WITH t AS (
           SELECT doc_id,
                  text
                    || CASE WHEN doc_id % 7 = 0
                         THEN ' contact bob@example.com or +1 (555) 123-4567' ELSE '' END
                    || CASE WHEN doc_id % 11 = 0
                         THEN ' see https://example.com/data?x=1&y=2' ELSE '' END AS t
           FROM documents WHERE text IS NOT NULL)
         SELECT doc_id,
                CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')) AS BIGINT) AS n_emails,
                CAST(len(regexp_extract_all(t, 'https?://[A-Za-z0-9./?=&_%#:-]+')) AS BIGINT) AS n_urls,
                CAST(len(regexp_extract_all(t, '[+][0-9][0-9() -]{7,}[0-9]')) AS BIGINT) AS n_phones,
                md5(regexp_replace(regexp_replace(regexp_replace(t,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '[EMAIL]', 'g'),
                      'https?://[A-Za-z0-9./?=&_%#:-]+', '[URL]', 'g'),
                      '[+][0-9][0-9() -]{7,}[0-9]', '[PHONE]', 'g')) AS redacted_md5
         FROM t"""),

    // encoding health (ops.Encoding): deterministic non-ASCII suffixes are
    // CORRUPTED in-plan (UTF-8 bytes re-read as Latin-1 via encode/decode —
    // the classic mojibake), profiled, and repaired; the repair must
    // round-trip back to the original exactly. The oracle recomputes mark
    // and control counts with the identical regex over the identical
    // corrupted literals, and pins the repair round-trip as all-green.
    Gate("q_encoding_profile", { (s, dir) =>
      import graft.ops.Encoding
      val suffixes = Seq(
        " café déjà vu",
        " naïve façade",
        " price 20€ – ok",
        " Gefühl größer")
      val original = concat(
        col("text"),
        element_at(
          array(suffixes.map(lit): _*),
          (col("doc_id") % 4 + 1).cast("int")))
      val corrupted = decode(encode(original, "UTF-8"), "ISO-8859-1")
      s.read
        .parquet(pq(dir, "documents"))
        .where(col("text").isNotNull)
        .select(
          col("doc_id"),
          Encoding.mojibakeMarks(corrupted).cast("bigint").as("mojibake_marks"),
          Encoding.controlChars(corrupted).cast("bigint").as("control_chars"),
          (Encoding.fixMojibake(corrupted) === original).cast("string").as("repaired_ok"),
          (Encoding.fixMojibake(corrupted) =!= corrupted).cast("string").as("enc_changed"))
    }, {
      // the corrupted form of each suffix (UTF-8 bytes re-read as
      // Latin-1), embedded as literals so DuckDB re-evaluates the SAME
      // mark/control regexes over the SAME strings the Spark plan builds
      val corrupt = Seq(
        " caf\u00C3\u00A9 d\u00C3\u00A9j\u00C3\u00A0 vu",
        " na\u00C3\u00AFve fa\u00C3\u00A7ade",
        " price 20\u00E2\u0082\u00AC \u00E2\u0080\u0093 ok",
        " Gef\u00C3\u00BChl gr\u00C3\u00B6\u00C3\u009Fer")
      val cases = corrupt.zipWithIndex
        .map { case (c, i) => s"WHEN ${i} THEN '$c'" }
        .mkString(" ")
      s"""WITH c AS (SELECT doc_id,
                       CASE CAST(doc_id % 4 AS INT) $cases END AS suf
                     FROM documents WHERE text IS NOT NULL)
         SELECT doc_id,
                len(regexp_extract_all(text || suf,
                    '${graft.ops.Encoding.MojibakePattern}')) AS mojibake_marks,
                len(regexp_extract_all(text || suf,
                    '${graft.ops.Encoding.ControlPattern}')) AS control_chars,
                'true' AS repaired_ok,
                'true' AS enc_changed
         FROM c JOIN documents USING (doc_id)"""
    }),

    // Unicode NFC normalization (functions.UnicodeNormalize): deterministic
    // DECOMPOSED suffixes (e+U+0301, A+U+030A, o+U+0308) plus an
    // NFC-invariant katakana run and a precomposed é are appended in-plan,
    // normalized, and measured — the codepoint counts shrink exactly where
    // composition happened, and the oracle is DuckDB's native nfc_normalize
    // over the identical construction
    // NFC normalization: DuckDB's native nfc_normalize over the identical
    // decomposed suffix construction (escapes spell the SAME codepoints the
    // Spark literal carries: e+U+0301, A+U+030A, o+U+0308, katakana, U+00E9)
    Gate("q_nfc_normalize", { (s, dir) =>
      // the literal below is DECOMPOSED on purpose: cafe+U+0301,
      // A+U+030A, o+U+0308, then NFC-invariant katakana and a
      // precomposed U+00E9 (already-normalized path)
      val suffix = lit(
        " café Ångström カタ café")
      val raw = concat(substring(col("text"), 1, 40), suffix)
      val normed = graft.ops.TextAnalysis.unicodeNormalize(raw, "NFC")
      s.read
        .parquet(pq(dir, "documents"))
        .where(col("text").isNotNull)
        .select(
          col("doc_id"),
          normed.as("nfc_text"),
          length(raw).cast("bigint").as("raw_chars"),
          length(normed).cast("bigint").as("nfc_chars"))
    }, {
      val suffix = " café Ångström カタ café"
      s"""SELECT doc_id,
                nfc_normalize(substring(text, 1, 40) || '$suffix') AS nfc_text,
                CAST(length(substring(text, 1, 40) || '$suffix') AS BIGINT)
                  AS raw_chars,
                CAST(length(nfc_normalize(substring(text, 1, 40) || '$suffix'))
                  AS BIGINT) AS nfc_chars
         FROM documents WHERE text IS NOT NULL"""
    }),

    // composite quality score
    Gate("q_quality_score", { (s, dir) =>
      s.read.parquet(pq(dir, "documents")).select(
        col("doc_id"),
        round(graft.ops.TextAnalysis.qualityScore(col("text")), 6).as("quality"))
    },
      s"""WITH m AS (SELECT doc_id,
                 $qualitySignalsSql
               FROM documents)
          SELECT doc_id, round(greatest(0.0,
                 least(n_tokens / 100.0, 1.0) * 0.4
                 + least(stop_ratio * 5.0, 1.0) * 0.2
                 + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2
                 + (1.0 - least(digit_ratio * 5.0, 1.0)) * 0.2), 6) AS quality
          FROM m"""),

    // language-ID heuristic (stopword-count argmax)
    Gate("q_langid", { (s, dir) =>
      s.read.parquet(pq(dir, "documents")).select(
        col("doc_id"),
        graft.ops.TextAnalysis.langId(col("text")).as("lang_pred"))
    },
      s"""WITH toks AS (SELECT doc_id, string_split($normSql, ' ') AS t FROM documents),
              sc AS (SELECT doc_id,
                len(list_filter(t, x -> list_contains(['the','and','of','to','in','a','is'], x))) AS en,
                len(list_filter(t, x -> list_contains(['der','die','und','das','ist','ein','nicht'], x))) AS de,
                len(list_filter(t, x -> list_contains(['le','la','et','les','des','est','une'], x))) AS fr,
                len(list_filter(t, x -> list_contains(['el','los','que','y','es','una','para'], x))) AS es,
                len(list_filter(t, x -> list_contains(['de','shi','le','bu','wo','zai','you'], x))) AS zh
               FROM toks)
          SELECT doc_id, CASE
              WHEN greatest(en, de, fr, es, zh) = 0 THEN 'und'
              WHEN en = greatest(en, de, fr, es, zh) THEN 'en'
              WHEN de = greatest(en, de, fr, es, zh) THEN 'de'
              WHEN fr = greatest(en, de, fr, es, zh) THEN 'fr'
              WHEN es = greatest(en, de, fr, es, zh) THEN 'es'
              ELSE 'zh' END AS lang_pred
          FROM sc"""),

    // md5 content fingerprint of the normalized text
    Gate("q_fingerprint", { (s, dir) =>
      s.read.parquet(pq(dir, "documents")).select(
        col("doc_id"),
        graft.ops.TextAnalysis.fingerprintMd5(col("text")).as("fingerprint"))
    },
      s"SELECT doc_id, md5($normSql) AS fingerprint FROM documents"),

    // end-to-end corpus curation: language gate → quality gate → exact
    // dedup, one declarative plan (ops.Pipeline)
    Gate("q_curate_corpus", { (s, dir) =>
      graft.ops.Pipeline
        .curateCorpus(
          s.read.parquet(pq(dir, "documents")), "text", "doc_id",
          minQuality = 0.55, langs = Seq("en"))
        .select(col("doc_id"))
    },
      s"""WITH m AS (SELECT doc_id, $normSql AS norm,
                 $qualitySignalsSql,
                 string_split($normSql, ' ') AS toks
               FROM documents WHERE text IS NOT NULL),
            scored AS (SELECT doc_id, norm,
                 round(greatest(0.0,
                   least(n_tokens / 100.0, 1.0) * 0.4
                   + least(stop_ratio * 5.0, 1.0) * 0.2
                   + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2
                   + (1.0 - least(digit_ratio * 5.0, 1.0)) * 0.2), 6) AS quality,
                 len(list_filter(toks, x -> list_contains(['the','and','of','to','in','a','is'], x))) AS en,
                 len(list_filter(toks, x -> list_contains(['der','die','und','das','ist','ein','nicht'], x))) AS de,
                 len(list_filter(toks, x -> list_contains(['le','la','et','les','des','est','une'], x))) AS fr,
                 len(list_filter(toks, x -> list_contains(['el','los','que','y','es','una','para'], x))) AS es,
                 len(list_filter(toks, x -> list_contains(['de','shi','le','bu','wo','zai','you'], x))) AS zh
               FROM m),
            gated AS (SELECT doc_id, norm FROM scored
               WHERE quality >= 0.55
                 AND greatest(en, de, fr, es, zh) > 0
                 AND en = greatest(en, de, fr, es, zh)),
            keep AS (SELECT md5(norm) AS fp, min(doc_id) AS keep_id
               FROM gated GROUP BY 1)
        SELECT g.doc_id FROM gated g
        JOIN keep ON md5(g.norm) = keep.fp AND g.doc_id = keep.keep_id"""),

    // Gopher document-quality rules (Rae et al. 2021): per-doc signals +
    // composite keep flag, all codegen'd column expressions (one
    // projection, zero shuffle). Integer-exact char totals and dyadic
    // divisions keep every signal bit-identical to the oracle's recompute.
    Gate("q_gopher_filter", { (s, dir) =>
      graft.ops.TextAnalysis
        .gopherRules(s.read.parquet(pq(dir, "documents")), "text", minWords = 40)
        .select(
          col("doc_id"),
          col("n_words"),
          round(col("mean_word_chars"), 6).as("mean_word_chars"),
          round(col("symbol_word_ratio"), 6).as("symbol_word_ratio"),
          round(col("bullet_line_frac"), 6).as("bullet_line_frac"),
          round(col("ellipsis_line_frac"), 6).as("ellipsis_line_frac"),
          round(col("alpha_word_frac"), 6).as("alpha_word_frac"),
          col("stopword_count"),
          col("gopher_keep"))
    },
      // Gopher rules: same signals via DuckDB list/regex functions (replace()
      // is global where Spark's regexp_replace is; '...' counts by length
      // delta over non-overlapping replace — identical semantics)
      """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS words,
                           string_split(text, chr(10)) AS lines
                    FROM documents),
              sig AS (SELECT doc_id,
                        CAST(len(words) AS BIGINT) AS n_words,
                        greatest(len(words), 1) AS nw,
                        greatest(len(lines), 1) AS nl,
                        CAST(list_sum(list_transform(words, x -> length(x)))
                             AS BIGINT) AS chars,
                        length(text) - length(replace(text, '#', '')) AS n_hash,
                        (length(text) - length(replace(text, '...', ''))) / 3
                          + length(text) - length(replace(text, '…', ''))
                          AS n_ell,
                        len(list_filter(lines, l ->
                          starts_with(l, '-') OR starts_with(l, '*')
                          OR starts_with(l, '•'))) AS n_bullet,
                        len(list_filter(lines, l ->
                          ends_with(l, '...') OR ends_with(l, '…'))) AS n_ell_line,
                        len(list_filter(words,
                          x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
                        CAST(list_contains(words, 'the') AS INT)
                          + CAST(list_contains(words, 'and') AS INT)
                          + CAST(list_contains(words, 'of') AS INT)
                          + CAST(list_contains(words, 'to') AS INT)
                          + CAST(list_contains(words, 'in') AS INT)
                          + CAST(list_contains(words, 'a') AS INT)
                          + CAST(list_contains(words, 'is') AS INT)
                          AS stopword_count
                      FROM w)
         SELECT doc_id, n_words,
                round(CAST(chars AS DOUBLE) / nw, 6) AS mean_word_chars,
                round(CAST(n_hash + n_ell AS DOUBLE) / nw, 6) AS symbol_word_ratio,
                round(CAST(n_bullet AS DOUBLE) / nl, 6) AS bullet_line_frac,
                round(CAST(n_ell_line AS DOUBLE) / nl, 6) AS ellipsis_line_frac,
                round(CAST(n_alpha AS DOUBLE) / nw, 6) AS alpha_word_frac,
                stopword_count,
                (n_words BETWEEN 40 AND 100000)
                  AND (CAST(chars AS DOUBLE) / nw BETWEEN 3.0 AND 10.0)
                  AND (CAST(n_hash + n_ell AS DOUBLE) / nw <= 0.1)
                  AND (CAST(n_bullet AS DOUBLE) / nl <= 0.9)
                  AND (CAST(n_ell_line AS DOUBLE) / nl <= 0.3)
                  AND (CAST(n_alpha AS DOUBLE) / nw >= 0.8)
                  AND (stopword_count >= 2) AS gopher_keep
         FROM sig"""),

    // URL parsing + canonical normalization (ops.Web): a deterministic
    // messy URL per doc (mixed-case scheme/host, default + explicit ports,
    // trailing slashes, utm_* tracking params, fragments) is parsed and
    // canonicalized with portable regex/HOF column functions; the oracle
    // rebuilds the same URLs and re-derives every part with the identical
    // regexes in DuckDB — the regex semantics are what's cross-checked.
    Gate("q_url_normalize", { (s, dir) =>
      import graft.ops.Web
      val docs = s.read.parquet(pq(dir, "documents"))
        .withColumn("url", synthUrlCol)
      Web.urlProfile(docs, "url")
        .select(
          col("doc_id"),
          col("url_scheme"),
          col("url_host"),
          col("url_domain"),
          col("url_path"),
          col("url_norm"))
    },
      // URL normalize: identical regexes re-evaluated by DuckDB over the
      // same synthesized URLs — scheme/host casefold, default-port strip,
      // trailing-slash trim, utm_* filter, fragment drop
      s"""WITH u AS (SELECT doc_id, $synthUrlSql AS url FROM documents),
              p AS (SELECT doc_id, url,
                      lower(regexp_extract(url,
                        '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS sch,
                      regexp_extract(url,
                        '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) AS hp,
                      regexp_extract(url,
                        '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS pth,
                      regexp_extract(url, '[?]([^#]*)', 1) AS q
                    FROM u),
              p2 AS (SELECT doc_id, sch,
                       lower(regexp_extract(hp, '^([^:]+)', 1)) AS hst,
                       regexp_extract(hp, ':([0-9]+)$$', 1) AS prt,
                       pth, q FROM p),
              p3 AS (SELECT *,
                       regexp_extract(hst, '([^.]+[.][^.]+)$$', 1) AS dom,
                       array_to_string(list_filter(string_split(q, '&'),
                         x -> x <> '' AND NOT starts_with(x, 'utm_')), '&') AS cq,
                       CASE WHEN regexp_replace(pth, '/+$$', '') = '' THEN '/'
                            ELSE regexp_replace(pth, '/+$$', '') END AS cpth
                     FROM p2)
         SELECT doc_id, sch AS url_scheme, hst AS url_host, dom AS url_domain,
                pth AS url_path,
                sch || '://' || hst
                  || CASE WHEN prt <> ''
                            AND NOT (sch = 'http' AND prt = '80')
                            AND NOT (sch = 'https' AND prt = '443')
                          THEN ':' || prt ELSE '' END
                  || cpth
                  || CASE WHEN cq <> '' THEN '?' || cq ELSE '' END AS url_norm
         FROM p3"""),

    // registered-domain rollup over the same synthesized URLs: doc counts,
    // distinct hosts, corpus share per domain — one partial-agg shuffle +
    // broadcast total
    Gate("q_domain_stats", { (s, dir) =>
      import graft.ops.Web
      val docs = s.read.parquet(pq(dir, "documents"))
        .withColumn("url", synthUrlCol)
      Web.domainStats(docs, "url")
        .select(
          col("url_domain"),
          col("n_docs"),
          col("n_hosts"),
          round(col("doc_share"), 6).as("doc_share"))
    },
      s"""WITH u AS (SELECT doc_id, $synthUrlSql AS url FROM documents),
              h AS (SELECT lower(regexp_extract(regexp_extract(url,
                      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1),
                      '^([^:]+)', 1)) AS hst FROM u),
              d AS (SELECT regexp_extract(hst, '([^.]+[.][^.]+)$$', 1)
                      AS url_domain, hst FROM h),
              a AS (SELECT url_domain, count(*) AS n_docs,
                      count(DISTINCT hst) AS n_hosts
                    FROM d GROUP BY url_domain)
         SELECT url_domain, n_docs, n_hosts,
                round(CAST(n_docs AS DOUBLE)
                      / (SELECT sum(n_docs) FROM a), 6) AS doc_share
         FROM a"""),

    // cross-document boilerplate removal (CCNet/C4-style): units appearing
    // in ≥ ceil(0.9 · source-doc-count) distinct docs of the same source
    // are stripped everywhere and the survivors reassembled in order;
    // fully-stripped docs stay with empty text. One countDistinct shuffle
    // + broadcast group counts + fingerprint join — oracle recomputes the
    // document-frequency threshold directly.
    Gate("q_boilerplate", { (s, dir) =>
      graft.ops.Dedup
        .removeBoilerplate(
          s.read.parquet(pq(dir, "documents")), "text", "doc_id",
          delimiter = " ", minDocFraction = 0.9, minDocs = 2,
          groupCol = Some("source"))
        .select(col("doc_id"), col("text"), col("n_units"), col("n_removed"))
    },
      // boilerplate removal: document-frequency threshold per source group,
      // survivors reassembled in order, fully-stripped docs kept empty
      """WITH base AS (SELECT doc_id, source, text FROM documents
                       WHERE text IS NOT NULL),
              gc AS (SELECT source, count(*) AS n_docs FROM base GROUP BY source),
              u AS (SELECT doc_id, source,
                      unnest(string_split(text, ' ')) AS unit,
                      unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
                    FROM base),
              lf AS (SELECT source, unit, count(DISTINCT doc_id) AS n
                     FROM u GROUP BY source, unit),
              keep AS (SELECT u.doc_id, u.pos, u.unit FROM u
                       JOIN lf ON u.source = lf.source AND u.unit = lf.unit
                       JOIN gc ON u.source = gc.source
                       WHERE lf.n < greatest(2, CAST(ceil(0.9 * gc.n_docs) AS BIGINT))),
              agg AS (SELECT doc_id, string_agg(unit, ' ' ORDER BY pos) AS text,
                             count(*) AS n_kept FROM keep GROUP BY doc_id),
              tot AS (SELECT doc_id, count(*) AS n_units FROM u GROUP BY doc_id)
         SELECT t.doc_id, coalesce(a.text, '') AS text,
                t.n_units, t.n_units - coalesce(a.n_kept, 0) AS n_removed
         FROM tot t LEFT JOIN agg a ON t.doc_id = a.doc_id"""),

    // Gopher-style repetition quality signals: most-frequent word 2-gram
    // character coverage + duplicated word 5-gram coverage (ops.Corpus)
    Gate("q_repetition", { (s, dir) =>
      graft.ops.Corpus.repetitionSignals(
        s.read.parquet(pq(dir, "documents")), "text", "doc_id")
    },
      // repetition signals: word-n-gram multiplicity counts rebuilt with list
      // comprehensions; same deterministic arg-max tie-break (cnt desc, gram asc)
      s"""WITH base AS (SELECT doc_id, $normSql AS norm FROM documents
                        WHERE text IS NOT NULL),
             toks AS (SELECT doc_id, length(norm) AS len,
                             string_split(norm, ' ') AS t FROM base),
             g2 AS (SELECT doc_id, len,
                      unnest(list_filter(
                        list_transform(range(0, greatest(len(t)-2, 0)+1),
                                       i -> array_to_string(t[i+1:i+2], ' ')),
                        g -> len(string_split(g, ' ')) = 2)) AS gram
                    FROM toks),
             c2 AS (SELECT doc_id, gram, count(*) AS cnt, max(len) AS len
                    FROM g2 GROUP BY 1, 2),
             top2 AS (SELECT doc_id,
                        round((cnt * length(gram))::DOUBLE / greatest(len, 1), 6) AS top2_frac
                      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                              ORDER BY cnt DESC, gram ASC) AS rn FROM c2)
                      WHERE rn = 1),
             g5 AS (SELECT doc_id, len,
                      unnest(list_filter(
                        list_transform(range(0, greatest(len(t)-5, 0)+1),
                                       i -> array_to_string(t[i+1:i+5], ' ')),
                        g -> len(string_split(g, ' ')) = 5)) AS gram
                    FROM toks),
             c5 AS (SELECT doc_id, gram, count(*) AS cnt, max(len) AS len
                    FROM g5 GROUP BY 1, 2),
             dup5 AS (SELECT doc_id,
                        round(sum(CASE WHEN cnt > 1 THEN cnt * length(gram)
                                       ELSE 0 END)::DOUBLE / greatest(max(len), 1), 6) AS dup5_frac
                      FROM c5 GROUP BY doc_id)
         SELECT b.doc_id,
                coalesce(t2.top2_frac, 0.0) AS top2_frac,
                coalesce(d5.dup5_frac, 0.0) AS dup5_frac
         FROM base b LEFT JOIN top2 t2 USING (doc_id)
                     LEFT JOIN dup5 d5 USING (doc_id)"""),

    // sliding-window document chunking (context-length prep): 32-token
    // windows, 8-token overlap — pure per-row explode, no shuffle
    Gate("q_chunk_docs", { (s, dir) =>
      graft.ops.Corpus
        .chunkDocuments(
          s.read.parquet(pq(dir, "documents"))
            .select(col("doc_id"), col("text"))
            .where(col("doc_id") % 13 === 0),
          "text", chunkTokens = 32, overlapTokens = 8)
        .select(
          col("doc_id"),
          col("chunk_idx").cast("bigint").as("chunk_idx"),
          col("chunk_text"),
          col("chunk_tokens").cast("bigint").as("chunk_tokens"))
    },
      """WITH t AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> length(x) > 0)
                        AS toks
                    FROM documents
                    WHERE text IS NOT NULL AND doc_id % 13 = 0),
              s AS (SELECT doc_id, toks,
                      unnest(range(0, len(toks), 24)) AS start
                    FROM t WHERE len(toks) > 0)
         SELECT doc_id,
                CAST(start / 24 AS BIGINT) AS chunk_idx,
                array_to_string(toks[start + 1 : start + 32], ' ') AS chunk_text,
                CAST(least(32, len(toks) - start) AS BIGINT) AS chunk_tokens
         FROM s"""),

    // self-trained bigram-LM cross-entropy (perplexity-filter proxy):
    // decimal-summed log terms keep the score order-independent and
    // cross-engine exact
    Gate("q_lm_score", { (s, dir) =>
      graft.ops.Corpus
        .bigramCrossEntropy(
          s.read.parquet(pq(dir, "documents")).select(col("doc_id"), col("text")),
          "text", "doc_id")
        .select(
          col("doc_id"),
          col("n_bigrams"),
          round(col("cross_entropy"), 6).cast("double").as("cross_entropy"))
    },
      s"""WITH d AS (SELECT doc_id,
                       string_split($normSql, ' ') AS toks
                     FROM documents WHERE text IS NOT NULL),
              vocab AS (SELECT count(DISTINCT w) AS v
                        FROM (SELECT unnest(toks) AS w FROM d) WHERE w <> ''),
              idx AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                      FROM d WHERE len(toks) > 1),
              bi AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM idx),
              c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
              c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
              terms AS (SELECT bi.doc_id,
                          CAST(ln((c12.c12 + 1.0) / (c1.c1 + vocab.v))
                               AS DECIMAL(28,12)) AS lp
                        FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
                             CROSS JOIN vocab)
         SELECT doc_id, count(*) AS n_bigrams,
                round(-avg(lp), 6) AS cross_entropy
         FROM terms GROUP BY doc_id"""),

    // trigram stupid-backoff LM scoring (Brants 2007): train on the 2/3
    // slice, score everything — the 1/3 held-out docs exercise OOV and
    // unseen-context backoff paths; decimal-summed log terms as in
    // q_lm_score
    Gate("q_backoff_score", { (s, dir) =>
      val docs =
        s.read.parquet(pq(dir, "documents")).select(col("doc_id"), col("text"))
      graft.ops.Corpus
        .stupidBackoffScore(
          docs.where(col("doc_id") % 3 =!= 0), docs, "text", "doc_id")
        .select(
          col("doc_id"), col("n_tokens"), col("n_oov"),
          round(col("backoff_xent"), 6).cast("double").as("backoff_xent"))
    }, {
      val lnA = math.log(0.4) // JVM literal injected so both engines
      s"""WITH d AS (SELECT doc_id,
                       list_filter(string_split($normSql, ' '),
                                   w -> w <> '') AS toks
                     FROM documents WHERE text IS NOT NULL),
              dd AS (SELECT * FROM d WHERE len(toks) > 0),
              pos AS (SELECT doc_id, toks,
                        unnest(range(1, len(toks) + 1)) AS i FROM dd),
              p AS (SELECT doc_id, toks[i] AS w,
                      CASE WHEN i >= 2 THEN toks[i - 1] END AS b,
                      CASE WHEN i >= 3 THEN toks[i - 2] END AS a
                    FROM pos),
              tp AS (SELECT * FROM p WHERE doc_id % 3 <> 0),
              tv AS (SELECT count(*) AS t, count(DISTINCT w) AS v FROM tp),
              c1 AS (SELECT w, count(*) AS c1 FROM tp GROUP BY 1),
              c2 AS (SELECT b, w, count(*) AS c2 FROM tp
                     WHERE b IS NOT NULL GROUP BY 1, 2),
              c3 AS (SELECT a, b, w, count(*) AS c3 FROM tp
                     WHERE a IS NOT NULL GROUP BY 1, 2, 3),
              sc AS (SELECT p.doc_id, c3.c3, c2.c2, cab.c2 AS cab,
                       c1.c1 AS c1w, cb.c1 AS cb,
                       CASE WHEN p.a IS NOT NULL THEN 3
                            WHEN p.b IS NOT NULL THEN 2 ELSE 1 END AS s
                     FROM p
                     LEFT JOIN c3 ON c3.a = p.a AND c3.b = p.b AND c3.w = p.w
                     LEFT JOIN c2 ON c2.b = p.b AND c2.w = p.w
                     LEFT JOIN c2 cab ON cab.b = p.a AND cab.w = p.b
                     LEFT JOIN c1 ON c1.w = p.w
                     LEFT JOIN c1 cb ON cb.w = p.b),
              terms AS (SELECT doc_id,
                          CAST(CASE
                            WHEN c3 IS NOT NULL THEN ln(CAST(c3 AS DOUBLE) / cab)
                            WHEN c2 IS NOT NULL THEN (s - 2) * ($lnA) +
                              ln(CAST(c2 AS DOUBLE) / cb)
                            WHEN c1w IS NOT NULL THEN (s - 1) * ($lnA) +
                              ln(CAST(c1w AS DOUBLE) / t)
                            ELSE s * ($lnA) + ln(1.0 / (t + v + 1))
                          END AS DECIMAL(28,12)) AS lp,
                          CASE WHEN c1w IS NULL THEN 1 ELSE 0 END AS oov
                        FROM sc CROSS JOIN tv)
         SELECT doc_id, count(*) AS n_tokens,
                CAST(sum(oov) AS BIGINT) AS n_oov,
                round(-avg(lp), 6) AS backoff_xent
         FROM terms GROUP BY doc_id"""
    }),

    // HTML -> text extraction: each document wrapped in synthesized HTML
    // (scripts, styles, comments, entities, block structure; text
    // entity-escaped so markup-looking content survives the round trip),
    // extracted by the codegen'd regex pipeline, oracled by the
    // IDENTICAL chain in RE2
    // the IDENTICAL regex chain as Web.extractHtmlText, applied by RE2 —
    // patterns are in the Java∩RE2 portable subset, so the chain is
    // transcribed step-for-step (programmatic fold, no hand-copied
    // variants to drift)
    Gate("q_html_extract", { (s, dir) =>
      import graft.ops.Web
      def esc(c: Column): Column =
        regexp_replace(
          regexp_replace(regexp_replace(c, "&", "&amp;"), "<", "&lt;"),
          ">", "&gt;")
      val docs = s.read.parquet(pq(dir, "documents"))
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
      val html = concat(
        lit("<html><head><title>T</title><style>p{color:red}</style>" +
          "<script>if(a<b){alert(\"x</p>\");}</script></head><body><h1>Doc "),
        col("doc_id"),
        lit("</h1><p>"), esc(col("t")),
        lit("</p><div>tail&nbsp;&amp;&lt;raw&gt;</div><!-- hidden -->" +
          "line<br/>break</body></html>"))
      docs
        .select(col("doc_id"), Web.extractHtmlText(html).as("extracted"))
        .select(
          col("doc_id"),
          length(col("extracted")).cast("bigint").as("n_chars"),
          md5(col("extracted").cast("binary")).as("text_md5"))
    }, {
      val repl = Map(
        " " -> "' '", "\n" -> "chr(10)", "&" -> "'&'", "<" -> "'<'",
        ">" -> "'>'", "\"" -> "'\"'", "'" -> "''''")
      val steps = Seq(
        "(?is)<script[^>]*>.*?</script>" -> " ",
        "(?is)<style[^>]*>.*?</style>" -> " ",
        "(?s)<!--.*?-->" -> " ",
        "(?i)</(p|div|h[1-6]|li|ul|ol|table|tr|blockquote|section|article)>|<br[^>]*>" -> "\n",
        "<[^>]*>" -> " ",
        "&nbsp;" -> " ",
        "&amp;" -> "&",
        "&lt;" -> "<",
        "&gt;" -> ">",
        "&quot;" -> "\"",
        "&#39;" -> "'",
        "[ \\t\\x0B\\f\\r]+" -> " ",
        " ?\\n ?" -> "\n",
        "\\n{2,}" -> "\n")
      val chain = steps.foldLeft("html") { case (acc, (pat, r)) =>
        s"regexp_replace($acc, '$pat', ${repl(r)}, 'g')"
      }
      s"""WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
              h AS (SELECT doc_id,
                      '<html><head><title>T</title><style>p{color:red}</style><script>if(a<b){alert("x</p>");}</script></head><body><h1>Doc '
                      || doc_id || '</h1><p>'
                      || regexp_replace(regexp_replace(regexp_replace(t,
                           '&', '&amp;', 'g'), '<', '&lt;', 'g'), '>', '&gt;', 'g')
                      || '</p><div>tail&nbsp;&amp;&lt;raw&gt;</div><!-- hidden -->line<br/>break</body></html>'
                        AS html
                    FROM d),
              e AS (SELECT doc_id, trim($chain) AS x FROM h)
         SELECT doc_id, CAST(length(x) AS BIGINT) AS n_chars,
                md5(x) AS text_md5
         FROM e"""
    }),

    // WARC ingestion: REAL WARC/1.0 blobs synthesized in-plan per doc
    // (three records each; even ids gzip-compressed — the .warc.gz
    // record-per-member layout), parsed back by the streaming parser,
    // record geometry + payload digests oracled in closed form
    Gate("q_warc_parse", { (s, dir) =>
      import graft.ops.Warc
      import graft.ops.Warc.WarcRecord
      val docs = s.read.parquet(pq(dir, "documents"))
        .where(col("doc_id") % 13 === 0)
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "blob", org.apache.spark.sql.types.BinaryType)))
      val blobs = s.createDataFrame(
        docs.rdd.map { r =>
          val id = r.getLong(0)
          val payload = r.getString(1).getBytes("UTF-8")
          val meta = s"len:${payload.length}".getBytes("UTF-8")
          val recs = Seq(
            WarcRecord("warcinfo",
              Seq("WARC-Record-ID" -> s"<urn:uuid:$id>"),
              "robots: classic\r\n".getBytes("UTF-8")),
            WarcRecord("response",
              Seq("WARC-Record-ID" -> s"<urn:uuid:$id-r>",
                "WARC-Target-URI" -> s"http://example.com/$id"),
              payload),
            WarcRecord("metadata",
              Seq("WARC-Record-ID" -> s"<urn:uuid:$id-m>"), meta))
          org.apache.spark.sql.Row(
            id, Warc.encodeWarc(recs, gzip = id % 2 == 0))
        },
        schema)
      Warc.parseWarcRecords(blobs, "doc_id", "blob")
        .select(
          col("doc_id"),
          col("rec_idx").cast("bigint").as("rec_idx"),
          col("warc_type"),
          col("n_headers").cast("bigint").as("n_headers"),
          col("content_length"),
          md5(col("payload")).as("payload_md5"),
          col("warc_valid"))
    },
      // closed-form record geometry: the parser's output is fully
      // determined by the synthesis formula (3 records/doc; WARC-Type and
      // Content-Length are consumed by the parser, so n_headers counts the
      // REMAINING headers)
      """WITH d AS (SELECT doc_id, coalesce(text, '') AS t
                    FROM documents WHERE doc_id % 13 = 0),
             rs AS (
               SELECT doc_id, 0 AS rec_idx, 'warcinfo' AS warc_type,
                      1 AS n_headers, 17 AS content_length,
                      md5('robots: classic' || chr(13) || chr(10)) AS payload_md5
               FROM d
               UNION ALL
               SELECT doc_id, 1, 'response', 2, strlen(t), md5(t) FROM d
               UNION ALL
               SELECT doc_id, 2, 'metadata', 1,
                      strlen('len:' || strlen(t)),
                      md5('len:' || strlen(t)) FROM d)
         SELECT doc_id, CAST(rec_idx AS BIGINT) AS rec_idx, warc_type,
                CAST(n_headers AS BIGINT) AS n_headers,
                CAST(content_length AS BIGINT) AS content_length,
                payload_md5, true AS warc_valid
         FROM rs"""),

    // Unicode script-mix profile: text deterministically enriched with
    // known non-Latin samples on id-derived rows so every profiled script
    // exercises on both engines (the q_pii_scan enrichment pattern)
    Gate("q_script_mix", { (s, dir) =>
      val samples = Seq(
        "привет мир", "你好世界", "مرحبا بالعالم", "안녕하세요",
        "こんにちは", "カタカナ", "नमस्ते दुनिया", "γεια σου κόσμε",
        "שלום עולם")
      val injected = samples.zipWithIndex.foldLeft(lit("")) {
        case (acc, (txt, i)) =>
          when(pmod(col("doc_id"), lit(11)) === i, lit(txt)).otherwise(acc)
      }
      val enriched = s.read.parquet(pq(dir, "documents"))
        .select(
          col("doc_id"),
          concat_ws(" ", coalesce(col("text"), lit("")), injected).as("t2"))
      val mixed = graft.ops.TextAnalysis.scriptMix(enriched, "t2")
      mixed.select(
        col("doc_id") +: col("n_script_chars") +:
          graft.ops.TextAnalysis.ScriptNames.map(n =>
            round(col(s"${n.toLowerCase}_frac"), 6).as(s"${n.toLowerCase}_frac")): _*)
    }, {
      val samples = Seq(
        "привет мир", "你好世界", "مرحبا بالعالم", "안녕하세요",
        "こんにちは", "カタカナ", "नमस्ते दुनिया", "γεια σου κόσμε",
        "שלום עולם")
      val injectCase = samples.zipWithIndex
        .map { case (txt, i) => s"WHEN doc_id % 11 = $i THEN '$txt'" }
        .mkString(" ")
      val scripts = graft.ops.TextAnalysis.ScriptNames
      val cnts = scripts.map(n =>
        s"len(regexp_extract_all(t2, '[\\p{$n}]')) AS c_${n.toLowerCase}")
        .mkString(",\n                 ")
      val totalExpr = scripts.map(n => s"c_${n.toLowerCase}").mkString(" + ")
      val fracs = scripts.map(n =>
        s"round(CAST(c_${n.toLowerCase} AS DOUBLE) / greatest($totalExpr, 1), 6) AS ${n.toLowerCase}_frac")
        .mkString(",\n               ")
      s"""WITH e AS (SELECT doc_id,
                       concat_ws(' ', coalesce(text, ''),
                         CASE $injectCase ELSE '' END) AS t2
                     FROM documents),
              c AS (SELECT doc_id,
                 $cnts
                    FROM e)
         SELECT doc_id, CAST($totalExpr AS BIGINT) AS n_script_chars,
               $fracs
         FROM c"""
    }),

    // fastText-style hashed linear classifier: a 2-round full-batch
    // logistic-GD model trained IN the query (md5 flavor, labels derived
    // from doc_id) and scored over the corpus — the oracle re-derives the
    // identical 2-round model with unrolled SQL
    Gate("q_classifier_score", { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
        .select(
          col("doc_id"), col("text"),
          (col("doc_id") % 7 === 0).cast("int").as("dj_label"))
      // trainAndScore: ONE shared hashed-gram feature pass for training and
      // scoring (bit-identical to train+score, half the corpus scans — r14)
      graft.ops.Classifier
        .trainAndScore(
          docs, "text", "doc_id", "dj_label", nBuckets = 256, nIters = 2,
          learningRate = 0.5, md5Flavor = true)
        .select(
          col("doc_id"), col("n_features"),
          round(col("margin"), 6).cast("double").as("margin"),
          round(col("score"), 6).as("score"))
    },
      classifierOracleSql),

    // TF-IDF keyword extraction: top-5 tokens per doc, smoothed idf over
    // the full corpus — tf aggregate, vocabulary join (AQE broadcast/skew),
    // per-doc ranking window
    Gate("q_tfidf_topk", { (s, dir) =>
      graft.ops.Corpus
        .tfidfTopK(
          s.read.parquet(pq(dir, "documents")).select(col("doc_id"), col("text")),
          "text", "doc_id", k = 5)
        .select(
          col("doc_id"), col("token"), col("tf"), col("df"),
          round(col("tfidf"), 6).as("tfidf"),
          col("rank").cast("bigint").as("rank"))
    },
      s"""WITH d AS (SELECT doc_id, $normSql AS norm FROM documents
                     WHERE text IS NOT NULL),
              tok AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS token
                      FROM d),
              tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
                     WHERE token <> '' GROUP BY 1, 2),
              dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
              n AS (SELECT count(*) AS n FROM d),
              scored AS (SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
                           tf.tf * ln((n.n + 1.0) / (dfq.df + 1.0)) AS tfidf
                         FROM tf JOIN dfq USING (token) CROSS JOIN n),
              ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                           ORDER BY tfidf DESC, token ASC) AS rank
                         FROM scored)
         SELECT doc_id, token, tf, df, round(tfidf, 6) AS tfidf, rank
         FROM ranked WHERE rank <= 5"""),

    // corpus vocabulary: 50 most frequent normalized tokens, distributed
    // top-k (TakeOrderedAndProject), ties broken token-ascending
    Gate("q_vocab_topk", { (s, dir) =>
      graft.ops.Corpus.vocabularyTopK(
        s.read.parquet(pq(dir, "documents")), "text", k = 50)
    },
      s"""WITH toks AS (SELECT unnest(string_split($normSql, ' ')) AS token
                        FROM documents WHERE text IS NOT NULL)
         SELECT token, count(*) AS n FROM toks WHERE token <> ''
         GROUP BY token ORDER BY n DESC, token ASC LIMIT 50"""),

    // PageRank over a synthesized 50-node link graph (doc_id residue
    // edges): 5 decimal-deterministic power iterations; the oracle
    // replays the identical cast-for-cast arithmetic
    Gate("q_pagerank", { (s, dir) =>
      val edges = s.read.parquet(pq(dir, "documents"))
        .select((col("doc_id") % 50).as("src"),
          ((col("doc_id") * 7 + 3) % 50).as("dst"))
      graft.ops.Web.pageRank(edges, "src", "dst", iterations = 5)
        .select(col("node"),
          round(col("pagerank").cast("double"), 9).as("pagerank"))
    }, {
      val iters = 5
      def contrib(prev: String) =
        s"""(SELECT e.dst AS node,
               CAST(sum(CAST((CAST(p.pr AS DOUBLE) * CAST(0.85 AS DOUBLE))
                             / CAST(od.deg AS DOUBLE) AS DECIMAL(28, 18)))
                 AS DECIMAL(28, 18)) AS contrib
             FROM e JOIN $prev p ON e.src = p.node
             JOIN od ON od.src = e.src
             GROUP BY 1)"""
      val rounds = (1 to iters).map { k =>
        s"""pr$k AS (SELECT n2.node,
               CAST(CAST((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                      AS DECIMAL(28, 18))
                    + coalesce(s.contrib, CAST(0 AS DECIMAL(28, 18)))
                 AS DECIMAL(28, 18)) AS pr
             FROM nodes n2 CROSS JOIN nn
             LEFT JOIN ${contrib(s"pr${k - 1}")} s ON n2.node = s.node)"""
      }.mkString(",\n             ")
      s"""WITH e AS (SELECT doc_id % 50 AS src,
                       (doc_id * 7 + 3) % 50 AS dst FROM documents),
             nodes AS (SELECT DISTINCT node FROM
                         (SELECT src AS node FROM e
                          UNION ALL SELECT dst FROM e)),
             nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
             od AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
             pr0 AS (SELECT node, CAST(CAST(1 AS DOUBLE) / nn.n
                       AS DECIMAL(28, 18)) AS pr FROM nodes, nn),
             $rounds
         SELECT node, round(CAST(pr AS DOUBLE), 9) AS pagerank FROM pr$iters"""
    }),

    // WARC DataSource V2: REALLY writes deterministic .warc/.warc.gz
    // files, reads them back through format("warc"), and checks geometry /
    // content / partitioning closed-form (constant all-green oracle — the
    // streaming-gate precedent for surfaces DuckDB cannot execute)
    Gate("q_warc_source", { (s, dir) =>
      import s.implicits._
      import graft.ops.Warc
      val ids = s.read.parquet(pq(dir, "documents"))
        .select(col("doc_id")).where(col("doc_id") % 29 === 0)
        .as[Long].collect().sorted
      val tmp = java.nio.file.Files.createTempDirectory("graft_warc_gate")
      def record(id: Long) = Warc.WarcRecord(
        "response",
        Seq("WARC-Target-URI" -> s"https://g.example/$id"),
        ("B" * (10 + (id % 7)).toInt).getBytes("US-ASCII"))
      ids.groupBy(_ % 3).foreach { case (part, group) =>
        java.nio.file.Files.write(
          tmp.resolve(s"part$part.warc.gz"),
          Warc.encodeWarc(group.map(record).toSeq, gzip = true))
      }
      val src = s.read.format("warc").load(tmp.toString)
        .select(col("path"), col("target_uri"), col("content_length"),
          col("warc_valid"))
      val rows = src.collect()
      val uriOk = rows.map(_.getString(1)).toSet ==
        ids.map(i => s"https://g.example/$i").toSet &&
        rows.length == ids.length
      val lenOk = rows.forall { r =>
        val id = r.getString(1).split('/').last.toLong
        r.getLong(2) == 10 + (id % 7)
      }
      val checks = Seq(
        ("n_records", rows.length.toLong == ids.length.toLong),
        ("n_files", rows.map(_.getString(0)).distinct.length.toLong == 3L),
        ("one_partition_per_file", src.rdd.getNumPartitions == 3),
        ("uri_roundtrip", uriOk),
        ("length_closed_form", lenOk),
        ("all_valid", rows.forall(_.getBoolean(3))))
      checks.toDF("probe", "ok")
    },
      """SELECT * FROM (VALUES
           ('n_records', TRUE), ('n_files', TRUE),
           ('one_partition_per_file', TRUE), ('uri_roundtrip', TRUE),
           ('length_closed_form', TRUE), ('all_valid', TRUE))
         AS t(probe, ok)"""),

    // character-distribution profile: one CharHistogram kernel scan per
    // document -> Shannon entropy (exact-decimal term sum), distinct
    // count, top-character share — the random-text / repetition signal
    Gate("q_char_entropy", { (s, dir) =>
      s.read.parquet(pq(dir, "documents"))
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          graft.ops.TextAnalysis.charProfile(col("text")).as("p"))
        .where(col("p").isNotNull)
        .select(col("doc_id"), col("p.n_chars"), col("p.n_distinct"),
          round(col("p.top_frac"), 6).as("top_frac"),
          round(col("p.entropy"), 6).as("entropy"))
    },
      s"""WITH d AS (SELECT doc_id, $normSql AS norm FROM documents
                     WHERE text IS NOT NULL),
             pos AS (SELECT doc_id, norm,
                       unnest(range(1, length(norm) + 1)) AS p FROM d),
             cnt AS (SELECT doc_id, substring(norm, p, 1) AS c, count(*) AS n
                     FROM pos GROUP BY 1, 2),
             tot AS (SELECT doc_id, sum(n) AS nn, count(*) AS nd,
                       max(n) AS topn FROM cnt GROUP BY 1),
             ent AS (SELECT cnt.doc_id,
                       sum(CAST(-(n::DOUBLE / nn) * ln(n::DOUBLE / nn)
                           AS DECIMAL(28, 18))) AS h
                     FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id
                     GROUP BY 1)
         SELECT t.doc_id, t.nn::BIGINT AS n_chars, t.nd::BIGINT AS n_distinct,
                round(t.topn::DOUBLE / t.nn, 6) AS top_frac,
                round(h::DOUBLE, 6) AS entropy
         FROM tot t JOIN ent e ON t.doc_id = e.doc_id"""),

    // robots.txt (RFC 9309): REAL group parsing + longest-match evaluation
    // over synthesized per-domain policies at two agents; the oracle
    // recomputes every verdict in closed form from the template arithmetic
    Gate("q_robots", { (s, dir) =>
      import graft.ops.Web
      val ids = s.read.parquet(pq(dir, "documents"))
        .select(col("doc_id"))
        .where(col("doc_id") % 13 === 0)
      val k = col("doc_id") % 3
      val m = col("doc_id") % 2
      val robots = ids.select(
        concat(lit("d"), col("doc_id")).as("domain"),
        concat(
          lit("# synthesized policy\nUser-agent: *\nDisallow: /private"), k,
          lit("/\nAllow: /private"), k,
          lit("/ok\n\nUser-agent: graftbot\nDisallow: /bot"), m,
          lit("*\n")).as("robots"))
      val urls = ids
        .select(col("doc_id"),
          concat(lit("d"), col("doc_id")).as("domain"),
          explode(array(
            concat(lit("/private"), k, lit("/x")),
            concat(lit("/private"), k, lit("/ok/page")),
            concat(lit("/bot"), m, lit("xyz")),
            lit("/pub/page"))).as("path"))
        .withColumn("id", concat(col("doc_id"), lit(":"), col("path")))
      Seq("*", "graftbot").map { ag =>
        Web.robotsAllowed(urls, robots, "id", "domain", "path",
            "domain", "robots", agent = ag)
          .withColumn("agent", lit(ag))
      }.reduce(_ unionByName _)
        .select(col("id"), col("agent"), col("allowed"), col("matched_pattern"))
    },
      """WITH ids AS (SELECT doc_id, (doc_id % 3)::VARCHAR AS k,
                        (doc_id % 2)::VARCHAR AS m
                      FROM documents WHERE doc_id % 13 = 0),
             urls AS (SELECT doc_id, k, m,
                        unnest(['/private' || k || '/x',
                                '/private' || k || '/ok/page',
                                '/bot' || m || 'xyz',
                                '/pub/page']) AS path
                      FROM ids),
             ag AS (SELECT unnest(['*', 'graftbot']) AS agent),
             evald AS (SELECT doc_id::VARCHAR || ':' || path AS id,
                         agent, path, k, m FROM urls, ag)
         SELECT id, agent,
                CASE WHEN agent = '*' THEN
                       CASE WHEN starts_with(path, '/private' || k || '/ok')
                              THEN TRUE
                            WHEN starts_with(path, '/private' || k || '/')
                              THEN FALSE
                            ELSE TRUE END
                     ELSE NOT starts_with(path, '/bot' || m) END AS allowed,
                CASE WHEN agent = '*' THEN
                       CASE WHEN starts_with(path, '/private' || k || '/ok')
                              THEN '/private' || k || '/ok'
                            WHEN starts_with(path, '/private' || k || '/')
                              THEN '/private' || k || '/'
                            ELSE NULL END
                     WHEN starts_with(path, '/bot' || m)
                       THEN '/bot' || m || '*'
                     ELSE NULL END AS matched_pattern
         FROM evald"""),

    // BM25 ranked retrieval: three literal queries against the documents
    // corpus, Okapi k1=1.2 b=0.75, decimal-summed per-term scores
    Gate("q_bm25", { (s, dir) =>
      import s.implicits._
      val q = Seq(
        ("q_scan", "table scan fast"),
        ("q_stream", "stream window batch"),
        ("q_join", "join merge hash")).toDF("query_id", "query_text")
      graft.ops.Corpus.bm25TopK(
        s.read.parquet(pq(dir, "documents")), "text", "doc_id",
        q, "query_id", "query_text", k = 10)
    },
      s"""WITH d AS (SELECT doc_id, $normSql AS norm FROM documents
                     WHERE text IS NOT NULL),
             tok AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS t FROM d),
             tf AS (SELECT doc_id, t, count(*) AS tf FROM tok
                    WHERE t <> '' GROUP BY 1, 2),
             lens AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
             corpus AS (SELECT count(*) AS n, sum(dl) AS tot FROM lens),
             q AS (SELECT * FROM (VALUES
                     ('q_scan', 'table scan fast'),
                     ('q_stream', 'stream window batch'),
                     ('q_join', 'join merge hash')) AS v(query_id, query_text)),
             qt AS (SELECT DISTINCT query_id, t FROM (
                      SELECT query_id,
                             unnest(string_split(query_text, ' ')) AS t FROM q)
                    WHERE t <> ''),
             dfq AS (SELECT t, count(*) AS df FROM tf
                     WHERE t IN (SELECT t FROM qt) GROUP BY 1),
             terms AS (SELECT qt.query_id, tf.doc_id,
                         CAST(ln((c.n::DOUBLE - dfq.df + 0.5)
                                  / (dfq.df::DOUBLE + 0.5) + 1.0)
                              * tf.tf * 2.2
                              / (tf.tf + 1.2 * (0.25
                                  + 0.75 * lens.dl
                                    / (c.tot::DOUBLE / c.n::DOUBLE)))
                           AS DECIMAL(38, 12)) AS term
                       FROM qt
                       JOIN tf ON qt.t = tf.t
                       JOIN dfq ON dfq.t = qt.t
                       JOIN lens ON tf.doc_id = lens.doc_id,
                       corpus c),
             scored AS (SELECT query_id, doc_id,
                          round(sum(term), 6)::DOUBLE AS score
                        FROM terms GROUP BY 1, 2),
             ranked AS (SELECT query_id, doc_id, score,
                          row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
                        FROM scored)
         SELECT query_id, doc_id, score, rank::BIGINT AS rank
         FROM ranked WHERE rank <= 10"""),

    // semi-structured JSON extraction (ops.SemiStructured): typed
    // from_json over events.props with ~1% of payloads deterministically
    // truncated to exercise the malformed path — per-type counts,
    // malformed counts, and the exact sum of the extracted field. The
    // oracle uses DuckDB's JSON functions over identical strings.
    Gate("q_json_extract", { (s, dir) =>
      import graft.ops.SemiStructured
      val ev = s.read.parquet(pq(dir, "events"))
        .withColumn(
          "raw",
          when(col("event_id") % 97 === 0,
            expr("substring(props, 1, length(props) - 1)"))
            .otherwise(col("props")))
      SemiStructured.withParsedJson(ev, "raw", "k INT")
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          count(when(!col("json_ok"), 1)).as("n_malformed"),
          sum(col("parsed.k")).as("sum_k"))
        .select(col("event_type"), col("n"), col("n_malformed"), col("sum_k"))
    },
      """WITH e AS (SELECT event_type,
                      CASE WHEN event_id % 97 = 0
                           THEN substring(props, 1, length(props) - 1)
                           ELSE props END AS raw
                    FROM events),
              p AS (SELECT event_type,
                      CASE WHEN raw IS NOT NULL AND json_valid(raw)
                           THEN CAST(raw ->> '$.k' AS INT) END AS k,
                      raw IS NULL OR NOT json_valid(raw) AS bad
                    FROM e)
         SELECT event_type, count(*) AS n,
                count(*) FILTER (WHERE bad) AS n_malformed,
                CAST(sum(k) AS BIGINT) AS sum_k
         FROM p GROUP BY event_type"""),

    // blocklist filter (ops.TextAnalysis.blocklistHits): token-exact
    // whole-word hits per document against a fixed 3-word list — one
    // codegen'd projection, no substring false positives
    Gate("q_blocklist", { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      val hits = graft.ops.TextAnalysis
        .blocklistHits(col("text"), Seq("network", "data", "system"))
      docs.where(col("text").isNotNull)
        .select(
          col("doc_id"),
          hits.cast("bigint").as("n_hits"),
          (hits >= 1).as("flagged"))
    },
      // blocklist: identical normalized token stream, list_contains hits
      s"""WITH d AS (SELECT doc_id,
                       len(list_filter(string_split($normSql, ' '),
                         t -> list_contains(['network', 'data', 'system'], t)))
                         AS h
                     FROM documents WHERE text IS NOT NULL)
         SELECT doc_id, CAST(h AS BIGINT) AS n_hits, h >= 1 AS flagged
         FROM d"""),

    // BPE vocabulary induction, round-1 statistics (ops.Bpe): weighted
    // adjacent character-pair counts over the distinct-word table — the
    // aggregate every merge round re-runs; top-20 fully tie-broken. (The
    // iterative trainer itself is pinned by BpeSpec's textbook-sequence
    // test; DuckDB can't express the k-round loop.)
    Gate("q_bpe_pairs", { (s, dir) =>
      import graft.ops.{Bpe, TextAnalysis}
      val words = s.read.parquet(pq(dir, "documents"))
        .where(col("text").isNotNull)
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .where(col("w") =!= "")
        .groupBy("w")
        .agg(count(lit(1)).as("weight"))
      Bpe.pairCounts(Bpe.toSymbols(words, "w", "weight"))
        .orderBy(col("pair_count").desc, col("left_sym"), col("right_sym"))
        .limit(20)
        .select(col("left_sym"), col("right_sym"), col("pair_count"))
    },
      // BPE round-1 pairs: per-char split + zipped-index pair explode,
      // weighted by distinct-word counts, same total order
      s"""WITH toks AS (SELECT unnest(string_split($normSql, ' ')) AS w
                        FROM documents WHERE text IS NOT NULL),
              wc AS (SELECT w, count(*) AS cnt FROM toks
                     WHERE w <> '' GROUP BY w),
              sy AS (SELECT string_split(w, '') AS l, cnt FROM wc
                     WHERE len(w) >= 2),
              ix AS (SELECT l, cnt, unnest(range(1, len(l))) AS i FROM sy),
              pr AS (SELECT l[i] AS left_sym, l[i + 1] AS right_sym,
                       sum(cnt) AS pair_count
                     FROM ix GROUP BY 1, 2)
         SELECT left_sym, right_sym, CAST(pair_count AS BIGINT) AS pair_count
         FROM pr
         ORDER BY pair_count DESC, left_sym, right_sym LIMIT 20"""),

    // per-source curation profile: the report every corpus pipeline runs
    // before setting mix quotas — doc counts, mean quality, mean tokens per
    // (source, lang); per-doc quality is rounded to 6 first so both engines
    // aggregate the identical multiset
    Gate("q_source_profile", { (s, dir) =>
      import graft.ops.TextAnalysis
      s.read.parquet(pq(dir, "documents"))
        .where(col("text").isNotNull)
        .groupBy(col("source"), col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          // micro-unit integer sum: round-to-6 pins the per-doc doubles,
          // *1e6 makes them exact Longs, and ONE division yields the mean —
          // no order-dependent double summation anywhere
          round(
            sum(round(round(TextAnalysis.qualityScore(col("text")), 6) * 1e6, 0)
              .cast("long")).cast("double")
              / (count(lit(1)) * lit(1000000L)).cast("double"), 6)
            .as("avg_quality"),
          round(
            sum(TextAnalysis.tokenCount(col("text")).cast("long")).cast("double")
              / count(lit(1)), 6).as("avg_tokens"))
    },
      s"""WITH m AS (SELECT source, lang,
                 $qualitySignalsSql
               FROM documents WHERE text IS NOT NULL),
             q AS (SELECT source, lang, n_tokens, round(greatest(0.0,
                 least(n_tokens / 100.0, 1.0) * 0.4
                 + least(stop_ratio * 5.0, 1.0) * 0.2
                 + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2
                 + (1.0 - least(digit_ratio * 5.0, 1.0)) * 0.2), 6) AS quality
               FROM m)
          SELECT source, lang, count(*) AS n_docs,
                 round(sum(CAST(round(quality * 1000000, 0) AS BIGINT))::DOUBLE
                       / (count(*) * 1000000), 6) AS avg_quality,
                 round(sum(n_tokens)::DOUBLE / count(*), 6) AS avg_tokens
          FROM q GROUP BY source, lang""")
  )

  /** Deterministic messy URL per document row (mixed-case scheme/host,
    * default + explicit ports, trailing slash, utm_* params, fragment) —
    * shared by the `q_url_normalize` / `q_domain_stats` gate queries; the
    * oracle rebuilds the identical strings in SQL (`synthUrlSql`).
    */
  private def synthUrlCol: Column = concat(
    when(col("doc_id") % 2 === 0, "HTTPS").otherwise("http"), lit("://"),
    lit("WWW."),
    when(col("doc_id") % 3 === 0, "news.").otherwise(""),
    lit("Site-"), col("source"), lit(".Org"),
    when(col("doc_id") % 5 === 0, ":443")
      .when(col("doc_id") % 5 === 1, ":8080")
      .otherwise(""),
    lit("/Docs/"), col("doc_id"),
    when(col("doc_id") % 4 === 0, "/").otherwise(""),
    when(col("doc_id") % 3 === 0, concat(lit("?utm_source=feed&ref="), col("source")))
      .when(col("doc_id") % 3 === 1, "?a=1&utm_campaign=x&b=2")
      .otherwise(""),
    when(col("doc_id") % 2 === 0, "#sec2").otherwise(""))

  /** The DuckDB spelling of [[synthUrlCol]]. */
  private val synthUrlSql: String =
    """(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END || '://'
       || 'WWW.' || CASE WHEN doc_id % 3 = 0 THEN 'news.' ELSE '' END
       || 'Site-' || source || '.Org'
       || CASE WHEN doc_id % 5 = 0 THEN ':443'
               WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END
       || '/Docs/' || doc_id
       || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
       || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&ref=' || source
               WHEN doc_id % 3 = 1 THEN '?a=1&utm_campaign=x&b=2'
               ELSE '' END
       || CASE WHEN doc_id % 2 = 0 THEN '#sec2' ELSE '' END)"""

  /** Unrolled 2-round logistic-GD oracle for `q_classifier_score`:
    * md5-hashed unigram+bigram buckets mod 256, labels y = (doc_id % 7 ==
    * 0), lr = 0.5, full-batch. Decimal casts mirror Classifier exactly:
    * per-term (17,0)·(20,12) products, (30,12)-before-bias-addition
    * margins, (20,12) weight-table rounding of the double weights; the
    * weight-update arithmetic runs in DOUBLE (IEEE ops are bit-identical
    * across engines).
    */
  private def classifierOracleSql: String =
    s"""WITH clf AS (SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS y
                     FROM documents),
            cd AS (SELECT doc_id, list_filter(string_split($normSql, ' '),
                                              t -> t <> '') AS toks
                   FROM documents WHERE text IS NOT NULL),
            cuni AS (SELECT doc_id, unnest(toks) AS g FROM cd),
            cbi AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS g
                    FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                          FROM cd WHERE len(toks) > 1)),
            cfeats AS (SELECT doc_id, g FROM cuni UNION ALL SELECT doc_id, g FROM cbi),
            cdb AS (SELECT doc_id,
                      ('0x' || substring(md5(g), 1, 15))::BIGINT % 256 AS b,
                      count(*) AS cnt
                    FROM cfeats GROUP BY 1, 2),
            nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM cdb),
            e0 AS (SELECT clf.doc_id, CAST(0.5 - y AS DECIMAL(20,12)) AS err
                   FROM clf WHERE clf.doc_id IN (SELECT doc_id FROM cdb)),
            g1 AS (SELECT b, CAST(sum(CAST(cnt AS DECIMAL(17,0)) * err)
                                  AS DECIMAL(38,12)) AS g
                   FROM cdb JOIN e0 USING (doc_id) GROUP BY b),
            bg1 AS (SELECT CAST(sum(err) AS DECIMAL(38,12)) AS bg FROM e0),
            w1 AS (SELECT b, 0.0 - 0.5 * (CAST(g AS DOUBLE) / nn.n) AS wd
                   FROM g1 CROSS JOIN nn),
            b1 AS (SELECT 0.0 - 0.5 * (CAST(bg AS DOUBLE) / nn.n) AS bd
                   FROM bg1 CROSS JOIN nn),
            m1 AS (SELECT doc_id,
                     CAST(CAST(sum(CAST(cnt AS DECIMAL(17,0)) *
                                   CAST(wd AS DECIMAL(20,12))) AS DECIMAL(30,12))
                          + CAST((SELECT bd FROM b1) AS DECIMAL(20,12))
                          AS DECIMAL(38,12)) AS m
                   FROM cdb JOIN w1 USING (b) GROUP BY doc_id),
            e1 AS (SELECT m1.doc_id,
                     CAST(1.0 / (1.0 + exp(-CAST(m AS DOUBLE))) - y
                          AS DECIMAL(20,12)) AS err
                   FROM m1 JOIN clf ON m1.doc_id = clf.doc_id),
            g2 AS (SELECT b, CAST(sum(CAST(cnt AS DECIMAL(17,0)) * err)
                                  AS DECIMAL(38,12)) AS g
                   FROM cdb JOIN e1 USING (doc_id) GROUP BY b),
            bg2 AS (SELECT CAST(sum(err) AS DECIMAL(38,12)) AS bg FROM e1),
            w2 AS (SELECT w1.b,
                     w1.wd - 0.5 * (CAST(coalesce(g2.g, 0) AS DOUBLE) / nn.n) AS wd
                   FROM w1 LEFT JOIN g2 ON w1.b = g2.b CROSS JOIN nn),
            b2 AS (SELECT b1.bd - 0.5 * (CAST(bg2.bg AS DOUBLE) / nn.n) AS bd
                   FROM b1 CROSS JOIN bg2 CROSS JOIN nn),
            m2 AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_features,
                     CAST(CAST(sum(CAST(cnt AS DECIMAL(17,0)) *
                                   CAST(wd AS DECIMAL(20,12))) AS DECIMAL(30,12))
                          + CAST((SELECT bd FROM b2) AS DECIMAL(20,12))
                          AS DECIMAL(38,12)) AS m
                   FROM cdb JOIN w2 USING (b) GROUP BY doc_id)
       SELECT doc_id, n_features, CAST(round(m, 6) AS DOUBLE) AS margin,
              round(1.0 / (1.0 + exp(-CAST(m AS DOUBLE))), 6) AS score
       FROM m2"""

  /** The quality-score signals of `TextAnalysis.qualityScore` over
    * `text`: token count and punctuation, digit and stopword ratios.
    */
  private val qualitySignalsSql: String =
    s"""len(string_split($normSql, ' ')) AS n_tokens,
                 (length(text) - length(regexp_replace(text,
                     '[\\.,;:!\\?''"\\(\\)\\[\\]\\{\\}-]', '', 'g')))::DOUBLE
                   / greatest(length(text), 1) AS punct_ratio,
                 (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
                   / greatest(length(text), 1) AS digit_ratio,
                 len(list_filter(string_split($normSql, ' '),
                     t -> list_contains(['the','and','of','to','in','a','is'], t)))::DOUBLE
                   / greatest(len(string_split($normSql, ' ')), 1) AS stop_ratio"""
}
