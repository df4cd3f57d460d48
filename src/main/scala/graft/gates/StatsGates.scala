package graft.gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.gates.Common._

/** Oracle gates for statistics, drift and sketches. */
private[graft] object StatsGates {

  def gates: Seq[Gate] = Seq(
    // Count-Min sketch (ops.Sketches): token frequencies folded into a
    // 4×64 grouped-count table (deliberately narrow so collisions make the
    // estimates diverge from true counts — the CMS arithmetic is what's
    // verified, not plain counting), then point estimates for 8 probe
    // words including one absent. The oracle rebuilds sketch AND estimates
    // from the same row-salted md5 hashing.
    Gate("q_cms_counts", { (s, dir) =>
      import s.implicits._
      import graft.ops.{Sketches, TextAnalysis}
      val toks = s.read.parquet(pq(dir, "documents"))
        .where(col("text").isNotNull)
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val sketch = Sketches.cmsSketch(toks, "tok", depth = 4, width = 64)
      val probes = Seq(
        "table", "value", "spark", "row", "key", "data", "vector",
        "zzz_absent").toDF("word")
      Sketches.cmsEstimate(sketch, probes, "word", depth = 4, width = 64)
        .select(col("word"), col("cms_count"))
    },
      s"""WITH toks AS (SELECT unnest(string_split($normSql, ' ')) AS t
                        FROM documents WHERE text IS NOT NULL),
              ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
              pairs AS (SELECT d,
                          ('0x' || substring(md5(d || ':' || t), 1, 15))::BIGINT
                            % 64 AS bucket
                        FROM toks, ds),
              sk AS (SELECT d, bucket, count(*) AS cnt
                     FROM pairs GROUP BY d, bucket),
              probes AS (SELECT unnest(['table', 'value', 'spark', 'row',
                           'key', 'data', 'vector', 'zzz_absent']) AS word),
              pe AS (SELECT word, d,
                       ('0x' || substring(md5(d || ':' || word), 1, 15))::BIGINT
                         % 64 AS bucket
                     FROM probes, ds),
              est AS (SELECT word, min(coalesce(cnt, 0)) AS cms_count
                      FROM pe LEFT JOIN sk USING (d, bucket) GROUP BY word)
         SELECT word, CAST(cms_count AS BIGINT) AS cms_count FROM est"""),

    // per-group HLL distinct estimates: geometry-bounded register shuffle
    // (<= 2^b rows per key) instead of countDistinct's per-pair shuffle;
    // estimator arithmetic re-derived exactly by the oracle
    Gate("q_hll_grouped", { (s, dir) =>
      graft.ops.Sketches.hllGroupedEstimate(
        s.read.parquet(pq(dir, "lineitem"))
          .select(col("l_returnflag"),
            col("l_partkey").cast("string").as("v")),
        "l_returnflag", "v", b = 6)
        .select(col("l_returnflag"), col("n_hit"),
          round(col("estimate"), 6).as("estimate"))
    },
      """WITH h AS (SELECT l_returnflag AS k,
                      ('0x' || substring(md5(l_partkey::VARCHAR), 1, 15))::BIGINT AS h
                    FROM lineitem
                    WHERE l_partkey IS NOT NULL AND l_returnflag IS NOT NULL),
             r AS (SELECT k, h % 64 AS b,
                     max(CASE WHEN h // 64 = 0 THEN 55
                              ELSE 54 - length(bin(h // 64)) + 1 END) AS r
                   FROM h GROUP BY 1, 2),
             e AS (SELECT k, count(*) AS n_hit, 64 - count(*) AS nz,
                     CAST(sum(CAST(pow(2, 54 - r) AS DECIMAL(38, 0)))
                          AS DOUBLE) AS hs
                   FROM r GROUP BY 1),
             est AS (SELECT k, n_hit, nz,
                       (((0.7213 / (1 + 1.079 / 64.0)) * 64.0) * 64.0)
                         * pow(2, 54)
                         / (hs + CAST(64 - n_hit AS DOUBLE) * pow(2, 54))
                         AS raw
                     FROM e)
         SELECT k AS l_returnflag, n_hit,
                round(CASE WHEN raw <= 160.0 AND nz > 0
                           THEN 64.0 * ln(64.0 / nz) ELSE raw END, 6)
                  AS estimate
         FROM est"""),

    // robust MAD outliers over order totals: exact doubled-order-statistic
    // medians via the distinct-agg + prefix-sum rank selection, integer
    // threshold compare (K = round(k·1.4826·10^4))
    Gate("q_mad_outliers", { (s, dir) =>
      graft.ops.Integrity.madOutliers(
        s.read.parquet(pq(dir, "orders"))
          .select(col("o_orderkey"), col("o_totalprice")),
        "o_totalprice", k = 2.0, scale = 100)
        .select(col("o_orderkey"), col("is_outlier"))
    },
      """WITH v AS (SELECT o_orderkey, round(o_totalprice * 100)::HUGEINT AS v
                    FROM orders WHERE o_totalprice IS NOT NULL),
             n AS (SELECT count(*) AS n FROM v),
             ranked AS (SELECT v, row_number() OVER (ORDER BY v) AS r FROM v),
             m2 AS (SELECT
                      (SELECT v FROM ranked, n WHERE r = (n + 1) // 2)
                      + (SELECT v FROM ranked, n WHERE r = (n + 2) // 2) AS m2),
             devs AS (SELECT o_orderkey, abs(2 * v - m2) AS dev FROM v, m2),
             dr AS (SELECT dev, row_number() OVER (ORDER BY dev) AS r FROM devs),
             d2 AS (SELECT
                      (SELECT dev FROM dr, n WHERE r = (n + 1) // 2)
                      + (SELECT dev FROM dr, n WHERE r = (n + 2) // 2) AS d2)
         SELECT o_orderkey,
                (2 * dev * 10000 > 29652 * d2) AS is_outlier
         FROM devs, d2"""),

    // Z-order (Morton) layout key: linear min-max buckets + bit
    // interleave over (l_partkey, l_suppkey) — the write-path clustering
    // key; the oracle re-derives bucket and interleave arithmetic exactly
    Gate("q_zorder", { (s, dir) =>
      val li = s.read.parquet(pq(dir, "lineitem"))
        .where(col("l_orderkey") % 199 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"))
      graft.ops.Layout.zorderKey(li, Seq("l_partkey", "l_suppkey"), bits = 8)
        .select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("zorder_key"))
    }, {
      def bucket(v: String, lo: String, hi: String) =
        s"""CASE WHEN $hi - $lo <= 0 OR $v IS NULL THEN 0
                 ELSE least(255, greatest(0,
                   floor(($v::DOUBLE - $lo) / ($hi - $lo) * 256)::BIGINT)) END"""
      val interleave = (0 until 8).flatMap { i =>
        Seq(s"(((b0 >> $i) & 1) << ${2 * i})",
          s"(((b1 >> $i) & 1) << ${2 * i + 1})")
      }.mkString("\n                  + ")
      s"""WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
                      FROM lineitem WHERE l_orderkey % 199 = 0),
             b AS (SELECT min(l_partkey)::DOUBLE AS min0,
                          max(l_partkey)::DOUBLE AS max0,
                          min(l_suppkey)::DOUBLE AS min1,
                          max(l_suppkey)::DOUBLE AS max1 FROM li),
             bk AS (SELECT l_orderkey, l_linenumber,
                      ${bucket("l_partkey", "min0", "max0")} AS b0,
                      ${bucket("l_suppkey", "min1", "max1")} AS b1
                    FROM li, b)
         SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
                ($interleave)::BIGINT AS zorder_key
         FROM bk"""
    }),

    // KMV bottom-k sketch: the 128 distinct l_partkey values with the
    // smallest md5-lattice hashes — distinct-count + uniform-sample +
    // quantile sketch in one k-row table (oracle rebuilds it exactly)
    Gate("q_kmv_sketch", { (s, dir) =>
      graft.ops.Sketches.kmvSketch(
        s.read.parquet(pq(dir, "lineitem")), "l_partkey", k = 128)
    },
      """WITH d AS (SELECT DISTINCT l_partkey::VARCHAR AS v FROM lineitem
                    WHERE l_partkey IS NOT NULL),
             h AS (SELECT ('0x' || substring(md5(v), 1, 15))::BIGINT AS kmv_hash,
                          v AS kmv_value FROM d)
         SELECT kmv_hash, kmv_value FROM h ORDER BY kmv_hash LIMIT 128"""),

    // KMV distinct-count estimator arithmetic over the same sketch
    Gate("q_kmv_estimate", { (s, dir) =>
      val sk = graft.ops.Sketches.kmvSketch(
        s.read.parquet(pq(dir, "lineitem")), "l_partkey", k = 128)
      graft.ops.Sketches.kmvDistinctEstimate(sk, k = 128)
    },
      """WITH d AS (SELECT DISTINCT l_partkey::VARCHAR AS v FROM lineitem
                    WHERE l_partkey IS NOT NULL),
             h AS (SELECT ('0x' || substring(md5(v), 1, 15))::BIGINT AS kmv_hash
                   FROM d),
             sk AS (SELECT kmv_hash FROM h ORDER BY kmv_hash LIMIT 128)
         SELECT count(*)::BIGINT AS n_sketch,
                CASE WHEN count(*) < 128 THEN count(*)::DOUBLE
                     ELSE round(127.0 * 1152921504606846976
                                / max(kmv_hash)::DOUBLE) END AS estimate
         FROM sk"""),

    // theta-style KMV set operations: distinct Jaccard / union /
    // intersection estimates of the even- vs odd-order customer
    // populations from two 256-row sketches (oracle rebuilds both)
    Gate("q_kmv_intersect", { (s, dir) =>
      val orders = s.read.parquet(pq(dir, "orders"))
      val a = graft.ops.Sketches.kmvSketch(
        orders.where(col("o_orderkey") % 2 === 0), "o_custkey", k = 256)
      val b = graft.ops.Sketches.kmvSketch(
        orders.where(col("o_orderkey") % 2 === 1), "o_custkey", k = 256)
      graft.ops.Sketches.kmvSetEstimates(a, b, k = 256)
        .select(
          col("n_union_sketch"), col("n_common"),
          round(col("jaccard_est"), 6).as("jaccard_est"),
          col("union_est"),
          round(col("intersect_est"), 6).as("intersect_est"))
    },
      """WITH da AS (SELECT DISTINCT o_custkey::VARCHAR AS v FROM orders
                     WHERE o_orderkey % 2 = 0 AND o_custkey IS NOT NULL),
             skA AS (SELECT ('0x' || substring(md5(v), 1, 15))::BIGINT AS h
                     FROM da ORDER BY 1 LIMIT 256),
             db AS (SELECT DISTINCT o_custkey::VARCHAR AS v FROM orders
                    WHERE o_orderkey % 2 = 1 AND o_custkey IS NOT NULL),
             skB AS (SELECT ('0x' || substring(md5(v), 1, 15))::BIGINT AS h
                     FROM db ORDER BY 1 LIMIT 256),
             u AS (SELECT h FROM (SELECT h FROM skA UNION SELECT h FROM skB)
                   ORDER BY h LIMIT 256),
             st AS (SELECT count(*) AS nl, max(h) AS hmax FROM u),
             cm AS (SELECT count(*) AS nc FROM u
                    WHERE h IN (SELECT h FROM skA)
                      AND h IN (SELECT h FROM skB)),
             est AS (SELECT nl, nc,
                       CASE WHEN nl < 256 THEN nl::DOUBLE
                            ELSE round(255.0 * 1152921504606846976
                                       / hmax::DOUBLE) END AS union_est,
                       CASE WHEN nl > 0 THEN nc::DOUBLE / nl END AS jac
                     FROM st CROSS JOIN cm)
         SELECT nl::BIGINT AS n_union_sketch, nc::BIGINT AS n_common,
                round(jac, 6) AS jaccard_est, union_est,
                round(jac * union_est, 6) AS intersect_est
         FROM est"""),

    // KMV quantiles of the distinct o_custkey population (discrete-rank
    // selection over the ≤ 256-row uniform sample)
    Gate("q_kmv_quantiles", { (s, dir) =>
      val sk = graft.ops.Sketches.kmvSketch(
        s.read.parquet(pq(dir, "orders")), "o_custkey", k = 256)
      graft.ops.Sketches.kmvQuantiles(sk, Seq(0.1, 0.5, 0.9))
    },
      """WITH d AS (SELECT DISTINCT o_custkey::VARCHAR AS v FROM orders
                    WHERE o_custkey IS NOT NULL),
             h AS (SELECT ('0x' || substring(md5(v), 1, 15))::BIGINT AS kmv_hash,
                          v FROM d),
             sk AS (SELECT kmv_hash, v FROM h ORDER BY kmv_hash LIMIT 256),
             ranked AS (SELECT v::DOUBLE AS val,
                          row_number() OVER (ORDER BY v::DOUBLE) AS r,
                          count(*) OVER () AS n FROM sk),
             qs AS (SELECT unnest([0.1, 0.5, 0.9])::DOUBLE AS quantile)
         SELECT q.quantile AS quantile, ranked.val AS value
         FROM qs q JOIN ranked
           ON ranked.r = greatest(1, ceil(q.quantile * ranked.n))"""),

    // whole-table column profile (ops.Profile): counts / nulls / exact
    // distincts / min-max for four part columns from ONE aggregate over
    // one scan (multi-countDistinct Expand). Integer and string columns
    // only in the gate — double rendering (sci-notation thresholds)
    // differs across engines; values still profile fine, they just don't
    // hash-compare.
    Gate("q_profile", { (s, dir) =>
      graft.ops.Profile
        .profileColumns(
          s.read.parquet(pq(dir, "part")),
          Seq("p_partkey", "p_brand", "p_type", "p_size"))
        .select(
          col("column"), col("n_rows"), col("n_null"), col("n_distinct"),
          col("min_value"), col("max_value"))
    },
      // column profile: per-column aggregates unioned
      """SELECT 'p_partkey' AS column, count(*) AS n_rows,
                count(*) - count(p_partkey) AS n_null,
                count(DISTINCT p_partkey) AS n_distinct,
                CAST(min(p_partkey) AS VARCHAR) AS min_value,
                CAST(max(p_partkey) AS VARCHAR) AS max_value
         FROM part
         UNION ALL
         SELECT 'p_brand', count(*), count(*) - count(p_brand),
                count(DISTINCT p_brand),
                CAST(min(p_brand) AS VARCHAR), CAST(max(p_brand) AS VARCHAR)
         FROM part
         UNION ALL
         SELECT 'p_type', count(*), count(*) - count(p_type),
                count(DISTINCT p_type),
                CAST(min(p_type) AS VARCHAR), CAST(max(p_type) AS VARCHAR)
         FROM part
         UNION ALL
         SELECT 'p_size', count(*), count(*) - count(p_size),
                count(DISTINCT p_size),
                CAST(min(p_size) AS VARCHAR), CAST(max(p_size) AS VARCHAR)
         FROM part"""),

    // PSI drift (ops.Drift.psi): even- vs odd-order lineitems over ten
    // l_quantity buckets, 0.5-additive smoothing, decimal-cast term sums
    // — the oracle recomputes every probability and log term with the
    // identical double ops
    Gate("q_psi", { (s, dir) =>
      val li = s.read.parquet(pq(dir, "lineitem"))
      graft.ops.Drift
        .psi(
          li.where(col("l_orderkey") % 2 === 0),
          li.where(col("l_orderkey") % 2 === 1),
          "l_quantity", lo = 1.0, hi = 51.0, nBuckets = 10)
        .select(col("n_a"), col("n_b"), round(col("psi"), 6).as("psi"))
    },
      """WITH a AS (SELECT l_quantity AS v FROM lineitem
                    WHERE l_orderkey % 2 = 0 AND l_quantity IS NOT NULL),
              b AS (SELECT l_quantity AS v FROM lineitem
                    WHERE l_orderkey % 2 = 1 AND l_quantity IS NOT NULL),
              ha AS (SELECT CAST(least(greatest(
                         floor((v - 1.0) * 10 / 50.0), 0), 9) AS BIGINT)
                         AS bucket, count(*) AS ca
                     FROM a GROUP BY 1),
              hb AS (SELECT CAST(least(greatest(
                         floor((v - 1.0) * 10 / 50.0), 0), 9) AS BIGINT)
                         AS bucket, count(*) AS cb
                     FROM b GROUP BY 1),
              sp AS (SELECT CAST(range AS BIGINT) AS bucket FROM range(10)),
              j AS (SELECT coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
                    FROM sp LEFT JOIN ha ON ha.bucket = sp.bucket
                            LEFT JOIN hb ON hb.bucket = sp.bucket),
              n AS (SELECT (SELECT count(*) FROM a) AS na,
                           (SELECT count(*) FROM b) AS nb),
              t AS (SELECT CAST(
                      ((ca + 0.5) / (CAST(na AS DOUBLE) + 5.0)
                        - (cb + 0.5) / (CAST(nb AS DOUBLE) + 5.0))
                      * ln(((ca + 0.5) / (CAST(na AS DOUBLE) + 5.0))
                           / ((cb + 0.5) / (CAST(nb AS DOUBLE) + 5.0)))
                      AS DECIMAL(28, 12)) AS term, na, nb
                    FROM j, n)
         SELECT max(na) AS n_a, max(nb) AS n_b,
                round(CAST(sum(term) AS DOUBLE), 6) AS psi
         FROM t"""),

    // chi-square drift (ops.Drift.chiSquareDrift): order-priority
    // categories across the same parity split; per-cell (O−E)²/E terms
    // decimal-cast before the sum
    Gate("q_chi2", { (s, dir) =>
      val o = s.read.parquet(pq(dir, "orders"))
      graft.ops.Drift
        .chiSquareDrift(
          o.where(col("o_orderkey") % 2 === 0),
          o.where(col("o_orderkey") % 2 === 1),
          "o_orderpriority")
        .select(
          col("n_a"), col("n_b"), col("n_categories"),
          round(col("chi2"), 6).as("chi2"))
    },
      """WITH a AS (SELECT coalesce(CAST(o_orderpriority AS VARCHAR), '<null>')
                      AS c FROM orders WHERE o_orderkey % 2 = 0),
              b AS (SELECT coalesce(CAST(o_orderpriority AS VARCHAR), '<null>')
                      AS c FROM orders WHERE o_orderkey % 2 = 1),
              ca AS (SELECT c, count(*) AS ca FROM a GROUP BY c),
              cb AS (SELECT c, count(*) AS cb FROM b GROUP BY c),
              j AS (SELECT coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
                    FROM ca FULL OUTER JOIN cb USING (c)),
              tot AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS k
                      FROM j),
              t AS (SELECT na, nb, k,
                      CAST((CAST(ca AS DOUBLE)
                             - CAST(na AS DOUBLE) * CAST(ca + cb AS DOUBLE)
                               / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                           * (CAST(ca AS DOUBLE)
                             - CAST(na AS DOUBLE) * CAST(ca + cb AS DOUBLE)
                               / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                           / (CAST(na AS DOUBLE) * CAST(ca + cb AS DOUBLE)
                              / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                           AS DECIMAL(28, 12))
                      + CAST((CAST(cb AS DOUBLE)
                             - CAST(nb AS DOUBLE) * CAST(ca + cb AS DOUBLE)
                               / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                           * (CAST(cb AS DOUBLE)
                             - CAST(nb AS DOUBLE) * CAST(ca + cb AS DOUBLE)
                               / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                           / (CAST(nb AS DOUBLE) * CAST(ca + cb AS DOUBLE)
                              / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                           AS DECIMAL(28, 12)) AS term
                    FROM j, tot)
         SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
                CAST(max(k) AS INT) AS n_categories,
                round(CAST(sum(term) AS DOUBLE), 6) AS chi2
         FROM t"""),

    // Wasserstein-1 drift (ops.Drift.wasserstein1): earth-mover distance
    // of l_extendedprice across the parity split, exact on the cent-
    // scaled integer axis — integer area sum (|r1·m − r2·n|·Δv as
    // decimals vs the oracle's HUGEINTs), one double division at the end
    Gate("q_wasserstein", { (s, dir) =>
      val li = s.read.parquet(pq(dir, "lineitem"))
      graft.ops.Drift
        .wasserstein1(
          li.where(col("l_orderkey") % 2 === 0),
          li.where(col("l_orderkey") % 2 === 1),
          "l_extendedprice", scale = 100L)
        .select(col("n_a"), col("n_b"), round(col("w1"), 6).as("w1"))
    },
      // Wasserstein-1: identical scaled-integer axis, running counts and
      // successor gaps over the union value axis, HUGEINT area sum mirrors
      // the engine's exact decimal sum, identical double division shape
      s"""$parityPriceCountsSql
              r AS (SELECT v,
                      sum(c1) OVER (ORDER BY v) AS r1,
                      sum(c2) OVER (ORDER BY v) AS r2,
                      lead(v) OVER (ORDER BY v) AS nv
                    FROM c),
              n AS (SELECT (SELECT count(*) FROM a) AS na,
                           (SELECT count(*) FROM b) AS nb),
              t AS (SELECT abs(CAST(r1 AS HUGEINT) * CAST(nb AS HUGEINT)
                               - CAST(r2 AS HUGEINT) * CAST(na AS HUGEINT))
                            * CAST(coalesce(nv - v, 0) AS HUGEINT) AS term,
                           na, nb
                    FROM r, n)
         SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
                round(CAST(sum(term) AS DOUBLE)
                      / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE)
                         * 100.0), 6) AS w1
         FROM t"""),

    // Cramér–von Mises drift (ops.Stats.cvm2Sample): the L² CDF-gap
    // integral over the same parity split on l_quantity — exact integer
    // term sum (cnt·(r1·m − r2·n)²), fixed-shape double division
    Gate("q_cvm_2sample", { (s, dir) =>
      val li = s.read.parquet(pq(dir, "lineitem"))
      graft.ops.Stats
        .cvm2Sample(
          li.where(col("l_orderkey") % 2 === 0),
          li.where(col("l_orderkey") % 2 === 1),
          "l_quantity", scale = 1L)
        .select(col("n_a"), col("n_b"), round(col("cvm_t"), 6).as("cvm_t"))
    },
      // Cramér–von Mises: identical running-count axis, integer
      // cnt·(r1·m − r2·n)² terms, identical fixed-shape double division
      """WITH a AS (SELECT CAST(round(l_quantity * 1) AS BIGINT) AS v
                    FROM lineitem
                    WHERE l_orderkey % 2 = 0 AND l_quantity IS NOT NULL),
              b AS (SELECT CAST(round(l_quantity * 1) AS BIGINT) AS v
                    FROM lineitem
                    WHERE l_orderkey % 2 = 1 AND l_quantity IS NOT NULL),
              u AS (SELECT v, 1 AS w1, 0 AS w2 FROM a
                    UNION ALL SELECT v, 0 AS w1, 1 AS w2 FROM b),
              c AS (SELECT v, sum(w1) AS c1, sum(w2) AS c2 FROM u GROUP BY v),
              r AS (SELECT v, c1, c2,
                      sum(c1) OVER (ORDER BY v) AS r1,
                      sum(c2) OVER (ORDER BY v) AS r2
                    FROM c),
              n AS (SELECT (SELECT count(*) FROM a) AS na,
                           (SELECT count(*) FROM b) AS nb),
              t AS (SELECT CAST(c1 + c2 AS HUGEINT)
                            * ((CAST(r1 AS HUGEINT) * CAST(nb AS HUGEINT)
                                - CAST(r2 AS HUGEINT) * CAST(na AS HUGEINT))
                               * (CAST(r1 AS HUGEINT) * CAST(nb AS HUGEINT)
                                  - CAST(r2 AS HUGEINT) * CAST(na AS HUGEINT)))
                           AS term, na, nb
                    FROM r, n)
         SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
                round(CAST(sum(term) AS DOUBLE)
                      / (CAST(max(na) + max(nb) AS DOUBLE)
                         * CAST(max(na) + max(nb) AS DOUBLE)
                         * CAST(max(na) AS DOUBLE)
                         * CAST(max(nb) AS DOUBLE)), 6) AS cvm_t
         FROM t"""),

    // mutual information (ops.Drift.mutualInformation): order status ×
    // priority dependence in nats — per-cell c·ln(c·N/(cx·cy)) terms
    // decimal-cast before the sum, the PSI arithmetic posture
    Gate("q_mutual_info", { (s, dir) =>
      val o = s.read.parquet(pq(dir, "orders"))
      graft.ops.Drift
        .mutualInformation(o, "o_orderstatus", "o_orderpriority")
        .select(
          col("n"), col("n_x_categories"), col("n_y_categories"),
          round(col("mi_nats"), 6).as("mi_nats"))
    },
      // mutual information: identical joint/marginal counts, identical
      // per-cell double ln terms decimal-cast before the sum
      """WITH j AS (SELECT coalesce(CAST(o_orderstatus AS VARCHAR), '<null>')
                      AS x,
                      coalesce(CAST(o_orderpriority AS VARCHAR), '<null>')
                      AS y,
                      count(*) AS cxy
                    FROM orders GROUP BY 1, 2),
              mx AS (SELECT x, sum(cxy) AS cx FROM j GROUP BY x),
              my AS (SELECT y, sum(cxy) AS cy FROM j GROUP BY y),
              tot AS (SELECT sum(cxy) AS n, count(DISTINCT x) AS kx,
                             count(DISTINCT y) AS ky FROM j),
              t AS (SELECT n, kx, ky,
                      CAST(CAST(cxy AS DOUBLE)
                           * ln((CAST(cxy AS DOUBLE) * CAST(n AS DOUBLE))
                                / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)))
                           AS DECIMAL(28, 12)) AS term
                    FROM j JOIN mx USING (x) JOIN my USING (y), tot)
         SELECT CAST(max(n) AS BIGINT) AS n,
                CAST(max(kx) AS INT) AS n_x_categories,
                CAST(max(ky) AS INT) AS n_y_categories,
                round(CAST(sum(term) AS DOUBLE) / CAST(max(n) AS DOUBLE), 6)
                  AS mi_nats
         FROM t"""),

    // corpus diversity (ops.Corpus.corpusDiversity): token entropy +
    // distinct-trigram ratio — the mode-collapse profile; decimal-cast
    // entropy terms, exact distinct counts
    Gate("q_diversity", { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      graft.ops.Corpus
        .corpusDiversity(docs, "text", n = 3)
        .select(
          col("n_tokens"), col("vocab_size"),
          round(col("token_entropy"), 6).as("token_entropy"),
          col("n_ngrams"), col("n_distinct_ngrams"),
          round(col("distinct_ngram_ratio"), 6).as("distinct_ngram_ratio"))
    },
      // diversity: identical token stream, decimal-cast entropy terms,
      // exact distinct-trigram counts
      s"""WITH toks AS (SELECT string_split($normSql, ' ') AS t
                        FROM documents WHERE text IS NOT NULL),
              uni AS (SELECT unnest(t) AS w FROM toks),
              uc AS (SELECT w, count(*) AS c FROM uni
                     WHERE w <> '' GROUP BY w),
              tot AS (SELECT sum(c) AS nt, count(*) AS vs FROM uc),
              ent AS (SELECT max(nt) AS nt, max(vs) AS vs,
                        sum(CAST(-(CAST(c AS DOUBLE) / CAST(nt AS DOUBLE))
                                 * ln(CAST(c AS DOUBLE) / CAST(nt AS DOUBLE))
                                 AS DECIMAL(28, 18))) AS e
                      FROM uc, tot),
              gr AS (SELECT unnest(list_filter(
                       list_transform(range(0, greatest(len(t)-3, 0)+1),
                                      i -> array_to_string(t[i+1:i+3], ' ')),
                       g -> len(string_split(g, ' ')) = 3)) AS gram
                     FROM toks),
              gc AS (SELECT count(*) AS ng, count(DISTINCT gram) AS nd FROM gr)
         SELECT CAST(nt AS BIGINT) AS n_tokens, CAST(vs AS BIGINT)
                  AS vocab_size,
                round(CAST(e AS DOUBLE), 6) AS token_entropy,
                CAST(ng AS BIGINT) AS n_ngrams,
                CAST(nd AS BIGINT) AS n_distinct_ngrams,
                round(CASE WHEN ng > 0
                           THEN CAST(nd AS DOUBLE) / CAST(ng AS DOUBLE)
                      END, 6) AS distinct_ngram_ratio
         FROM ent, gc"""),

    // per-source diversity (ops.Corpus.corpusDiversityByGroup): which
    // source collapsed — per-group entropy + distinct-trigram ratio
    Gate("q_diversity_by_source", { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      graft.ops.Corpus
        .corpusDiversityByGroup(docs, "text", "source", n = 3)
        .select(
          col("source"), col("n_tokens"), col("vocab_size"),
          round(col("token_entropy"), 6).as("token_entropy"),
          col("n_ngrams"), col("n_distinct_ngrams"),
          round(col("distinct_ngram_ratio"), 6).as("distinct_ngram_ratio"))
    },
      // per-source diversity: identical grouped token stream, per-group
      // decimal-cast entropy terms, exact distinct-trigram counts
      s"""WITH toks AS (SELECT coalesce(CAST(source AS VARCHAR), '<null>')
                          AS g, string_split($normSql, ' ') AS t
                        FROM documents WHERE text IS NOT NULL),
              uni AS (SELECT g, unnest(t) AS w FROM toks),
              uc AS (SELECT g, w, count(*) AS c FROM uni
                     WHERE w <> '' GROUP BY g, w),
              tot AS (SELECT g, sum(c) AS nt, count(*) AS vs
                      FROM uc GROUP BY g),
              ent AS (SELECT uc.g, max(nt) AS nt, max(vs) AS vs,
                        sum(CAST(-(CAST(c AS DOUBLE) / CAST(nt AS DOUBLE))
                                 * ln(CAST(c AS DOUBLE) / CAST(nt AS DOUBLE))
                                 AS DECIMAL(28, 18))) AS e
                      FROM uc JOIN tot ON uc.g = tot.g GROUP BY uc.g),
              gr AS (SELECT g, unnest(list_filter(
                       list_transform(range(0, greatest(len(t)-3, 0)+1),
                                      i -> array_to_string(t[i+1:i+3], ' ')),
                       x -> len(string_split(x, ' ')) = 3)) AS gram
                     FROM toks),
              gc AS (SELECT g, count(*) AS ng, count(DISTINCT gram) AS nd
                     FROM gr GROUP BY g)
         SELECT ent.g AS source, CAST(nt AS BIGINT) AS n_tokens,
                CAST(vs AS BIGINT) AS vocab_size,
                round(CAST(e AS DOUBLE), 6) AS token_entropy,
                CAST(coalesce(ng, 0) AS BIGINT) AS n_ngrams,
                CAST(coalesce(nd, 0) AS BIGINT) AS n_distinct_ngrams,
                round(CASE WHEN coalesce(ng, 0) > 0
                           THEN CAST(nd AS DOUBLE) / CAST(ng AS DOUBLE)
                      END, 6) AS distinct_ngram_ratio
         FROM ent LEFT JOIN gc ON ent.g = gc.g"""),

    // quantile-shift drift report (ops.Drift.quantileShift): which
    // percentiles of the price distribution moved, from ONE shared
    // distinct-value frame — exact integer rank selection per side
    Gate("q_quantile_shift", { (s, dir) =>
      val li = s.read.parquet(pq(dir, "lineitem"))
      graft.ops.Drift
        .quantileShift(
          li.where(col("l_orderkey") % 2 === 0),
          li.where(col("l_orderkey") % 2 === 1),
          "l_extendedprice", Seq(25, 50, 75, 90, 99), scale = 100L)
        .select(col("percent"), col("q_a"), col("q_b"), col("shift"))
    },
      // quantile shift: identical running counts, integer cross-product
      // rank selection, identical double division
      s"""$parityPriceCountsSql
              r AS (SELECT v,
                      sum(c1) OVER (ORDER BY v) AS r1,
                      sum(c2) OVER (ORDER BY v) AS r2
                    FROM c),
              n AS (SELECT (SELECT count(*) FROM a) AS na,
                           (SELECT count(*) FROM b) AS nb),
              p AS (SELECT unnest([25, 50, 75, 90, 99]) AS pc),
              sel AS (SELECT pc,
                        min(CASE WHEN r1 * 100 >= na * pc THEN v END) AS qa,
                        min(CASE WHEN r2 * 100 >= nb * pc THEN v END) AS qb
                      FROM r, n, p GROUP BY pc)
         SELECT CAST(pc AS INT) AS percent,
                CAST(qa AS DOUBLE) / 100.0 AS q_a,
                CAST(qb AS DOUBLE) / 100.0 AS q_b,
                CAST(qb - qa AS DOUBLE) / 100.0 AS shift
         FROM sel"""),

    // per-group Wasserstein-1 (ops.Drift.wassersteinByGroup): by how
    // much each return-flag segment's prices drifted — per-key windows
    // carry running counts, totals, and the successor in one sort
    Gate("q_w1_by_group", { (s, dir) =>
      val li = s.read.parquet(pq(dir, "lineitem"))
      graft.ops.Drift
        .wassersteinByGroup(
          li.where(col("l_orderkey") % 2 === 0),
          li.where(col("l_orderkey") % 2 === 1),
          "l_extendedprice", "l_returnflag", scale = 100L)
        .select(
          col("l_returnflag"), col("n_a"), col("n_b"),
          round(col("w1"), 6).as("w1"))
    },
      // per-group W1: identical per-key running counts, successor gaps,
      // HUGEINT area sums, identical double division
      s"""$parityPriceCountsByFlagSql
              r AS (SELECT k, v,
                      sum(c1) OVER (PARTITION BY k ORDER BY v) AS r1,
                      sum(c2) OVER (PARTITION BY k ORDER BY v) AS r2,
                      sum(c1) OVER (PARTITION BY k) AS n,
                      sum(c2) OVER (PARTITION BY k) AS m,
                      lead(v) OVER (PARTITION BY k ORDER BY v) AS nv
                    FROM c),
              t AS (SELECT k, n, m,
                      abs(CAST(r1 AS HUGEINT) * CAST(m AS HUGEINT)
                          - CAST(r2 AS HUGEINT) * CAST(n AS HUGEINT))
                       * CAST(coalesce(nv - v, 0) AS HUGEINT) AS term
                    FROM r),
              g AS (SELECT k, max(n) AS na, max(m) AS nb,
                      sum(term) AS area
                    FROM t GROUP BY k)
         SELECT k AS l_returnflag, CAST(na AS BIGINT) AS n_a,
                CAST(nb AS BIGINT) AS n_b,
                round(CASE WHEN na > 0 AND nb > 0
                           THEN CAST(area AS DOUBLE)
                                / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                                   * 100.0)
                      END, 6) AS w1
         FROM g"""),

    // Zipf slope (ops.Corpus.zipfSlope): OLS of ln(freq) on ln(rank)
    // over the top vocabulary — decimal-cast regression terms, one
    // fixed-shape double division
    Gate("q_zipf", { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      graft.ops.Corpus
        .zipfSlope(docs, "text", topK = 10000)
        .select(
          col("n_terms"), round(col("zipf_slope"), 6).as("zipf_slope"))
    },
      // Zipf slope: identical top-K vocabulary ranks, decimal-cast ln
      // terms, identical OLS double shape
      s"""WITH toks AS (SELECT string_split($normSql, ' ') AS t
                        FROM documents WHERE text IS NOT NULL),
              uni AS (SELECT unnest(t) AS w FROM toks),
              uc AS (SELECT w, count(*) AS c FROM uni
                     WHERE w <> '' GROUP BY w),
              top AS (SELECT w, c FROM uc
                      ORDER BY c DESC, w ASC LIMIT 10000),
              rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, w ASC)
                       AS rank
                     FROM top),
              s AS (SELECT count(*) AS n,
                      sum(CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(28,18)))
                        AS sx,
                      sum(CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(28,18)))
                        AS sy,
                      sum(CAST(ln(CAST(rank AS DOUBLE))
                               * ln(CAST(c AS DOUBLE)) AS DECIMAL(28,18)))
                        AS sxy,
                      sum(CAST(ln(CAST(rank AS DOUBLE))
                               * ln(CAST(rank AS DOUBLE)) AS DECIMAL(28,18)))
                        AS sxx
                    FROM rk)
         SELECT CAST(n AS BIGINT) AS n_terms,
                round(CASE WHEN n >= 2 THEN
                        (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      END, 6) AS zipf_slope
         FROM s"""),

    // per-group KS drift (ops.Stats.ksByGroup): which return-flag
    // segments' price distributions drifted across the parity split —
    // per-key exact integer D numerators, one per-key sort carrying both
    // windows
    Gate("q_ks_by_group", { (s, dir) =>
      val li = s.read.parquet(pq(dir, "lineitem"))
      graft.ops.Stats
        .ksByGroup(
          li.where(col("l_orderkey") % 2 === 0),
          li.where(col("l_orderkey") % 2 === 1),
          "l_extendedprice", "l_returnflag", scale = 100L)
        .select(
          col("l_returnflag"), col("n_a"), col("n_b"),
          round(col("ks_d"), 6).as("ks_d"))
    },
      // per-group KS: identical per-key running counts, HUGEINT D
      // numerators, identical per-key double division
      s"""$parityPriceCountsByFlagSql
              r AS (SELECT k,
                      sum(c1) OVER (PARTITION BY k ORDER BY v) AS r1,
                      sum(c2) OVER (PARTITION BY k ORDER BY v) AS r2,
                      sum(c1) OVER (PARTITION BY k) AS n,
                      sum(c2) OVER (PARTITION BY k) AS m
                    FROM c),
              g AS (SELECT k, max(n) AS na, max(m) AS nb,
                      max(abs(CAST(r1 AS HUGEINT) * CAST(m AS HUGEINT)
                              - CAST(r2 AS HUGEINT) * CAST(n AS HUGEINT)))
                        AS num
                    FROM r GROUP BY k)
         SELECT k AS l_returnflag, CAST(na AS BIGINT) AS n_a,
                CAST(nb AS BIGINT) AS n_b,
                round(CASE WHEN na > 0 AND nb > 0
                           THEN CAST(num AS DOUBLE)
                                / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                      END, 6) AS ks_d
         FROM g"""),

    // pairwise correlation matrix (ops.Stats.correlationMatrix): all six
    // lineitem numeric pairs from ONE aggregate pass — exact pairwise-
    // complete power sums, the q_correlation double shape per pair
    // correlation matrix: the q_correlation per-pair recipe unioned over
    // all six pairs, pairwise-complete filters
    Gate("q_corr_matrix", { (s, dir) =>
      val li = s.read.parquet(pq(dir, "lineitem"))
      graft.ops.Stats
        .correlationMatrix(
          li,
          Seq(
            ("l_quantity", 1L), ("l_extendedprice", 100L),
            ("l_discount", 100L), ("l_tax", 100L)))
        .select(
          col("col_x"), col("col_y"), col("n"),
          round(col("pearson_r"), 6).as("pearson_r"))
    }, {
      val cols = Seq(
        ("l_quantity", 1L), ("l_extendedprice", 100L),
        ("l_discount", 100L), ("l_tax", 100L))
      val pairSql = for {
        i <- cols.indices
        j <- cols.indices if j > i
      } yield {
        val (cx, sx) = cols(i); val (cy, sy) = cols(j)
        s"""SELECT '$cx' AS col_x, '$cy' AS col_y, CAST(n AS BIGINT) AS n,
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
                 AS pearson_r
             FROM (SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx,
                     sum(y) AS sy, sum(x * x) AS sxx, sum(y * y) AS syy,
                     sum(x * y) AS sxy
                   FROM (SELECT CAST(round($cx * $sx) AS HUGEINT) AS x,
                           CAST(round($cy * $sy) AS HUGEINT) AS y
                         FROM lineitem
                         WHERE $cx IS NOT NULL AND $cy IS NOT NULL) b) s"""
      }
      pairSql.mkString("", "\n         UNION ALL\n         ", "")
    }),

    // exact ROC AUC (ops.Stats.aucExact): does document length rank
    // English-ness — Mann–Whitney 2U as an exact integer sum
    // (c⁺·(2r⁻ − c⁻) vs the oracle's HUGEINTs), midrank ties, one
    // fixed-shape double division
    Gate("q_auc", { (s, dir) =>
      val docs = s.read.parquet(pq(dir, "documents"))
      graft.ops.Stats
        .aucExact(docs, "n_chars", col("lang") === "en")
        .select(col("n_pos"), col("n_neg"), round(col("auc"), 6).as("auc"))
    },
      // exact AUC: identical class counts per distinct score, HUGEINT
      // 2U sum, identical (2·n⁺)·n⁻ double division shape
      """WITH d AS (SELECT CAST(round(n_chars * 1) AS BIGINT) AS v,
                      CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS w1,
                      CASE WHEN lang = 'en' THEN 0 ELSE 1 END AS w2
                    FROM documents WHERE n_chars IS NOT NULL),
              c AS (SELECT v, sum(w1) AS c1, sum(w2) AS c2 FROM d GROUP BY v),
              r AS (SELECT c1, c2,
                      sum(c2) OVER (ORDER BY v) AS r2
                    FROM c),
              n AS (SELECT sum(c1) AS np, sum(c2) AS nn FROM c),
              t AS (SELECT CAST(c1 AS HUGEINT)
                            * CAST(2 * r2 - c2 AS HUGEINT) AS term, np, nn
                    FROM r, n)
         SELECT CAST(max(np) AS BIGINT) AS n_pos,
                CAST(max(nn) AS BIGINT) AS n_neg,
                round(CAST(sum(term) AS DOUBLE)
                      / (2.0 * CAST(max(np) AS DOUBLE)
                         * CAST(max(nn) AS DOUBLE)), 6) AS auc
         FROM t"""),

    // per-group top-k frequent values (ops.Profile.groupTopK): each order
    // status's top-3 priorities — salted two-phase exact top-k, fully
    // tie-broken (count desc, value asc), "<null>" as a real category
    Gate("q_group_topk", { (s, dir) =>
      val o = s.read.parquet(pq(dir, "orders"))
      graft.ops.Profile
        .groupTopK(o, "o_orderstatus", "o_orderpriority", k = 3)
        .select(
          col("o_orderstatus"), col("value"), col("cnt"),
          col("rank").cast("int").as("rank"))
    },
      // per-group top-k: identical counts, identical (cnt desc, value asc)
      // total order
      """WITH c AS (SELECT o_orderstatus,
                      coalesce(CAST(o_orderpriority AS VARCHAR), '<null>')
                        AS value,
                      count(*) AS cnt
                    FROM orders GROUP BY 1, 2),
              r AS (SELECT o_orderstatus, value, cnt,
                      row_number() OVER (PARTITION BY o_orderstatus
                                         ORDER BY cnt DESC, value ASC)
                        AS rank
                    FROM c)
         SELECT o_orderstatus, value, CAST(cnt AS BIGINT) AS cnt,
                CAST(rank AS INT) AS rank
         FROM r WHERE rank <= 3"""),

    // equi-width histogram (ops.Stats.histogram): 10 buckets over
    // l_quantity — identical left-associated float bucket arithmetic on
    // both engines, ≤ nBuckets rows shuffled
    Gate("q_histogram", { (s, dir) =>
      graft.ops.Stats
        .histogram(
          s.read.parquet(pq(dir, "lineitem")), "l_quantity",
          lo = 1.0, hi = 51.0, nBuckets = 10)
        .select(col("bucket"), col("cnt"))
    },
      """SELECT CAST(least(greatest(
                  floor((l_quantity - 1.0) * 10 / 50.0), 0), 9) AS BIGINT)
                  AS bucket,
                count(*) AS cnt
         FROM lineitem WHERE l_quantity IS NOT NULL
         GROUP BY 1"""),

    // Pearson correlation (ops.Stats.pearsonExact): integer-scaled DECIMAL
    // sums (cents × units) so the five moments are exact; the oracle
    // re-runs the same formula over HUGEINT sums
    Gate("q_correlation", { (s, dir) =>
      graft.ops.Stats
        .pearsonExact(
          s.read.parquet(pq(dir, "lineitem")),
          "l_extendedprice", "l_quantity", scaleX = 100L)
        .select(col("n"), round(col("pearson_r"), 6).as("pearson_r"))
    },
      """WITH b AS (SELECT CAST(round(l_extendedprice * 100) AS HUGEINT) AS x,
                      CAST(round(l_quantity) AS HUGEINT) AS y
                    FROM lineitem
                    WHERE l_extendedprice IS NOT NULL
                      AND l_quantity IS NOT NULL),
              s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                      sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
                      sum(y * y) AS syy, sum(x * y) AS sxy
                    FROM b)
         SELECT CAST(n AS BIGINT) AS n,
                round(CAST(n * sxy - sx * sy AS DOUBLE)
                      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                         * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
                  AS pearson_r
         FROM s"""),

    // exact grouped moments: skewness / excess kurtosis per return flag
    // from exact decimal power sums — the closed-form double formulas run
    // in a fixed expression shape both engines evaluate identically
    Gate("q_moments", { (s, dir) =>
      graft.ops.Stats
        .momentsExact(
          s.read.parquet(pq(dir, "lineitem")),
          "l_quantity", groupCols = Seq("l_returnflag"))
        .select(
          col("l_returnflag"), col("n"),
          round(col("mean"), 6).as("mean"),
          round(col("variance_pop"), 6).as("variance_pop"),
          round(col("skewness"), 6).as("skewness"),
          round(col("kurtosis_excess"), 6).as("kurtosis_excess"))
    },
      // grouped moments: exact HUGEINT power sums, then the identical fixed
      // double expression shape as Stats.momentsExact (left-associative
      // products — IEEE ops on identical inputs give identical doubles)
      """WITH e AS (SELECT l_returnflag,
                      CAST(round(l_quantity * 1) AS HUGEINT) AS ev
                    FROM lineitem WHERE l_quantity IS NOT NULL),
              a AS (SELECT l_returnflag, count(*) AS nl,
                      sum(ev) AS rs1, sum(ev * ev) AS rs2,
                      sum(ev * ev * ev) AS rs3, sum(ev * ev * ev * ev) AS rs4
                    FROM e GROUP BY 1),
              d AS (SELECT l_returnflag, nl,
                      CAST(nl AS DOUBLE) AS n, CAST(rs1 AS DOUBLE) AS s1,
                      CAST(rs2 AS DOUBLE) AS s2, CAST(rs3 AS DOUBLE) AS s3,
                      CAST(rs4 AS DOUBLE) AS s4
                    FROM a),
              m AS (SELECT l_returnflag, nl, n, s1,
                      (n * s2 - s1 * s1) / (n * n) AS m2,
                      (n * n * s3 - 3.0 * n * s1 * s2 + 2.0 * s1 * s1 * s1)
                        / (n * n * n) AS m3,
                      (n * n * n * s4 - 4.0 * n * n * s1 * s3
                         + 6.0 * n * s1 * s1 * s2 - 3.0 * s1 * s1 * s1 * s1)
                        / (n * n * n * n) AS m4
                    FROM d)
         SELECT l_returnflag, nl AS n,
                round(s1 / n / 1.0, 6) AS mean,
                round(m2 / (1.0 * 1.0), 6) AS variance_pop,
                round(CASE WHEN nl >= 2 AND m2 > 0.0
                           THEN m3 / (m2 * sqrt(m2)) END, 6) AS skewness,
                round(CASE WHEN nl >= 2 AND m2 > 0.0
                           THEN m4 / (m2 * m2) - 3.0 END, 6) AS kurtosis_excess
         FROM m"""),

    // exact per-group percentiles (ops.Stats.groupPercentiles): discrete
    // quantiles per return flag — one per-group sort carries both windows,
    // integer cross-product rank comparison, no unpartitioned window
    Gate("q_group_percentile", { (s, dir) =>
      graft.ops.Stats
        .groupPercentiles(
          s.read.parquet(pq(dir, "lineitem")), "l_returnflag", "l_quantity",
          Seq(25, 50, 90))
        .select(col("l_returnflag"), col("p25"), col("p50"), col("p90"))
    },
      """WITH c AS (SELECT l_returnflag AS g, l_quantity AS v, count(*) AS cnt
                    FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2),
              c2 AS (SELECT g, v,
                       sum(cnt) OVER (PARTITION BY g ORDER BY v) AS cum,
                       sum(cnt) OVER (PARTITION BY g) AS total
                     FROM c)
         SELECT g AS l_returnflag,
                min(CASE WHEN cum * 100 >= total * 25 THEN v END) AS p25,
                min(CASE WHEN cum * 100 >= total * 50 THEN v END) AS p50,
                min(CASE WHEN cum * 100 >= total * 90 THEN v END) AS p90
         FROM c2 GROUP BY g"""),

    // referential integrity (ops.Integrity.orphanStats): parents carved to
    // every third order so lineitems genuinely orphan — LEFT ANTI hash
    // join + one count row; the oracle runs the NOT-EXISTS directly
    Gate("q_fk_orphans", { (s, dir) =>
      import graft.ops.Integrity
      val lineitem = s.read.parquet(pq(dir, "lineitem"))
      val parents = s.read.parquet(pq(dir, "orders"))
        .where(col("o_orderkey") % 3 =!= 0)
      Integrity
        .orphanStats(lineitem, parents, Seq("l_orderkey"), Seq("o_orderkey"))
        .select(col("n_rows"), col("n_orphans"), col("n_orphan_keys"))
    },
      """WITH p AS (SELECT DISTINCT o_orderkey FROM orders
                    WHERE o_orderkey % 3 <> 0),
              c AS (SELECT l_orderkey FROM lineitem
                    WHERE l_orderkey IS NOT NULL),
              o AS (SELECT c.l_orderkey FROM c
                    LEFT JOIN p ON c.l_orderkey = p.o_orderkey
                    WHERE p.o_orderkey IS NULL)
         SELECT (SELECT count(*) FROM c) AS n_rows,
                count(*) AS n_orphans,
                count(DISTINCT l_orderkey) AS n_orphan_keys
         FROM o"""),

    // z-score outliers (ops.Integrity.zOutliers): |x−μ| > 2σ over
    // l_extendedprice, evaluated as the EXACT integer-scaled comparison
    // (x·n − S)² > k²·(n·Q − S²) in cents — no float mean/stddev can
    // flip a boundary row between engines. Oracle re-runs the same
    // HUGEINT arithmetic.
    Gate("q_outliers", { (s, dir) =>
      import graft.ops.Integrity
      Integrity
        .zOutliers(
          s.read.parquet(pq(dir, "lineitem")), "l_extendedprice",
          k = 2, scale = 100L)
        .agg(
          count(lit(1)).as("n_rows"),
          count(when(col("is_outlier"), 1)).as("n_outliers"),
          round(max(when(col("is_outlier"), col("l_extendedprice"))), 6)
            .as("max_outlier"))
    },
      """WITH b AS (SELECT l_extendedprice AS x,
                      CAST(round(l_extendedprice * 100) AS HUGEINT) AS v
                    FROM lineitem WHERE l_extendedprice IS NOT NULL),
              s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                      sum(v) AS sv, sum(v * v) AS q FROM b),
              f AS (SELECT x,
                      (v * n - sv) * (v * n - sv) > 4 * (n * q - sv * sv)
                        AS is_out
                    FROM b, s)
         SELECT count(*) AS n_rows,
                count(*) FILTER (WHERE is_out) AS n_outliers,
                round(max(CASE WHEN is_out THEN x END), 6) AS max_outlier
         FROM f"""),

    // Bloom filter (ops.Sketches): even doc_ids into a 4×4096-bit filter
    // (the set-bit table), then EVERY doc_id probed — evens must all hit
    // (no false negatives), odds hit only on deterministic collisions. The
    // oracle rebuilds bits and verdicts from the same salted md5.
    Gate("q_bloom_filter", { (s, dir) =>
      import graft.ops.Sketches
      val docs = s.read.parquet(pq(dir, "documents"))
      val members = docs.where(col("doc_id") % 2 === 0)
        .select(col("doc_id").cast("string").as("v"))
      val sketch = Sketches.bloomSketch(members, "v", hashes = 4, bits = 4096)
      val probes = docs.select(col("doc_id").cast("string").as("v"))
      Sketches.bloomContains(sketch, probes, "v", hashes = 4, bits = 4096)
        .select(col("v").cast("long").as("doc_id"), col("might_contain"))
    },
      """WITH vals AS (SELECT CAST(doc_id AS VARCHAR) AS v FROM documents
                       WHERE doc_id % 2 = 0),
              ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
              bits AS (SELECT DISTINCT
                         ('0x' || substring(md5('b' || d || ':' || v), 1, 15))::BIGINT
                           % 4096 AS bit
                       FROM vals, ds),
              probes AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS v
                         FROM documents),
              pb AS (SELECT doc_id,
                       ('0x' || substring(md5('b' || d || ':' || v), 1, 15))::BIGINT
                         % 4096 AS bit
                     FROM probes, ds),
              r AS (SELECT doc_id,
                      min(CASE WHEN bits.bit IS NULL THEN 0 ELSE 1 END) AS hit
                    FROM pb LEFT JOIN bits ON pb.bit = bits.bit
                    GROUP BY doc_id)
         SELECT doc_id, hit = 1 AS might_contain FROM r"""),

    // HyperLogLog (ops.Sketches): register tables over two streams chosen
    // to land on BOTH estimator branches — 500 distinct doc_ids (raw
    // harmonic-mean branch at m=64) and the ~40-word token vocabulary
    // (linear-counting branch). Registers are integer-exact via the
    // bin()-length rank trick; the oracle rebuilds registers and the
    // estimate arithmetic.
    Gate("q_hll_uniques", { (s, dir) =>
      import graft.ops.{Sketches, TextAnalysis}
      val docs = s.read.parquet(pq(dir, "documents"))
      val ids = docs.select(col("doc_id").cast("string").as("v"))
      val toks = docs.where(col("text").isNotNull)
        .select(explode(TextAnalysis.tokens(col("text"))).as("v"))
      def leg(df: DataFrame, label: String) =
        Sketches.hllEstimate(Sketches.hllSketch(df, "v", b = 6), b = 6)
          .select(
            lit(label).as("stream"),
            col("n_hit"),
            col("n_zero_buckets"),
            round(col("estimate"), 6).as("estimate"))
      leg(ids, "doc_ids").unionByName(leg(toks, "tokens"))
    },
      // HLL: exact register rebuild (bin()-length rank) + the same estimator
      // arithmetic; ln() is the one cross-engine-libm op — round 6 absorbs it
      s"""WITH ids AS (SELECT CAST(doc_id AS VARCHAR) AS v FROM documents),
              toks AS (SELECT unnest(string_split($normSql, ' ')) AS v
                       FROM documents WHERE text IS NOT NULL),
              h1 AS (SELECT ('0x' || substring(md5(v), 1, 15))::BIGINT AS h
                     FROM ids),
              r1 AS (SELECT h % 64 AS b,
                       max(CASE WHEN h // 64 = 0 THEN 55
                                ELSE 54 - length(bin(h // 64)) + 1 END) AS r
                     FROM h1 GROUP BY 1),
              e1 AS (SELECT count(*) AS n_hit, 64 - count(*) AS nz,
                       CAST(sum(CAST(pow(2, 54 - r) AS DECIMAL(38, 0)))
                            AS DOUBLE) AS hs
                     FROM r1),
              h2 AS (SELECT ('0x' || substring(md5(v), 1, 15))::BIGINT AS h
                     FROM toks),
              r2 AS (SELECT h % 64 AS b,
                       max(CASE WHEN h // 64 = 0 THEN 55
                                ELSE 54 - length(bin(h // 64)) + 1 END) AS r
                     FROM h2 GROUP BY 1),
              e2 AS (SELECT count(*) AS n_hit, 64 - count(*) AS nz,
                       CAST(sum(CAST(pow(2, 54 - r) AS DECIMAL(38, 0)))
                            AS DOUBLE) AS hs
                     FROM r2),
              u AS (SELECT 'doc_ids' AS stream, * FROM e1
                    UNION ALL SELECT 'tokens', * FROM e2),
              est AS (SELECT stream, n_hit, nz,
                        (((0.7213 / (1 + 1.079 / 64.0)) * 64.0) * 64.0)
                          * pow(2, 54)
                          / (hs + CAST(64 - n_hit AS DOUBLE) * pow(2, 54))
                          AS raw
                      FROM u)
         SELECT stream, n_hit, CAST(nz AS BIGINT) AS n_zero_buckets,
                round(CASE WHEN raw <= 160.0 AND nz > 0
                           THEN 64.0 * ln(64.0 / nz) ELSE raw END, 6)
                  AS estimate
         FROM est"""),

    // per-group Wilson score interval on a keep-rate: the honest
    // small-n/extreme-p interval for monitoring per-source filter rates;
    // double arithmetic over exact (k, n) in a fixed operand order
    Gate("q_wilson_ci", { (s, dir) =>
      graft.ops.Stats.proportionCI(
        s.read.parquet(pq(dir, "lineitem"))
          .select(col("l_returnflag"), (col("l_quantity") > 25).as("keep")),
        "keep", Seq("l_returnflag"))
    },
      // Wilson interval: identical double operand order as Stats.proportionCI
      // (z and z² as the exact double literals the Scala side uses)
      """WITH a AS (SELECT l_returnflag, count(*)::BIGINT AS n_rows,
                      sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END)::BIGINT AS n_true
                    FROM lineitem GROUP BY 1)
         SELECT l_returnflag, n_rows, n_true,
                round(n_true::DOUBLE / n_rows, 6) AS p_hat,
                round((n_true::DOUBLE / n_rows
                         + 3.8414588206941254 / (2.0 * n_rows)
                       - 1.959963984540054 * sqrt(
                           (n_true::DOUBLE / n_rows) * (1.0 - n_true::DOUBLE / n_rows) / n_rows
                             + 3.8414588206941254 / (4.0 * n_rows * n_rows)))
                      / (1.0 + 3.8414588206941254 / n_rows), 6) AS ci_lo,
                round((n_true::DOUBLE / n_rows
                         + 3.8414588206941254 / (2.0 * n_rows)
                       + 1.959963984540054 * sqrt(
                           (n_true::DOUBLE / n_rows) * (1.0 - n_true::DOUBLE / n_rows) / n_rows
                             + 3.8414588206941254 / (4.0 * n_rows * n_rows)))
                      / (1.0 + 3.8414588206941254 / n_rows), 6) AS ci_hi
         FROM a"""),

    // one-call snapshot drift report: per-column rows — numeric columns
    // get exact KS D + W1 from ONE fused running-count pass, categorical
    // ones the chi-square statistic (ops.Drift.driftReport)
    Gate("q_drift_report", { (s, dir) =>
      val li = s.read.parquet(pq(dir, "lineitem"))
      graft.ops.Drift.driftReport(
        li.where(col("l_orderkey") % 2 === 0),
        li.where(col("l_orderkey") % 2 === 1),
        numericCols = Seq("l_extendedprice", "l_quantity"),
        categoricalCols = Seq("l_returnflag"),
        scale = 100L)
        .select(
          col("column"), col("kind"), col("n_a"), col("n_b"),
          round(col("ks_d"), 6).as("ks_d"),
          round(col("w1"), 6).as("w1"),
          round(col("chi2"), 6).as("chi2"),
          col("n_categories"))
    },
      // drift report: numeric rows via the fused KS+W1 fragment (identical
      // shapes to q_wasserstein plus the D max), categorical row via the
      // q_chi2 cell arithmetic on l_returnflag
      (driftNumSql("l_extendedprice") + "\n UNION ALL \n" +
        driftNumSql("l_quantity") + "\n UNION ALL \n" +
        """(WITH a AS (SELECT coalesce(CAST(l_returnflag AS VARCHAR), '<null>')
                         AS c FROM lineitem WHERE l_orderkey % 2 = 0),
                b AS (SELECT coalesce(CAST(l_returnflag AS VARCHAR), '<null>')
                         AS c FROM lineitem WHERE l_orderkey % 2 = 1),
                ca AS (SELECT c, count(*) AS ca FROM a GROUP BY c),
                cb AS (SELECT c, count(*) AS cb FROM b GROUP BY c),
                j AS (SELECT coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
                      FROM ca FULL OUTER JOIN cb USING (c)),
                tot AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS k
                        FROM j),
                t AS (SELECT na, nb, k,
                        CAST((CAST(ca AS DOUBLE)
                               - CAST(na AS DOUBLE) * CAST(ca + cb AS DOUBLE)
                                 / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                             * (CAST(ca AS DOUBLE)
                               - CAST(na AS DOUBLE) * CAST(ca + cb AS DOUBLE)
                                 / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                             / (CAST(na AS DOUBLE) * CAST(ca + cb AS DOUBLE)
                                / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                             AS DECIMAL(28, 12))
                        + CAST((CAST(cb AS DOUBLE)
                               - CAST(nb AS DOUBLE) * CAST(ca + cb AS DOUBLE)
                                 / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                             * (CAST(cb AS DOUBLE)
                               - CAST(nb AS DOUBLE) * CAST(ca + cb AS DOUBLE)
                                 / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                             / (CAST(nb AS DOUBLE) * CAST(ca + cb AS DOUBLE)
                                / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
                             AS DECIMAL(28, 12)) AS term
                      FROM j, tot)
           SELECT 'l_returnflag' AS "column", 'categorical' AS kind,
                  CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
                  CAST(NULL AS DOUBLE) AS ks_d, CAST(NULL AS DOUBLE) AS w1,
                  round(CAST(sum(term) AS DOUBLE), 6) AS chi2,
                  CAST(max(k) AS INT) AS n_categories
           FROM t)""")),

    // Benford first-digit audit: exact string-arithmetic digit extraction
    // (no cross-engine float log), hardcoded expectation literals
    Gate("q_benford", { (s, dir) =>
      graft.ops.Integrity.benfordProfile(
        s.read.parquet(pq(dir, "lineitem")), "l_extendedprice")
        .select(
          col("digit"),
          col("n_digit"),
          round(col("observed_share"), 6).as("observed_share"),
          round(col("expected_share"), 6).as("expected_share"),
          col("n_excluded"))
    },
      // Benford: identical digit string-arithmetic, the identical hardcoded
      // log10(1+1/d) literals, coalesced zero-count digits on a 1..9 spine
      """WITH e AS (SELECT CASE WHEN l_extendedprice IS NOT NULL
                                 AND abs(l_extendedprice) >= 1
                                 AND abs(l_extendedprice) < 1e38
                             THEN CAST(substring(CAST(CAST(floor(abs(l_extendedprice)) AS HUGEINT) AS VARCHAR), 1, 1) AS INT)
                           END AS d
                    FROM lineitem),
              c AS (SELECT d, count(*)::BIGINT AS n FROM e WHERE d IS NOT NULL GROUP BY 1),
              t AS (SELECT sum(n)::BIGINT AS tot FROM c),
              x AS (SELECT count(*)::BIGINT AS nex FROM e WHERE d IS NULL),
              s AS (SELECT CAST(unnest(range(1, 10)) AS INT) AS digit),
              ex AS (SELECT digit,
                       CASE digit
                         WHEN 1 THEN 0.3010299956639812
                         WHEN 2 THEN 0.17609125905568124
                         WHEN 3 THEN 0.12493873660829992
                         WHEN 4 THEN 0.09691001300805642
                         WHEN 5 THEN 0.07918124604762482
                         WHEN 6 THEN 0.06694678963061322
                         WHEN 7 THEN 0.05799194697768673
                         WHEN 8 THEN 0.05115252244738129
                         ELSE 0.04575749056067514 END AS es
                     FROM s)
         SELECT ex.digit AS digit,
                coalesce(c.n, 0)::BIGINT AS n_digit,
                round(coalesce(c.n, 0)::DOUBLE / tot::DOUBLE, 6) AS observed_share,
                round(es, 6) AS expected_share,
                nex AS n_excluded
         FROM ex LEFT JOIN c ON ex.digit = c.d, t, x"""),

    // robust trimmed + winsorized mean: exact-rank tail handling on the
    // distinct-value prefix-sum scheme — no global sort (ops.Stats)
    Gate("q_trimmed_mean", { (s, dir) =>
      graft.ops.Stats.trimmedMean(
        s.read.parquet(pq(dir, "lineitem")), "l_extendedprice",
        trimFraction = 0.1, scale = 100L)
        .select(
          col("n"), col("n_trimmed_each_side"),
          round(col("trimmed_mean"), 6).as("trimmed_mean"),
          round(col("winsorized_mean"), 6).as("winsorized_mean"),
          round(col("lo_cut"), 6).as("lo_cut"),
          round(col("hi_cut"), 6).as("hi_cut"))
    },
      // trimmed/winsorized mean: running counts over distinct scaled values,
      // exact kept-multiplicity overlap, identical double shapes
      """WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
                           count(*)::BIGINT AS cnt
                    FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
              r AS (SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS run FROM c),
              t AS (SELECT sum(cnt)::BIGINT AS n FROM c),
              p AS (SELECT n, CAST(floor(0.1 * n) AS BIGINT) AS k FROM t),
              a AS (SELECT any_value(n) AS n, any_value(k) AS k,
                           sum(greatest(0, least(run, n - k)
                                 - greatest(run - cnt, k))::HUGEINT * v::HUGEINT) AS s,
                           min(CASE WHEN run >= k + 1 THEN v END) AS lo,
                           min(CASE WHEN run >= n - k THEN v END) AS hi
                    FROM r, p)
         SELECT n, k AS n_trimmed_each_side,
                round(s::DOUBLE / (n - 2 * k)::DOUBLE / 100.0, 6) AS trimmed_mean,
                round((s::DOUBLE + k::DOUBLE * lo::DOUBLE + k::DOUBLE * hi::DOUBLE)
                      / n::DOUBLE / 100.0, 6) AS winsorized_mean,
                round(lo::DOUBLE / 100.0, 6) AS lo_cut,
                round(hi::DOUBLE / 100.0, 6) AS hi_cut
         FROM a"""),

    // corpus concentration: exact Gini + HHI + top share of per-source
    // character mass — bucketed global rank, decimal-exact rank*w sums
    Gate("q_concentration", { (s, dir) =>
      graft.ops.Stats.concentrationProfile(
        s.read.parquet(pq(dir, "documents")), "source", "n_chars")
        .select(
          col("n_groups"),
          round(col("total_weight"), 6).as("total_weight"),
          round(col("gini"), 6).as("gini"),
          round(col("hhi"), 6).as("hhi"),
          round(col("top_share"), 6).as("top_share"),
          col("n_negative"))
    },
      // concentration: ranks ascending by (weight, key), exact HUGEINT
      // rank*w and w^2 sums, single divisions in the identical shapes
      """WITH w AS (SELECT source AS k, sum(n_chars)::BIGINT AS w
                    FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
              r AS (SELECT k, w,
                      row_number() OVER (ORDER BY w::DOUBLE, k) AS rk FROM w),
              a AS (SELECT count(*)::BIGINT AS g, sum(w) AS tw,
                           sum(rk::HUGEINT * w::HUGEINT) AS rw,
                           sum(w::HUGEINT * w::HUGEINT) AS w2,
                           max(w) AS mx,
                           sum(CASE WHEN w < 0 THEN 1 ELSE 0 END)::BIGINT AS neg
                    FROM r)
         SELECT g AS n_groups,
                round(tw::DOUBLE, 6) AS total_weight,
                round(2.0 * rw::DOUBLE / (g::DOUBLE * tw::DOUBLE)
                      - (g::DOUBLE + 1.0) / g::DOUBLE, 6) AS gini,
                round(w2::DOUBLE / (tw::DOUBLE * tw::DOUBLE), 6) AS hhi,
                round(mx::DOUBLE / tw::DOUBLE, 6) AS top_share,
                neg AS n_negative
         FROM a"""),

    // Cohen's kappa: chance-corrected agreement between two derived labels
    // (b equals a only where l_quantity > 25 — partial, skewed agreement);
    // exact integer joint/marginals, fixed double shapes (ops.Stats)
    Gate("q_cohen_kappa", { (s, dir) =>
      graft.ops.Stats.cohensKappa(
        s.read.parquet(pq(dir, "lineitem"))
          .select(
            col("l_returnflag").as("label_a"),
            when(col("l_quantity") > 25, col("l_returnflag"))
              .otherwise(col("l_linestatus")).as("label_b")),
        "label_a", "label_b")
        .select(
          col("n"), col("n_categories_a"), col("n_categories_b"),
          round(col("p_o"), 6).as("p_o"),
          round(col("p_e"), 6).as("p_e"),
          round(col("kappa"), 6).as("kappa"))
    },
      // Cohen's kappa: exact joint/marginal integers; p_o, p_e, kappa in the
      // identical double shapes (HUGEINT marginal products before division)
      """WITH l AS (SELECT l_returnflag AS a,
                      CASE WHEN l_quantity > 25 THEN l_returnflag
                           ELSE l_linestatus END AS b
                    FROM lineitem),
              j AS (SELECT a, b, count(*)::BIGINT AS c FROM l GROUP BY 1, 2),
              ma AS (SELECT a, sum(c)::BIGINT AS ca FROM j GROUP BY 1),
              mb AS (SELECT b, sum(c)::BIGINT AS cb FROM j GROUP BY 1),
              t AS (SELECT sum(c)::BIGINT AS n,
                           sum(CASE WHEN a = b THEN c ELSE 0 END)::BIGINT AS agree,
                           count(DISTINCT a)::INT AS ka,
                           count(DISTINCT b)::INT AS kb
                    FROM j),
              pe AS (SELECT coalesce(sum(ca::HUGEINT * cb::HUGEINT), 0) AS pe_num
                     FROM ma JOIN mb ON ma.a = mb.b)
         SELECT t.n AS n, t.ka AS n_categories_a, t.kb AS n_categories_b,
                round(agree::DOUBLE / n::DOUBLE, 6) AS p_o,
                round(pe_num::DOUBLE / (n::DOUBLE * n::DOUBLE), 6) AS p_e,
                round((agree::DOUBLE / n::DOUBLE
                         - pe_num::DOUBLE / (n::DOUBLE * n::DOUBLE))
                      / (1.0 - pe_num::DOUBLE / (n::DOUBLE * n::DOUBLE)), 6) AS kappa
         FROM t, pe"""),

    // Poisson-bootstrap mean CI (one-pass map-reduce bootstrap): 50
    // deterministic Poisson(1)-weighted replicates from md5-lattice
    // uniforms (the oracle-recomputable flavor; production defaults to
    // the xxhash64 flavor — PipelineOpsSpec/StatsSpec pin it), exact
    // scaled-decimal sums, discrete rank CI — the oracle re-derives every
    // replicate mean bit-for-bit
    Gate("q_bootstrap_ci", { (s, dir) =>
      graft.ops.Stats.bootstrapMeanCI(
        s.read.parquet(pq(dir, "events")), "event_id", "value",
        nResamples = 20, alpha = 0.05, seed = "gate", md5Flavor = true)
        .select(
          col("n"), col("n_resamples"),
          round(col("mean"), 6).as("mean"),
          round(col("ci_lo"), 6).as("ci_lo"),
          round(col("ci_hi"), 6).as("ci_hi"))
    },
      // Poisson bootstrap: identical md5-lattice uniforms, the identical
      // hardcoded Poisson(1) CDF ladder, HUGEINT-exact weighted sums, the
      // same (sx/sw)/scale double shape and rank-1/rank-20 CI selection (20 replicates keep the gate cheap; both flavors are spec-pinned at higher counts)
      """WITH e AS (SELECT event_id, CAST(round(value * 1000000) AS HUGEINT) AS x
                    FROM events WHERE value IS NOT NULL),
              t AS (SELECT count(*)::BIGINT AS n, sum(x) AS tsx FROM e),
              b AS (SELECT unnest(range(1, 21)) AS bb),
              u AS (SELECT e.event_id, e.x, b.bb,
                      (('0x' || substring(md5(e.event_id::VARCHAR || ':gate:' || b.bb::VARCHAR), 1, 13))::BIGINT + 0.5)
                        / 4503599627370496.0 AS uu
                    FROM e CROSS JOIN b),
              w AS (SELECT bb, x,
                      CASE WHEN uu < 0.36787944117144233 THEN 0
                           WHEN uu < 0.7357588823428847 THEN 1
                           WHEN uu < 0.9196986029286058 THEN 2
                           WHEN uu < 0.9810118431238463 THEN 3
                           WHEN uu < 0.9963401531726563 THEN 4
                           WHEN uu < 0.9994058151824183 THEN 5
                           WHEN uu < 0.999916758850712 THEN 6
                           WHEN uu < 0.9999897508033253 THEN 7
                           ELSE 8 END AS w
                    FROM u),
              m AS (SELECT bb, sum(w::HUGEINT * x) AS sx, sum(w)::BIGINT AS sw
                    FROM w GROUP BY 1 HAVING sum(w) > 0),
              r AS (SELECT bb, (sx::DOUBLE / sw::DOUBLE) / 1000000.0 AS mean,
                      row_number() OVER (
                        ORDER BY (sx::DOUBLE / sw::DOUBLE) / 1000000.0, bb) AS rk
                    FROM m),
              ci AS (SELECT min(CASE WHEN rk = 1 THEN mean END) AS lo,
                            min(CASE WHEN rk = 20 THEN mean END) AS hi,
                            count(*)::BIGINT AS nb
                     FROM r)
         SELECT t.n AS n, CAST(20 AS INT) AS n_resamples,
                round((t.tsx::DOUBLE / t.n::DOUBLE) / 1000000.0, 6) AS mean,
                round(CASE WHEN ci.nb >= 20 THEN ci.lo END, 6) AS ci_lo,
                round(CASE WHEN ci.nb >= 20 THEN ci.hi END, 6) AS ci_hi
         FROM t, ci"""),

    // heavy-hitter diagnosis (the step before salting a skewed join):
    // keys covering strictly more than 20% of lineitem rows
    Gate("q_heavy_hitters", { (s, dir) =>
      graft.ops.Skew
        .heavyHitters(
          s.read.parquet(pq(dir, "lineitem")).select(col("l_returnflag")),
          Seq("l_returnflag"), threshold = 0.2)
        .select(
          col("l_returnflag"),
          col("n_rows"),
          round(col("share"), 6).as("share"))
    },
      """WITH c AS (SELECT l_returnflag, count(*) AS n_rows
                 FROM lineitem GROUP BY 1),
             t AS (SELECT sum(n_rows) AS total FROM c)
         SELECT l_returnflag, n_rows,
                round(n_rows::DOUBLE / total, 6) AS share
         FROM c, t WHERE n_rows > total * 0.2""")
  )

  /** Numeric fragment of the q_drift_report oracle: exact KS D and W1
    * from one running-count frame per column (the q_wasserstein shape
    * plus the D max), identical double shapes as `Drift.driftReport`.
    */
  private def driftNumSql(c: String): String =
    s"""(WITH a AS (SELECT CAST(round($c * 100) AS BIGINT) AS v
                    FROM lineitem
                    WHERE l_orderkey % 2 = 0 AND $c IS NOT NULL),
              b AS (SELECT CAST(round($c * 100) AS BIGINT) AS v
                    FROM lineitem
                    WHERE l_orderkey % 2 = 1 AND $c IS NOT NULL),
              u AS (SELECT v, 1 AS w1, 0 AS w2 FROM a
                    UNION ALL SELECT v, 0 AS w1, 1 AS w2 FROM b),
              cc AS (SELECT v, sum(w1) AS c1, sum(w2) AS c2 FROM u GROUP BY v),
              r AS (SELECT v,
                      sum(c1) OVER (ORDER BY v) AS r1,
                      sum(c2) OVER (ORDER BY v) AS r2,
                      lead(v) OVER (ORDER BY v) AS nv
                    FROM cc),
              n AS (SELECT (SELECT count(*) FROM a) AS na,
                           (SELECT count(*) FROM b) AS nb),
              t AS (SELECT abs(CAST(r1 AS HUGEINT) * CAST(nb AS HUGEINT)
                               - CAST(r2 AS HUGEINT) * CAST(na AS HUGEINT)) AS dabs,
                           abs(CAST(r1 AS HUGEINT) * CAST(nb AS HUGEINT)
                               - CAST(r2 AS HUGEINT) * CAST(na AS HUGEINT))
                             * CAST(coalesce(nv - v, 0) AS HUGEINT) AS term,
                           na, nb
                    FROM r, n)
         SELECT '$c' AS "column", 'numeric' AS kind,
                CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
                round(CAST(max(dabs) AS DOUBLE)
                      / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE)), 6)
                  AS ks_d,
                round(CAST(sum(term) AS DOUBLE)
                      / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE)
                         * 100.0), 6) AS w1,
                CAST(NULL AS DOUBLE) AS chi2,
                CAST(NULL AS INT) AS n_categories
         FROM t)"""

  /** Cent-scaled l_extendedprice of the even (`a`) and odd (`b`) orders,
    * and per-value counts of both sides `c`(v, c1, c2).
    */
  private val parityPriceCountsSql: String =
    """WITH a AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
                    FROM lineitem
                    WHERE l_orderkey % 2 = 0 AND l_extendedprice IS NOT NULL),
              b AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
                    FROM lineitem
                    WHERE l_orderkey % 2 = 1 AND l_extendedprice IS NOT NULL),
              u AS (SELECT v, 1 AS w1, 0 AS w2 FROM a
                    UNION ALL SELECT v, 0 AS w1, 1 AS w2 FROM b),
              c AS (SELECT v, sum(w1) AS c1, sum(w2) AS c2 FROM u GROUP BY v),"""

  /** [[parityPriceCountsSql]] per return flag: `c`(k, v, c1, c2). */
  private val parityPriceCountsByFlagSql: String =
    """WITH a AS (SELECT l_returnflag AS k,
                      CAST(round(l_extendedprice * 100) AS BIGINT) AS v
                    FROM lineitem
                    WHERE l_orderkey % 2 = 0
                      AND l_extendedprice IS NOT NULL
                      AND l_returnflag IS NOT NULL),
              b AS (SELECT l_returnflag AS k,
                      CAST(round(l_extendedprice * 100) AS BIGINT) AS v
                    FROM lineitem
                    WHERE l_orderkey % 2 = 1
                      AND l_extendedprice IS NOT NULL
                      AND l_returnflag IS NOT NULL),
              u AS (SELECT k, v, 1 AS w1, 0 AS w2 FROM a
                    UNION ALL SELECT k, v, 0 AS w1, 1 AS w2 FROM b),
              c AS (SELECT k, v, sum(w1) AS c1, sum(w2) AS c2
                    FROM u GROUP BY k, v),"""
}
