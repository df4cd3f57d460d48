package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gates.Common._

/** Oracle gates for events, streaming replays and interval joins. */
private[graft] object EventGates {

  /** Microsecond timestamp rendering, the Spark twin of the oracles'
    * `strftime(ts, '%Y-%m-%d %H:%M:%S.%f')`.
    */
  private val TsFormat = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  def gates: Seq[Gate] = Seq(
    // windowed event-stream quality profile (batch flavor of
    // streaming.StreamingChecks.windowedProfile; same plan shape Structured
    // Streaming runs incrementally with a watermark). The mean accumulates
    // in decimal on both sides: a double sum's last ulp depends on
    // summation order and can cross the 6-decimal rounding half.
    Gate("q_events_profile", { (s, dir) =>
      readEvents(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          round(avg(col("value").cast("decimal(38,9)")), 6).cast("double").as("avg_value"),
          count(when(col("value").isNull, 1)).as("n_null"))
        .select(
          col("w.start").cast("string").as("window_start"),
          col("event_type"), col("n_events"), col("avg_value"), col("n_null"))
    },
      """SELECT cast(time_bucket(INTERVAL 1 HOUR, ts) AS VARCHAR) AS window_start,
                event_type, count(*) AS n_events,
                round(avg(CAST(value AS DECIMAL(38,9))), 6) AS avg_value,
                count(*) FILTER (WHERE value IS NULL) AS n_null
         FROM events GROUP BY 1, 2"""),

    // backward as-of join (ops.Events.asofJoin): every click joined to the
    // user's most recent at-or-before purchase — union-tag sweep, one
    // window per user, no range join. DuckDB's native ASOF JOIN is the
    // oracle (tie-broken identically via max event_id per (user, ts)).
    Gate("q_asof_join", { (s, dir) =>
      val (clicks, purchases) = asofSides(s, dir)
      graft.ops.Events
        .asofJoin(
          clicks,
          purchases,
          keys = Seq("user_id"),
          leftTs = "ts",
          rightTs = "ts",
          payloadCols = Seq("event_id", "value"),
          tieBreak = Some("event_id"))
        .select(
          col("event_id"),
          col("user_id"),
          date_format(col("ts"), TsFormat).as("ts"),
          date_format(col("asof_ts"), TsFormat).as("purchase_ts"),
          col("asof_event_id").as("purchase_id"),
          round(col("asof_value"), 6).as("purchase_value"))
    },
      s"""$asofSidesSql
         SELECT c.event_id, c.user_id,
                strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
                strftime(pd.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
                pd.event_id AS purchase_id,
                round(pd.value, 6) AS purchase_value
         FROM c ASOF LEFT JOIN pd
           ON c.user_id = pd.user_id AND c.ts >= pd.ts"""),

    // trailing-window features (ops.Events.trailingAggregate): per-user
    // 1-hour rolling count + exact-decimal sum at each event — one
    // per-key RANGE window on the microsecond coordinate
    Gate("q_trailing_window", { (s, dir) =>
      val events = readEvents(s, dir)
      graft.ops.Events
        .trailingAggregate(
          events, "user_id", "ts", "value", trailing = 3600000000L)
        .select(
          col("event_id"),
          col("user_id"),
          date_format(col("ts"), TsFormat).as("ts"),
          col("trailing_count"),
          round(col("trailing_sum"), 6).as("trailing_sum"))
    },
      // trailing window: identical microsecond coordinate, RANGE frame,
      // exact decimal sums descaled in the identical double shape
      """WITH e AS (SELECT event_id, user_id, ts,
                      epoch_us(ts) AS c,
                      CAST(round(value * 1000000) AS HUGEINT) AS sv
                    FROM events WHERE ts IS NOT NULL),
              w AS (SELECT event_id, user_id, ts,
                      count(*) OVER win AS tc,
                      coalesce(sum(sv) OVER win, 0) AS tsum
                    FROM e
                    WINDOW win AS (PARTITION BY user_id ORDER BY c
                                   RANGE BETWEEN 3600000000 PRECEDING
                                   AND CURRENT ROW))
         SELECT event_id, user_id,
                strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
                CAST(tc AS BIGINT) AS trailing_count,
                round(CAST(tsum AS DOUBLE) / 1000000.0, 6) AS trailing_sum
         FROM w"""),

    // forward as-of (ops.Events.asofJoin direction=forward): the NEXT
    // purchase at or after each click — the same sweep traversed
    // coordinate-descending, vs DuckDB's native ASOF with c.ts <= pd.ts
    Gate("q_asof_forward", { (s, dir) =>
      val (clicks, purchases) = asofSides(s, dir)
      graft.ops.Events
        .asofJoin(
          clicks,
          purchases,
          keys = Seq("user_id"),
          leftTs = "ts",
          rightTs = "ts",
          payloadCols = Seq("event_id", "value"),
          tieBreak = Some("event_id"),
          direction = "forward")
        .select(
          col("event_id"),
          col("user_id"),
          date_format(col("ts"), TsFormat).as("ts"),
          date_format(col("asof_ts"), TsFormat).as("next_ts"),
          col("asof_event_id").as("next_id"),
          round(col("asof_value"), 6).as("next_value"))
    },
      s"""$asofSidesSql
         SELECT c.event_id, c.user_id,
                strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
                strftime(pd.ts, '%Y-%m-%d %H:%M:%S.%f') AS next_ts,
                pd.event_id AS next_id,
                round(pd.value, 6) AS next_value
         FROM c ASOF LEFT JOIN pd
           ON c.user_id = pd.user_id AND c.ts <= pd.ts"""),

    // nearest as-of (ops.Events.asofJoinNearest): whichever purchase is
    // closer in exact microseconds, ties to backward — two slim sweeps
    // merged by rowid vs the oracle's two native ASOF joins + CASE
    Gate("q_asof_nearest", { (s, dir) =>
      val (clicks, purchases) = asofSides(s, dir)
      graft.ops.Events
        .asofJoinNearest(
          clicks,
          purchases,
          keys = Seq("user_id"),
          leftTs = "ts",
          rightTs = "ts",
          payloadCols = Seq("event_id", "value"),
          tieBreak = Some("event_id"),
          // ts reads as TIMESTAMP_NTZ; timestamp_diff is wall-clock exact
          // on NTZ operands regardless of session tz (a session-tz cast
          // would give the two operands DIFFERENT offsets across a DST
          // transition and diverge from the oracle's epoch_us arithmetic)
          distance = Some((l, r) =>
            abs(timestamp_diff("MICROSECOND", r, l))))
        .select(
          col("event_id"),
          col("user_id"),
          date_format(col("ts"), TsFormat).as("ts"),
          date_format(col("asof_ts"), TsFormat).as("near_ts"),
          col("asof_event_id").as("near_id"),
          round(col("asof_value"), 6).as("near_value"))
    },
      s"""$asofSidesSql,
              bwd AS (SELECT c.event_id, pd.ts AS bts, pd.event_id AS bid,
                        pd.value AS bval
                      FROM c ASOF LEFT JOIN pd
                        ON c.user_id = pd.user_id AND c.ts >= pd.ts),
              fwd AS (SELECT c.event_id, pd.ts AS fts, pd.event_id AS fid,
                        pd.value AS fval
                      FROM c ASOF LEFT JOIN pd
                        ON c.user_id = pd.user_id AND c.ts <= pd.ts),
              j AS (SELECT c.event_id, c.user_id, c.ts,
                      bts, bid, bval, fts, fid, fval
                    FROM c JOIN bwd USING (event_id)
                           JOIN fwd USING (event_id)),
              pick AS (SELECT *,
                         (bts IS NULL OR (fts IS NOT NULL
                            AND abs(epoch_us(ts) - epoch_us(fts))
                                < abs(epoch_us(ts) - epoch_us(bts)))) AS cf
                       FROM j)
         SELECT event_id, user_id,
                strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
                strftime(CASE WHEN cf THEN fts ELSE bts END,
                         '%Y-%m-%d %H:%M:%S.%f') AS near_ts,
                CASE WHEN cf THEN fid ELSE bid END AS near_id,
                round(CASE WHEN cf THEN fval ELSE bval END, 6) AS near_value
         FROM pick"""),

    // gap-based sessionization (ops.Events.sessionize + sessionProfile):
    // per-user 6-hour-gap sessions, profiled — two stacked windows on one
    // per-key sort, one shuffle; decimal-cast avg for cross-engine
    // exactness (the q_mean convention)
    Gate("q_sessionize", { (s, dir) =>
      val events = readEvents(s, dir)
      val sess = graft.ops.Events.sessionize(
        events.withColumn("value", col("value").cast("decimal(38,9)")),
        "user_id", "ts", expr("INTERVAL 6 HOURS"))
      graft.ops.Events
        .sessionProfile(sess, "user_id", "ts", "value")
        .select(
          col("user_id"),
          col("session_id"),
          date_format(col("session_start"), TsFormat).as("session_start"),
          date_format(col("session_end"), TsFormat).as("session_end"),
          col("n_events"),
          round(col("avg_value"), 6).cast("double").as("avg_value"))
    },
      """WITH o AS (SELECT user_id, ts, value,
                      CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w > INTERVAL 6 HOUR
                           THEN 1 ELSE 0 END AS brk
                    FROM events
                    WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
              s AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
                      ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT)
                      AS session_id
                    FROM o)
         SELECT user_id, session_id,
                strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
                strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
                count(*) AS n_events,
                round(avg(CAST(value AS DECIMAL(38,9))), 6) AS avg_value
         FROM s GROUP BY 1, 2"""),

    // Structured Streaming driver-gate presence (VERDICT r7 stretch): the
    // streaming session profile REPLAYED as a real file stream
    // (AvailableNow + no-data flush batch, append mode, memory sink) and
    // self-compared against the batch session_window recomputation. Append
    // mode emits exactly the sessions whose end the final watermark
    // (max event time − delay) passed — a deterministic set for a bounded
    // replay — so the emitted rows must (a) exist, (b) match their batch
    // recomputation bit-for-bit on counts and within 1e-9 on the float
    // mean, and (c) be complete w.r.t. the watermark cutoff. The oracle is
    // the constant all-green row; any streaming/batch divergence flips a
    // flag and fails the gate.
    Gate("q_streaming_sessions", { (s, dir) =>
      // shared concurrent replay (streaming.Replay): all five streaming
      // gates' memory-sink views are produced by ONE replay pass per
      // (session, dir) — run serially each gate paid the full fixed
      // micro-batch setup itself and the five replays dominated the
      // streaming subtotal at sf0.1
      graft.streaming.Replay.ensure(s, dir)
      val emitted = s.table(graft.streaming.Replay.SessionsView)
      val batchEvents =
        graft.streaming.Replay.normTs(s.read.parquet(pq(dir, "events")))
      // CHECKPOINT BARRIER, not an optimization: Catalyst pushes filters on
      // grouping keys below aggregates, but a predicate on session_window's
      // start/end is NOT sound pre-merge (it drops events whose PER-ROW
      // session falls outside the bound even when merging would pull them
      // in, fabricating phantom split sessions — observed on this very
      // data). The barrier pins the merged sessions before any
      // filter/join touches them.
      val batch = graft.core.Blocks.checkpoint(
        batchEvents
          .groupBy(session_window(col("ts"), "1 hour").as("session"), col("user_id"))
          .agg(count(lit(1)).as("b_n"), avg(col("value")).as("b_avg"))
          .select(
            col("user_id"),
            col("session.start").as("session_start"),
            col("session.end").as("session_end"),
            col("b_n"), col("b_avg")))
      try {
        val joined =
          emitted.join(batch, Seq("user_id", "session_start", "session_end"), "left")
        val nEmitted = emitted.count()
        val nMismatch = joined
          .where(
            col("b_n").isNull || col("n_events") =!= col("b_n") ||
              !(abs(col("avg_value") - col("b_avg")) < 1e-9 ||
                (col("avg_value").isNull && col("b_avg").isNull)))
          .count()
        val cutoff = batchEvents.agg(max(col("ts"))).head().getAs[Any](0)
        val nExpected = batch
          .where(col("session_end") <= lit(cutoff) - expr("INTERVAL 2 HOURS"))
          .count()
        one(
          s,
          Seq("emitted_nonempty", "all_match", "complete"),
          Seq(
            String.valueOf(nEmitted > 0),
            String.valueOf(nMismatch == 0),
            String.valueOf(nEmitted == nExpected)))
      } finally graft.core.Blocks.release(batch)
    },
      """SELECT 'true' AS emitted_nonempty, 'true' AS all_match, 'true' AS complete"""),

    // bucketed range join (ops.RangeJoin): order dates as points joined
    // into sampled order-date windows — the non-equi predicate Spark would
    // plan as a nested loop, rewritten as explode-to-buckets + equi-join +
    // residual. The oracle runs the naive inequality join directly.
    Gate("q_range_join", { (s, dir) =>
      val orders = s.read.parquet(pq(dir, "orders"))
      def day(c: org.apache.spark.sql.Column) =
        datediff(c, lit("1970-01-01")).cast("long")
      val ivs = orders.where(col("o_orderkey") % 97 === 0)
        .select(
          col("o_orderkey").as("interval_id"),
          day(col("o_orderdate")).as("start_day"),
          (day(col("o_orderdate")) + col("o_orderkey") % 5 + 3).as("end_day"))
      val pts = orders.where(col("o_orderkey") % 89 === 0)
        .select(
          col("o_orderkey").as("point_id"),
          day(col("o_orderdate")).as("point_day"))
      graft.ops.RangeJoin
        .rangeJoin(pts, ivs, "point_day", "start_day", "end_day")
        .select("point_id", "interval_id", "point_day", "start_day", "end_day")
    },
      """WITH iv AS (SELECT o_orderkey AS interval_id,
                       datediff('day', DATE '1970-01-01', o_orderdate) AS start_day,
                       datediff('day', DATE '1970-01-01', o_orderdate)
                         + o_orderkey % 5 + 3 AS end_day
                     FROM orders WHERE o_orderkey % 97 = 0),
              pt AS (SELECT o_orderkey AS point_id,
                       datediff('day', DATE '1970-01-01', o_orderdate) AS point_day
                     FROM orders WHERE o_orderkey % 89 = 0)
         SELECT pt.point_id, iv.interval_id, pt.point_day,
                iv.start_day, iv.end_day
         FROM pt JOIN iv
           ON pt.point_day >= iv.start_day AND pt.point_day < iv.end_day"""),

    // streaming Count-Min sketch over a REAL file-stream replay of the
    // documents table (Complete mode: the memory sink holds the final
    // snapshot deterministically regardless of micro-batching) — the
    // sketch TABLE itself is the output, hash-compared against the same
    // full DuckDB recompute the batch q_cms_counts uses. The streaming
    // aggregation and the batch sketch are the same grouped count, so
    // replay convergence is exact, not approximate.
    Gate("q_streaming_cms", { (s, dir) =>
      graft.streaming.Replay.ensure(s, dir)
      s.table(graft.streaming.Replay.CmsView)
        .select(
          col("cms_row").cast("bigint").as("cms_row"),
          col("cms_bucket").cast("bigint").as("cms_bucket"),
          col("cnt").cast("bigint").as("cnt"))
    },
      s"""WITH toks AS (SELECT unnest(string_split($normSql, ' ')) AS t
                        FROM documents WHERE text IS NOT NULL),
              ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
              pairs AS (SELECT d,
                          ('0x' || substring(md5(d || ':' || t), 1, 15))::BIGINT
                            % 64 AS bucket
                        FROM toks, ds)
         SELECT CAST(d AS BIGINT) AS cms_row, CAST(bucket AS BIGINT) AS cms_bucket,
                CAST(count(*) AS BIGINT) AS cnt
         FROM pairs GROUP BY d, bucket"""),

    // streaming histogram over the replayed event stream: clamped-bucket
    // grouped-count state (≤ nBuckets rows), complete-mode snapshot
    // hash-compared to the batch rebuild — the drift-monitor state shape
    // joins the two sketches in the streaming driver gate
    Gate("q_streaming_histogram", { (s, dir) =>
      graft.streaming.Replay.ensure(s, dir)
      s.table(graft.streaming.Replay.HistogramView)
        .select(col("bucket"), col("cnt"))
    },
      """SELECT CAST(least(greatest(
                  floor((value - 0.0) * 20 / 500.0), 0), 19) AS BIGINT)
                  AS bucket,
                count(*) AS cnt
         FROM events WHERE value IS NOT NULL
         GROUP BY 1"""),

    // streaming HyperLogLog registers over the replayed document stream:
    // grouped-MAX state (≤ 2^b rows), complete-mode snapshot hash-compared
    // to the full DuckDB register rebuild — with q_streaming_cms this
    // pins BOTH mergeable-sketch streaming aggregations to their batch
    // equivalents in the driver gate
    Gate("q_streaming_hll", { (s, dir) =>
      graft.streaming.Replay.ensure(s, dir)
      s.table(graft.streaming.Replay.HllView)
        .select(
          col("hll_bucket").cast("bigint").as("hll_bucket"),
          col("hll_register").cast("bigint").as("hll_register"))
    },
      s"""WITH toks AS (SELECT unnest(string_split($normSql, ' ')) AS t
                        FROM documents WHERE text IS NOT NULL),
              h AS (SELECT ('0x' || substring(md5(t), 1, 15))::BIGINT AS h
                    FROM toks)
         SELECT CAST(h % 64 AS BIGINT) AS hll_bucket,
                CAST(max(CASE WHEN h // 64 = 0 THEN 55
                              ELSE 54 - length(bin(h // 64)) + 1 END)
                     AS BIGINT) AS hll_register
         FROM h GROUP BY 1"""),

    // streaming exact dedup over the replayed event stream
    // (dropDuplicatesWithinWatermark): append mode emits the first row of
    // each key exactly once, so projecting the key columns makes the
    // output deterministically the distinct key set — hash-compared to
    // DuckDB's DISTINCT. The watermark bounds the dedup state at scale;
    // the replay proves the streaming path produces the batch answer.
    Gate("q_streaming_dedup", { (s, dir) =>
      graft.streaming.Replay.ensure(s, dir)
      s.table(graft.streaming.Replay.DedupView)
    },
      """SELECT DISTINCT user_id, event_type FROM events"""),

    // volume anomalies (ops.Events.volumeAnomalies): daily event counts
    // through the exact-integer MAD rule — the ingestion-feed monitor
    Gate("q_volume_anomaly", { (s, dir) =>
      val ev = s.read.parquet(pq(dir, "events"))
      graft.ops.Events
        .volumeAnomalies(ev, "ts", "day", k = 3.5)
        .select(col("bucket_start"), col("n_events"), col("is_outlier"))
    },
      // volume anomalies: identical daily counts through the identical
      // doubled-order-statistic MAD arithmetic (k=3.5 → kQ=51891)
      """WITH c AS (SELECT date_trunc('day', ts) AS bucket_start,
                      count(*) AS n_events
                    FROM events WHERE ts IS NOT NULL GROUP BY 1),
              v AS (SELECT bucket_start, n_events,
                      n_events::HUGEINT AS v FROM c),
              n AS (SELECT count(*) AS n FROM v),
              ranked AS (SELECT v, row_number() OVER (ORDER BY v) AS r
                         FROM v),
              m2 AS (SELECT
                       (SELECT v FROM ranked, n WHERE r = (n + 1) // 2)
                       + (SELECT v FROM ranked, n WHERE r = (n + 2) // 2)
                       AS m2),
              devs AS (SELECT bucket_start, n_events, abs(2 * v - m2) AS dev
                       FROM v, m2),
              dr AS (SELECT dev, row_number() OVER (ORDER BY dev) AS r
                     FROM devs),
              d2 AS (SELECT
                       (SELECT dev FROM dr, n WHERE r = (n + 1) // 2)
                       + (SELECT dev FROM dr, n WHERE r = (n + 2) // 2)
                       AS d2)
         SELECT bucket_start, n_events,
                (2 * dev * 10000 > 51891 * d2) AS is_outlier
         FROM devs, d2"""),

    // within-key monotonicity (ops.Integrity): per user, event timestamps
    // ordered by event_id — one per-key window counts the backwards pairs
    Gate("q_monotonic", { (s, dir) =>
      import graft.ops.Integrity
      Integrity
        .monotonicityViolations(
          s.read.parquet(pq(dir, "events")), "user_id", "event_id", "ts")
        .select(col("user_id"), col("n_pairs"), col("n_violations"))
    },
      // monotonicity: identical per-key lag recomputation
      """WITH o AS (SELECT user_id, ts,
                      lag(ts) OVER (PARTITION BY user_id
                                    ORDER BY event_id, ts) AS prev
                    FROM events
                    WHERE event_id IS NOT NULL AND ts IS NOT NULL)
         SELECT user_id, count(prev) AS n_pairs,
                count(*) FILTER (WHERE ts < prev) AS n_violations
         FROM o GROUP BY user_id""")
  )

  /** The events table with `ts` normalized to a real timestamp: the column
    * has shipped both as parquet TIMESTAMP(NANOS) (int64 epoch-nanos under
    * the legacy read switch) and as a native TIMESTAMP(MICROS) — branch on
    * the dtype Spark actually read (`ts / 1000` on a timestamp throws
    * DATATYPE_MISMATCH).
    */
  private def readEvents(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.parquet(pq(dir, "events"))
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros((col("ts") / 1000).cast("long")))
      case _ => raw
    }
  }

  /** The as-of oracles' two sides: clicks `c`, and purchases `pd` with one
    * row per (user, ts), the largest event_id winning the tie.
    */
  private val asofSidesSql: String =
    """WITH c AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click'),
              p AS (SELECT user_id, ts, event_id, value,
                      row_number() OVER (PARTITION BY user_id, ts
                                         ORDER BY event_id DESC) AS rn
                    FROM events WHERE event_type = 'purchase'),
              pd AS (SELECT user_id, ts, event_id, value FROM p WHERE rn = 1)"""

  /** The events table's clicks and purchases: the two sides of the as-of
    * gates.
    */
  private def asofSides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val events = readEvents(s, dir)
    (events.where(col("event_type") === "click"),
      events.where(col("event_type") === "purchase"))
  }
}
