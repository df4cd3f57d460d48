package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream operators beyond the reference surface: as-of join and
  * sessionization — the two time-ordered primitives a telemetry/training-
  * data pipeline needs that Spark's built-in joins don't express without a
  * range-join explosion.
  *
  * Both are one-shuffle plans: everything is windows PARTITIONED BY the
  * entity key (no global sort, no per-key quadratic rescans), the same
  * posture as the interval sweep in [[Intervals]].
  */
object Events {

  /** Backward as-of join: for every left row, the LATEST right row of the
    * same key with `rightTs <= leftTs` (`<` when `strict`) — "the state
    * that was current when the event happened". Spark has no native as-of
    * join; the naive formulations are a non-equi range join (quadratic
    * blow-up per key) or a groupBy-collect (driver-bound). This is the
    * union-tag sweep instead: right rows become carriers (coord = rightTs,
    * payload struct), left rows become probes, one window per key ordered
    * by (coord, tag, tieBreak) forward-fills the last carrier — O(n log n)
    * per key, one shuffle total.
    *
    * Tag order encodes the boundary semantics: inclusive (default) sorts
    * carriers BEFORE probes at equal coord (a right row AT the probe's
    * timestamp matches); strict flips the pair. `tieBreak` makes duplicate
    * (key, rightTs) carriers deterministic — the max tieBreak value wins,
    * matching a `row_number ... ORDER BY tieBreak DESC` pre-dedup. NULL
    * timestamps never match on either side (null right coords are dropped
    * from the carrier set; a null left coord sorts before every carrier
    * and fills nothing) — the same three-valued-logic outcome as a join
    * predicate comparing NULL.
    *
    * `withinTolerance(leftTs, rightTs)`, when given, nulls out matches
    * whose carrier is too old (e.g. `(l, r) => l - r <= expr("INTERVAL 1
    * HOUR")`), without re-scanning.
    *
    * Output: every left row (left join semantics) plus each payload column
    * as `asof_<name>` and the matched timestamp as `asof_<rightTs>`.
    *
    * The probes carry the FULL left row through the per-key window sort.
    * Projecting them to (keys, ts, rowid) and joining the payload back by
    * rowid afterwards was measured slower at every payload width (sf0.1
    * and sf1 events, 0–16 kB payloads, local[32]/128 GiB): the wide window
    * sort never spilled, while the slim spelling always paid an eager
    * checkpoint of the left table plus a wide join-back shuffle (e.g.
    * 8.3 s vs 10.5 s at 16 kB payload, sf0.1).
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      payloadCols: Seq[String],
      tieBreak: Option[String] = None,
      strict: Boolean = false,
      withinTolerance: Option[(Column, Column) => Column] = None,
      direction: String = "backward"): DataFrame = {
    require(keys.nonEmpty, "as-of join requires at least one key column")
    require(direction == "backward" || direction == "forward",
      s"direction must be backward or forward: $direction")
    val carrierTag = if (strict) 1 else 0
    val probeTag = 1 - carrierTag
    val tieExpr = tieBreak.map(col).getOrElse(lit(0))
    val payload = struct(
      col(rightTs).as("dj_rts") +: payloadCols.map(c => col(c).as(c)): _*)
    val carriers = right
      .select(
        keys.map(col) :+
          col(rightTs).as("dj_coord") :+
          payload.as("dj_rp") :+
          tieExpr.as("dj_tie"): _*)
      .where(col("dj_coord").isNotNull)
      .withColumn("dj_tag", lit(carrierTag))
    val probes = left
      .withColumn("dj_coord", col(leftTs))
      .withColumn("dj_tie", lit(null).cast(carriers.schema("dj_tie").dataType))
      .withColumn("dj_tag", lit(probeTag))
    // forward = the SAME sweep traversed coordinate-DESCENDING: the last
    // carrier seen before a probe is then the EARLIEST rightTs ≥ leftTs.
    // Tag/tie semantics carry over unchanged (carriers still sort before
    // probes at equal coord for inclusive, max tieBreak still wins);
    // nulls_first keeps NULL probe coords filling nothing, mirroring the
    // ascending default
    val coordOrd =
      if (direction == "forward") col("dj_coord").desc_nulls_first
      else col("dj_coord").asc
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(coordOrd, col("dj_tag"), col("dj_tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = probes
      .unionByName(carriers, allowMissingColumns = true)
      .withColumn("dj_fill", last(col("dj_rp"), ignoreNulls = true).over(w))
      .where(col("dj_tag") === probeTag)
    val toleranced = withinTolerance match {
      case Some(ok) =>
        filled.withColumn(
          "dj_fill",
          when(ok(col(leftTs), col("dj_fill.dj_rts")), col("dj_fill")))
      case None => filled
    }
    toleranced.select(
      left.columns.map(col) ++
        Seq(col("dj_fill.dj_rts").as(s"asof_$rightTs")) ++
        payloadCols.map(c => col(s"dj_fill.$c").as(s"asof_$c")): _*)
  }

  /** Nearest as-of join: per left row, whichever of the backward and
    * forward matches is CLOSER by `distance` (default: absolute
    * difference of the double-cast coordinates — exact for numerics,
    * second-resolution for timestamps; pass e.g.
    * `(l, r) => abs(unix_micros(l) - unix_micros(r))` for exact
    * microsecond timestamps). Ties and a missing forward match choose
    * backward. Two sweeps over SLIM probes (keys, ts, rowid — the rowid
    * pinned by one eager checkpoint, since monotonically_increasing_id is
    * partitioning-dependent and three plan branches read it) merged by
    * rowid, payload joined back once. Output schema matches [[asofJoin]].
    */
  def asofJoinNearest(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      payloadCols: Seq[String],
      tieBreak: Option[String] = None,
      distance: Option[(Column, Column) => Column] = None): DataFrame = {
    val dist = distance.getOrElse(
      (l: Column, r: Column) => abs(l.cast("double") - r.cast("double")))
    val withId = graft.core.Blocks.checkpoint(
      left.withColumn("dj_rowid", monotonically_increasing_id()))
    val slim = withId.select((keys :+ leftTs :+ "dj_rowid").map(col): _*)
    val asofCols = s"asof_$rightTs" +: payloadCols.map(c => s"asof_$c")
    def sweep(dir: String, prefix: String) = asofJoin(
      slim, right, keys, leftTs, rightTs, payloadCols, tieBreak,
      strict = false, withinTolerance = None, direction = dir)
      .select(col("dj_rowid") +:
        asofCols.map(c => col(c).as(s"$prefix$c")): _*)
    val merged = withId
      .join(sweep("backward", "b_"), Seq("dj_rowid"))
      .join(sweep("forward", "f_"), Seq("dj_rowid"))
    val bTs = col(s"b_asof_$rightTs")
    val fTs = col(s"f_asof_$rightTs")
    val chooseFwd = bTs.isNull ||
      (fTs.isNotNull && dist(col(leftTs), fTs) < dist(col(leftTs), bTs))
    merged.select(
      left.columns.map(col) ++
        asofCols.map(c =>
          when(chooseFwd, col(s"f_$c")).otherwise(col(s"b_$c")).as(c)): _*)
  }

  /** Gap-based sessionization: per key, a new session starts whenever the
    * time since the previous event exceeds `gap` (an interval or numeric
    * expression matching the timestamp type's subtraction). Adds
    * `session_id` (1-based per-key session index) — two stacked windows on
    * ONE per-key sort (lag flag + running sum), a single shuffle.
    *
    * Rows with equal timestamps always land in the same session regardless
    * of their (arbitrary) within-tie order: their in-gap flag is 0 against
    * an equal neighbor either way, so the running sum is deterministic.
    */
  def sessionize(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      gap: Column): DataFrame = {
    val wOrder = Window.partitionBy(col(keyCol)).orderBy(col(tsCol))
    val wRun = wOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col(tsCol), 1).over(wOrder)
    val newSession =
      when(prev.isNull || col(tsCol) - prev > gap, 1L).otherwise(0L)
    df.withColumn("dj_brk", newSession)
      .withColumn("session_id", sum(col("dj_brk")).over(wRun))
      .drop("dj_brk")
  }

  /** Per-session aggregate profile over [[sessionize]] output: bounds,
    * event count, and mean value — the usual "session table" a pipeline
    * joins activity metrics against.
    */
  def sessionProfile(
      sessionized: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String): DataFrame =
    sessionized
      .groupBy(col(keyCol), col("session_id"))
      .agg(
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"),
        avg(col(valueCol)).as("avg_value"))

  /** Trailing-window features per event — "this user's count/sum over
    * the previous hour, AT each event": the per-row rolling aggregate a
    * feature-engineering pipeline computes before training (velocity /
    * burst signals). One per-key RANGE window over the event-time
    * coordinate: a timestamp column rides as exact integer microseconds
    * (`trailing` is then microseconds too), a numeric column as itself
    * (`trailing` in its own units); rows with EQUAL coordinates are
    * range-frame peers and see each other, the deterministic SQL
    * convention on both engines. Sums accumulate as scaled decimals
    * (`valueScale` fixed-point digits), so the trailing sum is exact —
    * a double rolling sum would drift with partial order. One shuffle,
    * windows partitioned by key. Adds `trailing_count` and
    * `trailing_sum` (double, descaled); NULL timestamps are excluded,
    * NULL values count toward nothing but keep their row.
    */
  def trailingAggregate(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      trailing: Long,
      valueScale: Long = 1000000L): DataFrame = {
    require(trailing > 0, s"trailing must be positive: $trailing")
    import org.apache.spark.sql.types.{NumericType, TimestampNTZType, TimestampType}
    val coord = df.schema(tsCol).dataType match {
      case TimestampType => unix_micros(col(tsCol))
      case TimestampNTZType =>
        // wall-clock micros via timestamp_diff against the NTZ epoch — NOT
        // a session-tz cast, which across a DST transition would shift the
        // two sides of a trailing window by DIFFERENT offsets and grow or
        // shrink the range frame by the DST hour
        timestamp_diff(
          "MICROSECOND",
          lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
          col(tsCol))
      case _: NumericType => col(tsCol).cast("long")
      case other => throw new IllegalArgumentException(
        s"trailingAggregate needs a timestamp or numeric coordinate, got $other")
    }
    val w = Window
      .partitionBy(col(keyCol))
      .orderBy(coord)
      .rangeBetween(-trailing, Window.currentRow)
    val scaled = round(col(valueCol) * valueScale).cast("decimal(38,0)")
    df.where(col(tsCol).isNotNull)
      .withColumn("trailing_count", count(lit(1)).over(w))
      .withColumn(
        "trailing_sum",
        (coalesce(sum(scaled).over(w), lit(0).cast("decimal(38,0)"))
          .cast("double") / lit(valueScale.toDouble)))
  }

  /** Ingestion-volume anomaly detection — "did Tuesday's feed drop or
    * double": per-`bucket` event counts (date_trunc buckets) flagged by
    * the robust MAD rule ([[Integrity.madOutliers]] — doubled-order-
    * statistic medians, exact integer flag, masking-immune where a
    * z-score over the same series is not). The time series is
    * bucket-count sized, so the rank selections are trivial; the only
    * corpus-scaled work is the one counting aggregate. Out: one row per
    * bucket (bucket_start, n_events, is_outlier). NULL timestamps are
    * excluded. Callers release the MAD checkpoint via `Blocks`
    * scope/releaseAll, as with `madOutliers` itself.
    */
  def volumeAnomalies(
      df: DataFrame,
      tsCol: String,
      bucket: String = "day",
      k: Double = 3.5): DataFrame = {
    require(Set("hour", "day", "week", "month").contains(bucket),
      s"bucket must be hour/day/week/month: $bucket")
    val counts = df
      .where(col(tsCol).isNotNull)
      .groupBy(date_trunc(bucket, col(tsCol)).as("bucket_start"))
      .agg(count(lit(1)).as("n_events"))
    Integrity
      .madOutliers(counts, "n_events", k)
      .select(col("bucket_start"), col("n_events"), col("is_outlier"))
  }
}
