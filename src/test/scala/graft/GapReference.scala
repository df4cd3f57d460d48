package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference plan for keyed interval gaps: the classic ranges-gaps SQL of
  * datajudge (`_get_interval_gaps`, `db_access.py:475-596`) spelled as two
  * per-column chains — a NOT-EXISTS sweep and a `row_number` rank per
  * column — paired by a rank equi-join on the keys. `Intervals.gapResult` and
  * `Intervals.gapViolations` fuse this into one sweep and one aggregation;
  * `GapSweepSpec` compares the two on generated inputs.
  */
object GapReference {

  /** Violating (keys, start, end) rows of `sel` grouped by `keyColumns`
    * (non-empty).
    */
  def keyedGapViolations(
      sel: DataFrame,
      keyColumns: Seq[String],
      startColumn: String,
      endColumn: String,
      gapCondition: (Column, Column) => Column): DataFrame = {
    require(keyColumns.nonEmpty, "the reference covers the keyed branch only")

    /** NOT EXISTS: the point is not strictly inside any interval of the
      * same key group, as a union-tag sweep: interval events (coord = start,
      * carrying end) and probe rows (coord = point) sort by (coord, tag) with
      * probes BEFORE events at equal coord; a probe is strictly inside some
      * other interval iff the running max of interval ends exceeds it.
      * NULL-coordinate probes are kept, NULL-start intervals are dropped,
      * NULL ends are ignored by max().
      */
    def notInOtherInterval(pointCol: String): DataFrame = {
      val probes = sel
        .withColumn("dj_coord", col(pointCol))
        .withColumn("dj_end", lit(null).cast(sel.schema(endColumn).dataType))
        .withColumn("dj_is_iv", lit(0))
      val events = sel
        .select(
          keyColumns.map(col) :+
            col(startColumn).as("dj_coord") :+
            col(endColumn).as("dj_end"): _*)
        .where(col("dj_coord").isNotNull)
        .withColumn("dj_is_iv", lit(1))
      val w = Window
        .partitionBy(keyColumns.map(col): _*)
        .orderBy(col("dj_coord"), col("dj_is_iv"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      probes
        .unionByName(events, allowMissingColumns = true)
        .withColumn("dj_runmax", max(col("dj_end")).over(w))
        .where(
          col("dj_is_iv") === 0 &&
            coalesce(!(col("dj_runmax") > col("dj_coord")), lit(true)))
        .drop("dj_coord", "dj_end", "dj_is_iv", "dj_runmax")
    }

    val wStart = Window.partitionBy(keyColumns.map(col): _*).orderBy(col(startColumn))
    val wEnd   = Window.partitionBy(keyColumns.map(col): _*).orderBy(col(endColumn))
    val startTable = notInOtherInterval(startColumn)
      .select(
        keyColumns.map(col) :+
          col(startColumn) :+
          row_number().over(wStart).as("dj_start_rank"): _*)
    val endTable = notInOtherInterval(endColumn)
      .select(
        keyColumns.map(c => col(c).as(c + "_e")) :+
          col(endColumn) :+
          row_number().over(wEnd).as("dj_end_rank"): _*)
    val joinCond = keyColumns.map(k => col(k) === col(k + "_e")).reduce(_ && _) &&
      col("dj_start_rank") === col("dj_end_rank") + 1 &&
      gapCondition(col(endColumn), col(startColumn))
    startTable
      .join(endTable, joinCond)
      .select(keyColumns.map(col) :+ col(startColumn) :+ col(endColumn): _*)
  }
}
