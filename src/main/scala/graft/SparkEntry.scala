package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.gates._

/** Driver contract (SURVEY.md §7): the smoke `entry` query and the
  * correctness gate.
  *
  * Every operator of SURVEY §2.1, and every operator of the
  * training-data pack, is one [[graft.gates.Gate]]: a Spark query paired
  * with its DuckDB oracle SQL. The gates are declared in per-domain
  * registries under `graft.gates`; `queries` and `oracleSql` are views of
  * that one list, keyed by gate name.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. TPC-H Q1-shaped
    * pricing summary — one shuffle, map-side partial aggregation.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    spark.read
      .parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        round(sum(col("l_extendedprice").cast(DecimalType(38, 6))), 2)
          .cast("double")
          .as("sum_price"),
        count(lit(1)).as("n_rows"))
  }

  private def gates: Seq[Gate] =
    ReferenceGates.gates ++ TextGates.gates ++ DedupGates.gates ++
      VectorGates.gates ++ MediaGates.gates ++ EventGates.gates ++
      SamplingGates.gates ++ StatsGates.gates

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.query).toMap

  def oracleSql: Map[String, String] =
    gates.map(g => g.name -> g.oracleSql).toMap
}
