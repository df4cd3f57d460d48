package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One correctness gate: a Spark query over a dataset directory and the
  * DuckDB SQL that must return the same rows over the same parquet tables
  * (column names aligned on both sides; integer outputs cast to BIGINT,
  * fragile doubles rounded identically in-plan).
  */
final case class Gate(
    name: String,
    query: (SparkSession, String) => DataFrame,
    oracleSql: String)
