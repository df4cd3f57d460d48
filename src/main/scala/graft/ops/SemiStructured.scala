package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semi-structured (JSON) column operators: typed extraction via the
  * codegen'd `from_json` (JsonToStructs — no UDF) and malformed-payload
  * accounting. Event `props`, API payloads, and crawl metadata all arrive
  * as JSON strings at 100 TB; the posture here is one projection per
  * extraction and an aggregate for the health signal.
  */
object SemiStructured {

  /** Adds `parsed` (typed struct) and `json_ok` (false for malformed
    * rows) next to the raw column. Malformed detection uses the standard
    * corrupt-record column: PERMISSIVE parsing cannot be told apart from
    * "all fields legitimately absent" any other way (Jackson even accepts
    * a truncated document, filling what it saw).
    */
  def withParsedJson(
      df: DataFrame,
      jsonCol: String,
      ddl: String): DataFrame = {
    val corrupt = "_corrupt_record"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
      .add(corrupt, org.apache.spark.sql.types.StringType)
    val parsed = from_json(
      col(jsonCol), schema, Map("columnNameOfCorruptRecord" -> corrupt))
    df.withColumn("parsed", parsed)
      .withColumn(
        "json_ok",
        col(jsonCol).isNotNull && parsed.isNotNull &&
          parsed.getField(corrupt).isNull)
  }

  /** Fraction of non-null documents that fail to parse — the schema-drift
    * / corruption alarm for an ingestion feed. One aggregate.
    */
  def malformedFraction(df: DataFrame, jsonCol: String, ddl: String): Double = {
    val row = withParsedJson(df.where(col(jsonCol).isNotNull), jsonCol, ddl)
      .agg(
        count(lit(1)).as("n"),
        count(when(!col("json_ok"), 1)).as("bad"))
      .head()
    val total = row.getLong(0)
    if (total == 0L) 0.0 else row.getLong(1).toDouble / total
  }
}
