package graft.core

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** A named producer of a DataFrame — the unit constraints are declared over.
  *
  * Mirrors the reference's `DataSource` hierarchy
  * (datajudge `src/datajudge/data_source.py:11-105`). Where the reference
  * reflects SQLAlchemy tables lazily, we hand Catalyst a logical plan; the
  * schema is "reflected" from the catalog / file footers, never declared by
  * the user.
  *
  * Contract of `df`: the schema is fixed per source instance and
  * SparkSession — file sources infer it on the first call and reuse it —
  * while files are listed on every call, so files appended between calls
  * are read. Every call builds a fresh relation, so self-joins and excepts
  * over one source keep distinct attribute ids.
  */
trait DataSource extends Serializable {
  /** Human-readable name, used in test ids and failure messages. */
  def name: String

  /** The logical plan. Implementations must be cheap: after the first call
    * per session, no actions here.
    */
  def df(spark: SparkSession): DataFrame
}

/** Per-instance, per-session memo of an inferred schema: inference reads
  * footers or scans files (a Spark job), so a file source pays it once and
  * hands the schema to the reader on every later call. Keyed per
  * SparkSession as the constraint retrieval memo is.
  */
private[core] trait InferredSchema { self: DataSource =>
  @transient private lazy val schemas = TrieMap.empty[Int, StructType]

  protected final def inferredSchema(spark: SparkSession)(infer: => StructType): StructType =
    schemas.getOrElseUpdate(System.identityHashCode(spark), infer)
}

/** A catalog table (`TableDataSource`, reference `data_source.py:25-53`). */
final case class TableSource(table: String) extends DataSource {
  override def name: String = table
  override def df(spark: SparkSession): DataFrame = spark.table(table)
}

/** A parquet file/directory treated as a table. The idiomatic lakehouse
  * analogue of the reference's db/schema/table triple.
  */
final case class ParquetSource(path: String, label: Option[String] = None)
    extends DataSource with InferredSchema {
  override def name: String =
    label.getOrElse(path.split('/').last.stripSuffix(".parquet"))
  override def df(spark: SparkSession): DataFrame =
    spark.read.schema(inferredSchema(spark)(spark.read.parquet(path).schema)).parquet(path)
}

/** Any Spark file-based source format (csv / json / orc / text / avro ...)
  * treated as a table — the reference reaches non-DB data by loading it into
  * a database first; on a lakehouse the reader IS the loader. `options` pass
  * straight to the DataFrameReader (header, inferSchema, delimiter, ...).
  * Without `schemaDdl`, csv/json inference scans the files on the first
  * `df` call per session; at 100 TB callers should pass an explicit
  * `schemaDdl` so planning stays metadata-only.
  */
final case class FileSource(
    path: String,
    format: String,
    options: Map[String, String] = Map.empty,
    schemaDdl: Option[String] = None,
    label: Option[String] = None)
    extends DataSource with InferredSchema {
  override def name: String =
    label.getOrElse(path.split('/').last)
  override def df(spark: SparkSession): DataFrame = {
    val reader = spark.read.format(format).options(options)
    schemaDdl
      .fold(reader.schema(inferredSchema(spark)(reader.load(path).schema)))(reader.schema)
      .load(path)
  }
}

/** A raw SQL query (`RawQueryDataSource`, reference `data_source.py:79-105`).
  * Registered tables/views must already be visible to `spark.sql`.
  */
final case class QuerySource(query: String, queryName: String) extends DataSource {
  override def name: String = queryName
  override def df(spark: SparkSession): DataFrame = spark.sql(query)
}

/** An arbitrary user-built DataFrame (`ExpressionDataSource`,
  * reference `data_source.py:57-75`) — the exact analogue of wrapping a
  * composable SQLAlchemy selectable.
  */
final case class FrameSource(@transient frame: DataFrame, frameName: String)
    extends DataSource {
  override def name: String = frameName
  override def df(spark: SparkSession): DataFrame = frame
}
