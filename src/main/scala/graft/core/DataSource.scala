package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
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
  * SparkSession, and a file source infers it only for files it has not seen
  * in that session: sources with the same path, format and options over the
  * same file listing (paths, lengths, modification times) share one
  * inference, so a specification declared afresh resolves its sources
  * without a Spark job. An append or a rewrite changes the listing, and the
  * next new instance infers again. Files are listed on every call, so files
  * appended between calls are read. Every call builds a fresh relation, so
  * self-joins and excepts over one source keep distinct attribute ids.
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
  * footers or scans files (a Spark job), so a file source pays it at most
  * once and hands the schema to the reader on every later call. A new
  * instance first looks in `InferredSchema.shared`.
  */
private[core] trait InferredSchema { self: DataSource =>

  /** What identifies the files and how they are read: (path, format,
    * reader options). */
  protected def readKey: InferredSchema.ReadKey

  @transient private lazy val schemas = new java.util.WeakHashMap[SparkSession, StructType]

  /** The source as `load` reads it under its schema, which `infer` infers
    * when neither this instance nor `InferredSchema.shared` holds one. */
  protected final def read(spark: SparkSession)(infer: => StructType)(
      load: StructType => DataFrame): DataFrame = {
    def known = Option(schemas.synchronized(schemas.get(spark))).map(load)
    known.getOrElse(schemas.synchronized {
      known.getOrElse {
        val (schema, df) = InferredSchema.shared(spark, readKey)(infer)(load)
        schemas.put(spark, schema)
        df
      }
    })
  }
}

private[core] object InferredSchema {
  type ReadKey = (String, String, Map[String, String])

  // session → read key → (listing fingerprint, schema); sessions are held
  // weakly, and one entry per source keeps the memo bounded however often
  // the files change
  private val bySession =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[ReadKey, (String, StructType)]]

  /** The schema for `key` and the source read under it: the memoized schema
    * when the reader lists the same files as when it was inferred, else
    * `infer`. */
  def shared(spark: SparkSession, key: ReadKey)(infer: => StructType)(
      load: StructType => DataFrame): (StructType, DataFrame) = {
    val memo = bySession.synchronized(bySession.computeIfAbsent(spark, _ => new ConcurrentHashMap))
    Option(memo.get(key))
      .map { case (files, schema) => (files, schema, load(schema)) }
      .collect { case (files, schema, df) if listing(df).contains(files) => (schema, df) }
      .getOrElse {
        val schema = infer
        val df = load(schema)
        listing(df).foreach(files => memo.put(key, (files, schema)))
        (schema, df)
      }
  }

  /** SHA-256 of the sorted (path, length, modification time) of the files
    * `df` reads, taken from the listing its reader already made: no second
    * listing and no Spark job. None when the reader lists no files. */
  private def listing(df: DataFrame): Option[String] =
    df.queryExecution.analyzed
      .collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location }
      .collect { case index: PartitioningAwareFileIndex =>
        val digest = java.security.MessageDigest.getInstance("SHA-256")
        index.allFiles()
          .map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}\n").sorted
          .foreach(l => digest.update(l.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        digest.digest().map("%02x".format(_)).mkString
      }
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
  override protected def readKey = (path, "parquet", Map.empty[String, String])
  override def name: String =
    label.getOrElse(path.split('/').last.stripSuffix(".parquet"))
  override def df(spark: SparkSession): DataFrame =
    read(spark)(spark.read.parquet(path).schema)(spark.read.schema(_).parquet(path))
}

/** Any Spark file-based source format (csv / json / orc / text / avro ...)
  * treated as a table — the reference reaches non-DB data by loading it into
  * a database first; on a lakehouse the reader IS the loader. `options` pass
  * straight to the DataFrameReader (header, inferSchema, delimiter, ...).
  * Without `schemaDdl`, csv/json inference scans the files on the first
  * `df` call per session and file listing; at 100 TB callers should pass an
  * explicit `schemaDdl` so planning stays metadata-only.
  */
final case class FileSource(
    path: String,
    format: String,
    options: Map[String, String] = Map.empty,
    schemaDdl: Option[String] = None,
    label: Option[String] = None)
    extends DataSource with InferredSchema {
  override protected def readKey = (path, format, options)
  override def name: String =
    label.getOrElse(path.split('/').last)
  override def df(spark: SparkSession): DataFrame = {
    def reader = spark.read.format(format).options(options)
    schemaDdl.fold(read(spark)(reader.load(path).schema)(reader.schema(_).load(path)))(
      reader.schema(_).load(path))
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
