package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Frame builders and SQL fragments shared by more than one gate registry. */
private[gates] object Common {

  def pq(dir: String, name: String): String = s"$dir/$name.parquet"

  def one(s: SparkSession, names: Seq[String], values: Seq[Any]): DataFrame = {
    val row = org.apache.spark.sql.Row(values: _*)
    val fields = names.zip(values).map {
      case (n, _: java.lang.Long)    => org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.LongType)
      case (n, _: java.lang.Double)  => org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.DoubleType)
      case (n, _: String)            => org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType)
      case (n, _)                    => org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType)
    }
    s.createDataFrame(
      java.util.Collections.singletonList(row),
      org.apache.spark.sql.types.StructType(fields))
  }

  /** ONE cached persisted-index location per (dataset dir, index kind) —
    * no per-content dirs, so a data regeneration rebuilds IN PLACE instead
    * of leaking a corpus-sized tmpdir per run. Freshness is a RECURSIVE
    * content fingerprint of the source table (sorted
    * relative-path:length:mtime tuples, murmur-hashed — a sum of
    * length+mtime can alias and misses nested parquet layouts); `buildIt`
    * runs only when the fingerprint is stale or the index's own commit
    * marker (`meta.json`) is missing. Shared by the persisted-index gate
    * queries (`q_incremental_dedup`, `q_indexed_ann`).
    */
  def cachedIndexPath(
      dir: String, table: String, kind: String)(
      buildIt: String => Unit): String = {
    val src = new java.io.File(pq(dir, table))
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap(walk)
      else Seq(
        f.getAbsolutePath.stripPrefix(src.getAbsolutePath) +
          ":" + f.length() + ":" + f.lastModified())
    val fp = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.orderedHash(walk(src).sorted))
    val path = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft_${kind}_" + java.lang.Integer.toHexString(dir.hashCode))
      .getAbsolutePath
    val fpFile = new java.io.File(path, "source.fingerprint")
    val fresh = fpFile.exists() &&
      new String(
        java.nio.file.Files.readAllBytes(fpFile.toPath),
        java.nio.charset.StandardCharsets.UTF_8) == fp &&
      new java.io.File(path, "meta.json").exists()
    if (!fresh) {
      buildIt(path)
      java.nio.file.Files.write(
        fpFile.toPath,
        fp.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    }
    path
  }

  /** The DuckDB spelling of the corpus token normalization over `text`:
    * lowercase, non-alphanumerics to spaces, whitespace runs collapsed.
    */
  val normSql =
    "trim(regexp_replace(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')), ' +', ' ', 'g'))"
}
