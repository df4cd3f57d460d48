package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.constraints.{NRowsEquality, NRowsMin}
import graft.core.{DataRef, FileSource, ParquetSource}

/** The `DataSource.df` contract: the schema is fixed per source instance
  * and session and inferred once per session and file listing, files are
  * listed on every call, and every call builds a fresh relation.
  */
class DataSourceSpec extends AnyFunSuite {
  import TestSpark._

  private def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("ParquetSource: 50 df calls on one instance start exactly 1 job") {
    val path = s"${tempDir("graft-pq-schema")}/t.parquet"
    spark.range(10).write.parquet(path)
    val src = ParquetSource(path)
    assert(countJobs((1 to 50).foreach(_ => src.df(spark))) == 1)
    // a new instance over the same file listing reuses the schema
    assert(countJobs(ParquetSource(path).df(spark)) == 0)
    // an append changes the listing: a new instance infers again
    spark.range(10, 15).write.mode("append").parquet(path)
    val appended = ParquetSource(path)
    assert(countJobs(appended.df(spark)) == 1)
    assert(appended.df(spark).count() == 15)
    // an overwrite with another schema is read with the new schema
    spark.range(3).selectExpr("id", "cast(id AS string) AS label")
      .write.mode("overwrite").parquet(path)
    val rewritten = ParquetSource(path).df(spark)
    assert(rewritten.columns.toSeq == Seq("id", "label"))
    assert(rewritten.count() == 3)
  }

  test("ParquetSource: every df call is a fresh relation (self-except, self-join)") {
    val path = s"${tempDir("graft-pq-fresh")}/t.parquet"
    spark.range(10).write.parquet(path)
    val src = ParquetSource(path)
    val (a, b) = (src.df(spark), src.df(spark))
    assert(a.queryExecution.analyzed.output.map(_.exprId) !=
      b.queryExecution.analyzed.output.map(_.exprId))
    assert(a.except(b).count() == 0)
    assert(a.join(b, a("id") === b("id") + 1).count() == 9)
  }

  test("FileSource without a schema infers once per instance and session") {
    val dir = tempDir("graft-file-schema")
    val csv = new java.io.File(dir, "t.csv")
    val w = new java.io.PrintWriter(csv)
    w.println("id,label"); (1 to 9).foreach(i => w.println(s"$i,row$i")); w.close()
    val src = FileSource(
      csv.getAbsolutePath, "csv", Map("header" -> "true", "inferSchema" -> "true"))
    assert(countJobs(src.df(spark)) >= 1, "inference scans the file")
    assert(countJobs((1 to 49).foreach(_ => src.df(spark))) == 0)
    val df = src.df(spark)
    assert(df.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq(("id", "int"), ("label", "string")))
    assert(df.count() == 9)
    // a new instance with the same path, format and options reuses it
    val same = FileSource(
      csv.getAbsolutePath, "csv", Map("header" -> "true", "inferSchema" -> "true"))
    assert(countJobs(same.df(spark)) == 0)
  }

  test("appended parquet part files are seen by the same source instance") {
    val path = s"${tempDir("graft-pq-append")}/t.parquet"
    spark.range(10).coalesce(1).write.parquet(path)
    val ref = DataRef(ParquetSource(path))
    assert(NRowsEquality(ref, refValue = Some(10L)).test(spark).outcome)
    assert(NRowsMin(ref, refValue = Some(10L)).test(spark).outcome)
    spark.range(10, 15).coalesce(1).write.mode("append").parquet(path)
    assert(NRowsEquality(ref, refValue = Some(15L)).test(spark).outcome)
    assert(NRowsMin(ref, refValue = Some(15L)).test(spark).outcome)
    assert(!NRowsMin(ref, refValue = Some(16L)).test(spark).outcome)
  }
}
