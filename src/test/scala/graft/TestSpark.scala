package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One shared local session for the whole suite (the Spark analogue of the
  * reference's module-scoped engine fixture, `tests/integration/conftest.py`).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // managed tables (BucketingSpec) go to /tmp, never the repo tree
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark jobs started by `body`. The listener bus is drained before the
    * counter registers (earlier jobs' events are not counted) and after the
    * body (all of its events are).
    */
  def countJobs(body: => Any): Int = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      ListenerBusDrain(sc)
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  /** Janino class compilations started by `body`, read from Spark's public
    * codegen counter the way `countJobs` counts jobs. The counter is
    * JVM-wide, so this reads true only while nothing else compiles.
    */
  def countCompiles(body: => Any): Long = {
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    body
    compiles.getCount - before
  }

  def intDf(name: String, values: Seq[Integer]): DataFrame = {
    val rows = values.map(v => Row(v))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("col_int", IntegerType))))
  }

  /** mix_table fixture shape (reference `conftest.py:141-180`):
    * col_int, col_varchar, col_date.
    */
  def mixDf(rows: Seq[(Integer, String, String)]): DataFrame = {
    val data = rows.map { case (i, s, d) =>
      Row(i, s, if (d == null) null else java.sql.Date.valueOf(d))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, 2),
      StructType(Seq(
        StructField("col_int", IntegerType),
        StructField("col_varchar", StringType),
        StructField("col_date", DateType))))
  }

  /** Interval fixture: id1, start, end (dates). */
  def intervalDf(rows: Seq[(Integer, String, String)]): DataFrame = {
    val data = rows.map { case (k, s, e) =>
      Row(k, java.sql.Date.valueOf(s), java.sql.Date.valueOf(e))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, 2),
      StructType(Seq(
        StructField("id1", IntegerType),
        StructField("date_start", DateType),
        StructField("date_end", DateType))))
  }

  def numIntervalDf(rows: Seq[(Integer, java.lang.Double, java.lang.Double)]): DataFrame = {
    val data = rows.map { case (k, s, e) => Row(k, s, e) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, 2),
      StructType(Seq(
        StructField("id1", IntegerType),
        StructField("range_start", DoubleType),
        StructField("range_end", DoubleType))))
  }

  /** 2-D interval fixture: id1, (s1, e1) × (s2, e2), doubles. */
  def num2dIntervalDf(
      rows: Seq[(Integer, java.lang.Double, java.lang.Double, java.lang.Double, java.lang.Double)])
      : DataFrame = {
    val data = rows.map { case (k, s1, e1, s2, e2) => Row(k, s1, e1, s2, e2) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, 2),
      StructType(Seq(
        StructField("id1", IntegerType),
        StructField("s1", DoubleType),
        StructField("e1", DoubleType),
        StructField("s2", DoubleType),
        StructField("e2", DoubleType))))
  }

  def num3dIntervalDf(rows: Seq[(Integer, Seq[java.lang.Double])]): DataFrame = {
    val data = rows.map { case (k, cs) => Row(k +: cs: _*) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, 2),
      StructType(
        StructField("id1", IntegerType) +:
          (1 to 3).flatMap(d => Seq(
            StructField(s"s$d", DoubleType),
            StructField(s"e$d", DoubleType)))))
  }
}
