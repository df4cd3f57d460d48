package graft.runner

import org.apache.spark.sql.SparkSession

import graft.core.TestResult
import graft.requirements.Requirement

/** Plain test runner (the engine-side analogue of the reference's pytest
  * integration, `src/datajudge/pytest_integration.py:35-56`): flattens
  * requirements to (testId, thunk) pairs; `runAll` executes them and returns
  * results; `main`-style exit code = number of failures.
  *
  * ScalaTest users instead generate one registered test per constraint:
  * {{{
  * class MySpec extends AnyFunSuite {
  *   Runner.collectDataTests(requirements).foreach { case (id, thunk) =>
  *     test(id) { val r = thunk(spark); assert(r.outcome, r.message) }
  *   }
  * }
  * }}}
  */
object Runner {

  /** One (test id, thunk) per constraint. A thunk tests its constraint
    * through its requirement's retrieval scope, so the thunks of one
    * requirement share their retrievals whatever order (or thread) they run
    * in: the first to need a retrieval runs it, the others read it.
    */
  def collectDataTests(
      requirements: Seq[Requirement]): Seq[(String, SparkSession => TestResult)] =
    requirements.flatMap(r =>
      r.constraints.map(c => c.description -> ((s: SparkSession) => r.evaluate(c, s))))

  def runAll(spark: SparkSession, requirements: Seq[Requirement]): Seq[TestResult] =
    requirements.flatMap(_.test(spark))

  /** Run everything, print per-constraint outcomes, return #failures. */
  def runAndReport(
      spark: SparkSession,
      requirements: Seq[Requirement],
      formatter: graft.core.Formatter = graft.core.PlainFormatter): Int = {
    val results = runAll(spark, requirements)
    results.foreach(r => println(formatter.fmt(r.message)))
    val failures = results.count(!_.outcome)
    println(s"${results.size - failures}/${results.size} constraints passed.")
    failures
  }

  private def xmlEscape(s: String): String =
    s.flatMap {
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '&' => "&amp;"
      case '"' => "&quot;"
      case '\'' => "&apos;"
      case c if c < 0x20 && c != '\n' && c != '\t' => f"&#${c.toInt}%d;"
      case c => c.toString
    }

  /** Write results as a JUnit XML report — the CI-native surface (every
    * CI system renders JUnit XML; the reference gets this for free from
    * pytest, `pytest_integration.py` — this is the engine-side
    * equivalent). One `testcase` per constraint; failures carry the full
    * failure message plus the captured factual/target plans.
    */
  def writeJunitXml(
      results: Seq[TestResult],
      path: String,
      suiteName: String = "datajudge"): Unit = {
    val cases = results.map { r =>
      val name = xmlEscape(r.constraintDescription)
      if (r.outcome) s"""  <testcase name="$name" classname="$suiteName"/>"""
      else {
        val msg = xmlEscape(r.failureMessage.getOrElse(""))
        val detail = xmlEscape(r.message)
        s"""  <testcase name="$name" classname="$suiteName">
           |    <failure message="$msg">$detail</failure>
           |  </testcase>""".stripMargin
      }
    }
    val xml =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<testsuite name="${xmlEscape(suiteName)}" tests="${results.size}" failures="${results.count(!_.outcome)}" errors="0" skipped="0">
         |${cases.mkString("\n")}
         |</testsuite>
         |""".stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path),
      xml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** Results as a DataFrame — the audit-trail surface: append each run to
    * a parquet/table history and the constraint outcomes become data the
    * engine itself can validate (trend constraints over pass rates).
    * Schema: (constraint, outcome, failure_message).
    */
  def resultsToDf(
      spark: SparkSession,
      results: Seq[TestResult]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        results.map(r =>
          Row(r.constraintDescription, r.outcome, r.failureMessage.orNull)),
        math.max(1, math.min(results.size, 4))),
      StructType(Seq(
        StructField("constraint", StringType, nullable = false),
        StructField("outcome", BooleanType, nullable = false),
        StructField("failure_message", StringType, nullable = true))))
  }
}
