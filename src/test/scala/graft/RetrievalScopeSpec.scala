package graft

import java.nio.file.Files
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.constraints.{NRowsMax, NRowsMin, Uniqueness}
import graft.core.{DataRef, FrameSource, ParquetSource}
import graft.ops.Ops
import graft.requirements.{BetweenRequirement, Requirement, WithinRequirement}
import graft.runner.Runner

/** A requirement runs each distinct retrieval once: its scalar aggregates
  * over one (source, condition) as one aggregation, its identical grouped
  * and set retrievals once. Job and compile budgets, the `NRowsMin` cap past
  * `Int.MaxValue`, the `cacheSize = Some(0)` bypass and racing thunks.
  */
class RetrievalScopeSpec extends AnyFunSuite {
  import TestSpark._

  // the shape of the benchmark's `facts` table: 400 rows, a lognormal-ish
  // amount, four statuses and codes of which every 50th is lower-cased
  private lazy val factsPath: String = {
    val dir = Files.createTempDirectory("graft-scope-facts").toFile
    dir.deleteOnExit()
    val statuses = Seq("A", "A", "B", "C", "A", "B", "D", "A", "C", "B")
    val rows = (0 until 400).map { i =>
      val code = f"${('A' + i % 26).toChar}QX-$i%04d"
      Row(i.toLong, (i % 97) * 1.5, statuses(i % 10), if (i % 50 == 0) code.toLowerCase else code)
    }
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("amount", DoubleType),
      StructField("status", StringType), StructField("code", StringType)))
    val path = s"${dir.getAbsolutePath}/facts.parquet"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema).write.parquet(path)
    path
  }

  /** Two checks per family, as the benchmark's facts requirement declares
    * them: NRowsMin, NumericBetween, row-weighted VarCharRegex and
    * CategoricalBound, each once passing and once failing. */
  private def facts(): WithinRequirement = {
    val bounds = (pass: Boolean) =>
      Map[Any, (Double, Double)](
        "A" -> (0.35, 0.45), "B" -> (0.25, 0.35), "C" -> (0.15, 0.25),
        "D" -> (if (pass) (0.05, 0.15) else (0.2, 0.3)))
    WithinRequirement(ParquetSource(factsPath, Some("facts")))
      .addNRowsMinConstraint(400)
      .addNRowsMinConstraint(401)
      .addNumericBetweenConstraint("amount", 0.5, 0.0, 100.0)
      .addNumericBetweenConstraint("amount", 0.9, 0.0, 100.0)
      .addVarcharRegexConstraint("code", "^[A-Z]{3}-[0-9]{4}$",
        relativeTolerance = 0.03, aggregated = false)
      .addVarcharRegexConstraint("code", "^[A-Z]{3}-[0-9]{4}$",
        relativeTolerance = 0.01, aggregated = false)
      .addCategoricalBoundConstraint(Seq("status"), bounds(true))
      .addCategoricalBoundConstraint(Seq("status"), bounds(false))
  }

  private def runThunks(reqs: Seq[Requirement]): Seq[Boolean] =
    Runner.collectDataTests(reqs).map { case (_, thunk) => thunk(spark).outcome }

  private val factsOutcomes = Seq(true, false, true, false, true, false, true, false)

  test("a facts-shaped requirement runs at most 6 jobs, through thunks or test()") {
    assert(runThunks(Seq(facts())) == factsOutcomes) // warm: schema, generated code
    // one fused aggregate for the NRowsMin and NumericBetween checks (2 jobs
    // under AQE), one getUniques(code) and one getUniques(status) (2 each)
    var outcomes = Seq.empty[Boolean]
    val viaThunks = countJobs { outcomes = runThunks(Seq(facts())) }
    assert(outcomes == factsOutcomes)
    assert(viaThunks <= 6, s"facts requirement thunks launched $viaThunks jobs")
    val viaTest = countJobs { outcomes = facts().test(spark).map(_.outcome) }
    assert(outcomes == factsOutcomes)
    assert(viaTest <= 6, s"facts requirement test() launched $viaTest jobs")
    // each constraint on its own pays its own retrievals
    val alone = countJobs(facts().constraints.foreach(_.test(spark)))
    assert(alone > viaTest, s"standalone $alone jobs vs scoped $viaTest")
  }

  test("a second, freshly declared, identical facts requirement compiles 0 classes") {
    runThunks(Seq(facts()))
    runThunks(Seq(facts()))
    val compiles = countCompiles(runThunks(Seq(facts())))
    assert(compiles == 0, s"a warm facts requirement compiled $compiles classes")
  }

  test("row equality, subset and superset over one pair run one getRowSets (3 jobs)") {
    val l = mixDf((1 to 20).map(i => (Integer.valueOf(i), s"v$i", null)))
    val r = mixDf((2 to 21).map(i => (Integer.valueOf(i), s"v$i", null)))
    def between() = BetweenRequirement(FrameSource(l, "rows_l"), FrameSource(r, "rows_r"))
      .addRowEqualityConstraint(None, None, 0.05)
      .addRowSubsetConstraint(None, None, Some(0.1))
      .addRowSupersetConstraint(None, None, Some(0.01))
    assert(runThunks(Seq(between())) == Seq(false, true, false)) // warm
    var outcomes = Seq.empty[Boolean]
    val jobs = countJobs { outcomes = runThunks(Seq(between())) }
    assert(outcomes == Seq(false, true, false))
    assert(jobs <= 3, s"three row constraints over one pair launched $jobs jobs")
  }

  test("NRowsMin counts past Int.MaxValue, alone and batched") {
    val ref = DataRef(FrameSource(intDf("cap_t", Seq(1, 2, 3).map(Integer.valueOf)), "cap_t"))
    for (n <- Seq(1L << 31, (1L << 32) + 2)) {
      assert(Ops.rowCount(spark, ref, rowLimit = Some(n)) == 3L)
      val alone = NRowsMin(ref, refValue = Some(n)).test(spark)
      val req = WithinRequirement(ref.source).addNRowsMinConstraint(n).addNRowsMaxConstraint(5)
      val batched = req.test(spark).head
      for (res <- Seq(alone, batched)) {
        assert(!res.outcome)
        assert(res.failureMessage.contains(s"cap_t has 3 < $n rows. "), res.failureMessage)
        assert(res.factualQueries.nonEmpty)
      }
    }
  }

  test("batched capped counts keep the largest cap; any other member lifts it") {
    val df = intDf("caps_t", (1 to 10).map(Integer.valueOf))
    val counts = WithinRequirement(FrameSource(df, "caps_t"))
      .addNRowsMinConstraint(3).addNRowsMinConstraint(11).addNRowsMinConstraint(20)
    var results = Seq.empty[graft.core.TestResult]
    val cappedPlans = executedPlans { results = counts.test(spark) }
    assert(results.map(_.outcome) == Seq(true, false, false))
    assert(results.map(_.failureMessage).tail ==
      counts.constraints.tail.map(_.test(spark).failureMessage))
    assert(cappedPlans.size == 1 && cappedPlans.head.contains("GlobalLimit 20"), cappedPlans)
    val mixed = WithinRequirement(FrameSource(df, "caps_t"))
      .addNRowsMinConstraint(11).addNRowsMaxConstraint(20)
    var failing: graft.core.TestResult = null
    val mixedPlans = executedPlans { failing = mixed.test(spark).head }
    assert(failing.failureMessage.contains("caps_t has 10 < 11 rows. "), failing.failureMessage)
    assert(mixedPlans.size == 1 && !mixedPlans.head.contains("Limit"), mixedPlans)
  }

  /** The optimized plans of the queries `body` runs. */
  private def executedPlans(body: => Any): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.optimizedPlan.toString): Unit
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      ListenerBusDrain(spark.sparkContext)
      plans.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  test("a member that cannot be retrieved fails alone, not its batched siblings") {
    val rows = Seq(Row(1, 1.0e30, java.sql.Date.valueOf("2021-01-02")),
      Row(2, 2.0e30, java.sql.Date.valueOf("2021-01-03")))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField("k", IntegerType), StructField("big", DoubleType), StructField("d", DateType))))
    val req = WithinRequirement(FrameSource(df, "broken_t"))
      .addNRowsMinConstraint(2)
      .addNumericMinConstraint("missing", 0.0)       // no such column
      .addDateBetweenConstraint("d", 1.0, "'2021-13-45'", "'2021-01-20'") // no such date
      .addNumericMeanConstraint("big", 0.0, 1.0)     // its decimal(38,9) cast overflows
      .addNumericMaxConstraint("k", 1.0)
    val results = Runner.collectDataTests(Seq(req)).map { case (_, t) => Try(t(spark)) }
    val alone = req.constraints.map(c => Try(c.test(spark)))
    assert(results.map(_.map(_.outcome).toOption) == Seq(Some(true), None, None, None, Some(false)))
    assert(alone.map(_.map(_.outcome).toOption) == results.map(_.map(_.outcome).toOption))
    assert(results(4).get.failureMessage == alone(4).get.failureMessage)
  }

  test("cacheSize = Some(0) bypasses the requirement's scope; the others memoize") {
    val df = intDf("bypass_t", (1 to 40).map(i => Integer.valueOf(i % 25)))
    val r = DataRef(FrameSource(df, "bypass_t"), Some(Seq("col_int")))
    val uncachedCost = countJobs(Uniqueness(r, 0.9, cacheSize = Some(0)).test(spark))
    val req = WithinRequirement(r.source)
      .addUniquenessConstraint(Some(Seq("col_int")), maxDuplicateFraction = 0.9)
      .addUniquenessConstraint(Some(Seq("col_int")), maxDuplicateFraction = 0.9,
        cacheSize = Some(0))
      .addNRowsMaxConstraint(40)
    assert(req.test(spark).forall(_.outcome))
    val Seq(cached, uncached, nRows) = req.constraints
    val evaluate = (c: graft.constraints.Constraint) => countJobs(req.evaluate(c, spark))
    assert(evaluate(cached) == 0)
    assert(evaluate(nRows) == 0)
    assert((1 to 3).map(_ => evaluate(uncached)) == Seq.fill(3)(uncachedCost))
  }

  test("racing thunks run each retrieval once and agree with sequential runs") {
    runThunks(Seq(facts()))
    val thunks = Runner.collectDataTests(Seq(facts()))
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      var outcomes = Seq.empty[Boolean]
      val jobs = countJobs {
        outcomes = Await.result(
          Future.sequence(thunks.map { case (_, t) => Future(t(spark).outcome) }), 5.minutes)
      }
      assert(outcomes == factsOutcomes)
      assert(jobs <= 6, s"racing facts thunks launched $jobs jobs")
    } finally pool.shutdown()
  }

  test("a failing result read from the scope carries the plans of its retrieval") {
    val df = intDf("plans_t", (1 to 10).map(Integer.valueOf))
    val req = WithinRequirement(FrameSource(df, "plans_t"))
      .addNRowsMaxConstraint(20)
      .addNRowsMinConstraint(11)
      .addNumericBetweenConstraint("col_int", 0.9, 1.0, 5.0)
    val results = req.test(spark)
    assert(results.map(_.outcome) == Seq(true, false, false))
    results.tail.foreach(res => assert(res.factualQueries.nonEmpty, res))
    // a repeated evaluation reads the memo and still attaches the plans
    results.tail.zip(req.constraints.tail).foreach { case (first, c) =>
      assert(req.evaluate(c, spark) == first)
    }
    // alone, NRowsMin keeps its capped count; batched it counts exactly
    val c = NRowsMin(DataRef(FrameSource(df, "plans_t")), refValue = Some(11L))
    assert(c.test(spark).failureMessage == results(1).failureMessage)
    assert(NRowsMax(DataRef(FrameSource(df, "plans_t")), refValue = Some(9L)).test(spark)
      .factualQueries.nonEmpty)
  }
}
