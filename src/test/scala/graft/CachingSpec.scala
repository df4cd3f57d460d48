package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{DataRef, FrameSource}
import graft.constraints.NRowsEquality

/** Retrieval-memoization parity: the reference pins (with a cursor listener,
  * `test_integration.py:1082-1168`) that repeated `test()` calls hit the
  * per-constraint cache instead of re-querying. Here: count Spark jobs.
  */
class CachingSpec extends AnyFunSuite {
  import TestSpark._

  test("repeated test() does not launch new Spark jobs (memoized retrieval)") {
    val df = intDf("cache_t", (1 to 19).map(Integer.valueOf))
    val c  = NRowsEquality(DataRef(FrameSource(df, "cache_t")), refValue = Some(19L))

    assert(countJobs(c.test(spark)) >= 1, "first test() should run at least one job")
    val repeats = countJobs((1 to 5).foreach(_ => assert(c.test(spark).outcome)))
    assert(repeats == 0, s"repeated test() launched $repeats extra job(s)")
  }

  test("cacheSize=0 disables memoization: every test() re-queries") {
    // reference semantics pinned by test_integration.py:1082-1168 — with
    // cache_size=0, 20 sequential tests must issue > 20 queries
    val df = mixDf((1 to 25).map(i => (Integer.valueOf(i), s"v$i", null)))
    val req = graft.requirements.WithinRequirement.fromDataFrame(df, "nocache_t")
    req.addUniquesSubsetConstraint(
      Seq("col_varchar"), uniques = (1 to 25).map(i => s"v$i"), cacheSize = Some(0))
    val constraint = req.constraints.head

    val first = countJobs(constraint.test(spark))
    assert(first >= 1)
    val repeats = countJobs((1 to 5).foreach(_ => assert(constraint.test(spark).outcome)))
    assert(repeats >= 5, s"cache-off should re-run jobs: first=$first repeats=$repeats")
  }

  test("Uniqueness multi-retrieval: exact job-count parity, default vs cacheSize=0") {
    // the reference pins caching by COUNTING queries
    // (test_integration.py:1082-1168); here the analogue counts Spark jobs
    // for a constraint whose test() issues TWO retrievals (unique count +
    // row count) — the shape where a missing memo silently doubles cost
    import graft.constraints.Uniqueness
    val df = intDf("uniq_jobs_t", (1 to 40).map(i => Integer.valueOf(i % 25)))
    val r = DataRef(FrameSource(df, "uniq_jobs_t"), Some(Seq("col_int")))

    val cached = Uniqueness(r, maxDuplicateFraction = 0.9)
    val uncached = Uniqueness(r, maxDuplicateFraction = 0.9, cacheSize = Some(0))

    val firstCached = countJobs(assert(cached.test(spark).outcome))
    val firstUncached = countJobs(assert(uncached.test(spark).outcome))
    // first evaluation does identical work both ways
    assert(firstCached === firstUncached,
      s"first-run parity: cached=$firstCached uncached=$firstUncached")
    assert(firstCached >= 2, "two retrievals must launch at least two jobs")
    // memoized: repeats are free
    val repeatsCached = countJobs((1 to 3).foreach(_ => cached.test(spark)))
    assert(repeatsCached === 0, s"cached repeats launched $repeatsCached job(s)")
    // cache off: every repeat re-pays exactly the first run's job count
    val perRepeat = (1 to 3).map(_ => countJobs(uncached.test(spark)))
    assert(perRepeat.forall(_ === firstUncached),
      s"cache-off repeats should each cost $firstUncached jobs: $perRepeat")
  }

  test("a fresh constraint instance re-queries (cache is per instance)") {
    val df = intDf("cache_t2", (1 to 19).map(Integer.valueOf))
    def fresh = NRowsEquality(DataRef(FrameSource(df, "cache_t2")), refValue = Some(19L))
    fresh.test(spark)
    assert(countJobs(fresh.test(spark)) > 0)
  }
}

/** Approx fast-mode sanity: HLL distinct counts and sketch percentiles stay
  * within their error envelopes vs the exact operators.
  */
class ApproxSpec extends org.scalatest.funsuite.AnyFunSuite {
  import TestSpark._
  import graft.core.{DataRef, FrameSource}
  import graft.ops.Ops

  test("approx distinct count within 10% of exact on 1..2000") {
    val df = intDf("approx_t", (1 to 2000).map(Integer.valueOf))
    val r  = DataRef(FrameSource(df, "approx_t"), Some(Seq("col_int")))
    val exact  = Ops.getUniqueCount(spark, r)
    val approx = Ops.getUniqueCountApprox(spark, r)
    assert(math.abs(approx - exact).toDouble / exact < 0.10, s"approx=$approx exact=$exact")
  }

  test("getPercentile is one base scan + constant small jobs") {
    val df = intDf("jobs_p", (1 to 2000).map(Integer.valueOf))
    val r  = DataRef(FrameSource(df, "jobs_p"), Some(Seq("col_int")))
    // warm once: first call JIT-compiles the kernels and registers the view
    Ops.getPercentile(spark, r, 25.0)
    val jobs = countJobs(assert(Ops.getPercentile(spark, r, 50.0) == 1000.0))
    // the round-4 shape re-scanned the base selection 4× (counts groupBy
    // feeding CumSum's boundary job, its bucket-totals collect, a separate
    // total agg, and the final min); now the checkpoint job is the ONLY
    // base scan and every downstream pass reads the |distinct|-sized
    // frame. Under AQE each materialized shuffle stage is its own job, so
    // the call decomposes into 9 small jobs (measured; deterministic for
    // a fixed plan) — a regression back to per-pass base rescans adds
    // its scan+shuffle stages on top and fails this pin loudly.
    assert(jobs <= 9, s"getPercentile launched $jobs jobs, expected <= 9")
  }

  test("approx percentile close to exact on 1..2000") {
    val df = intDf("approx_p", (1 to 2000).map(Integer.valueOf))
    val r  = DataRef(FrameSource(df, "approx_p"), Some(Seq("col_int")))
    val exact  = Ops.getPercentile(spark, r, 50.0)
    val approx = Ops.getPercentileApprox(spark, r, 50.0)
    assert(math.abs(approx - exact) <= 10.0, s"approx=$approx exact=$exact")
  }
}
