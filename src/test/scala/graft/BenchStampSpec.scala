package graft

import org.scalatest.funsuite.AnyFunSuite

/** The round-stamped mirror of Bench's full artifact: named per round and
  * CPU count, never a name that already exists, and only for the default
  * artifact path.
  */
class BenchStampSpec extends AnyFunSuite {

  test("default artifact path: stamped name carries the round tag and cpus") {
    assert(Bench.stampedOutName("bench_out.json", Some("16"), 32, Set.empty)
      .contains("bench_out_r16_c32.json"))
    // no round given: 1 + the highest committed BENCH_r<N>.json
    val committed = Set("BENCH_r14.json", "BENCH_r15.json", "BENCH_r15_c8.json")
    assert(Bench.stampedOutName("bench_out.json", None, 8, committed)
      .contains("bench_out_r16_c8.json"))
    assert(Bench.stampedOutName("bench_out.json", Some(" "), 4, Set.empty)
      .contains("bench_out_r0_c4.json"))
  }

  test("a custom SPARK_GRAFT_BENCH_OUT path gets no mirror") {
    assert(Bench.stampedOutName("/tmp/mine.json", Some("16"), 32, Set.empty).isEmpty)
    assert(Bench.stampedOutName("out/bench_out.json", None, 32, Set.empty).isEmpty)
  }

  test("an existing name is never returned") {
    val taken = Set("bench_out_r16_c32.json", "bench_out_r16_c32_2.json")
    assert(Bench.stampedOutName("bench_out.json", Some("16"), 32, taken)
      .contains("bench_out_r16_c32_3.json"))
    // the same round at another CPU count does not collide
    assert(Bench.stampedOutName("bench_out.json", Some("16"), 8, taken)
      .contains("bench_out_r16_c8.json"))
    val many = (2 to 40).map(i => s"bench_out_r16_c32_$i.json").toSet +
      "bench_out_r16_c32.json"
    val got = Bench.stampedOutName("bench_out.json", Some("16"), 32, many)
    assert(got.contains("bench_out_r16_c32_41.json"))
    assert(!many.contains(got.get))
  }
}
