package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CumSum, Dedup, Stats}

/** Equality pins for the r14 optimization-round internals: every rewrite
  * claims bit-identical results — these tests force BOTH code paths on the
  * same data and compare. The staged MinHash verification (low-16-bit
  * narrowed signature prefilter, then exact Jaccard) is compared with the
  * single-pass broadcast verification on a fixture and on generated corpora.
  */
class R14OptimizationSpec extends AnyFunSuite {
  import TestSpark._

  /** Run `body` with the session broadcast threshold shrunk so
    * `Dedup.pairBroadcastCap` reads ~0 — the big-candidate regime
    * (staged signature-prefilter verification) triggers on unit-test-sized
    * candidate sets.
    */
  private def withTinyBroadcastCap[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try body
    finally spark.conf.set(key, old)
  }

  private def nearDupCorpus = {
    import spark.implicits._
    // clusters of near-identical docs (shared long base text, one char
    // varies) plus unique chaff — several true pairs, many candidates
    (0 until 60).map { i =>
      val cluster = i % 12
      val body =
        if (cluster < 4)
          s"the quick brown fox jumps over the lazy dog repeatedly $cluster " * 4
        else
          s"unique document body number $i with its own words " +
            s"${i * 7} ${i * 13} ${i * 29}"
      (i.toLong, body + s" tail$i", i % 2 == 0)
    }.toDF("doc_id", "text", "side")
  }

  /** A generated corpus row: the side it belongs to for `crossNearDups`,
    * a nullable id and a nullable text.
    */
  private type Doc = (Boolean, Option[Long], Option[String])

  private val words = Seq("alpha", "beta", "gamma", "delta", "river", "stone",
    "cloud", "ember", "frost", "grove", "harbor", "island", "jungle", "kettle")
  private val unicodeWords = Seq("日本語", "ñandú", "Ärger", "straße", "naïve",
    "дом", "κόσμος", "🙂🙃", "e\u0301te")

  private val wordGen = Gen.frequency(4 -> Gen.oneOf(words), 1 -> Gen.oneOf(unicodeWords))

  private val baseTextGen: Gen[Seq[String]] =
    Gen.choose(12, 30).flatMap(n => Gen.listOfN(n, wordGen))

  /** A near-copy: one to three words replaced, dropped or inserted. */
  private def mutated(base: Seq[String]): Gen[Seq[String]] =
    Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, Gen.zip(Gen.choose(0, 2),
      Gen.choose(0, base.size - 1), wordGen))).map(_.foldLeft(base) {
      case (ws, (0, i, w)) => ws.updated(i % ws.size, w)
      case (ws, (1, i, _)) if ws.size > 1 => ws.patch(i % ws.size, Nil, 1)
      case (ws, (_, i, w)) => ws.patch(i % ws.size, Seq(w), 0)
    })

  /** A planted cluster: a base text, its near-copies and exact copies. */
  private val clusterGen: Gen[Seq[String]] = for {
    base <- baseTextGen
    nNear <- Gen.choose(1, 3)
    near <- Gen.listOfN(nNear, mutated(base))
    nExact <- Gen.choose(0, 2)
  } yield (base +: near ++: Seq.fill(nExact)(base)).map(_.mkString(" "))

  private val loneTextGen: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.const(Some("")),
    1 -> Gen.oneOf("ab", "a b", "日本", "x").map(Some(_)),
    3 -> baseTextGen.map(ws => Some(ws.mkString(" "))))

  private val corpusGen: Gen[Seq[Doc]] = for {
    clusters <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, clusterGen))
    lone <- Gen.choose(0, 8).flatMap(Gen.listOfN(_, loneTextGen))
    texts = clusters.flatten.map(Some(_)) ++ lone
    ids <- Gen.listOfN(texts.size, Gen.frequency(1 -> false, 9 -> true))
    sides <- Gen.listOfN(texts.size, Gen.oneOf(false, true))
    order <- Gen.pick(texts.size, texts.indices).map(_.toSeq)
  } yield order.zipWithIndex.map { case (t, i) =>
    (sides(t), if (ids(t)) Some(i.toLong) else None, texts(t))
  }

  private def corpus(docs: Seq[Doc]): DataFrame = {
    val rows = docs.map { case (side, id, text) =>
      Row(id.map(java.lang.Long.valueOf).orNull, text.orNull, side)
    }
    spark.createDataFrame(java.util.List.of(rows: _*), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("side", BooleanType))))
  }

  private def pairSet(pairs: DataFrame): Set[(Long, Long, Long)] = {
    val out = pairs.collect().map(r =>
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
    graft.core.Blocks.releaseAll()
    out
  }

  /** (broadcast verify, staged verify under a ~0 cap) of one pipeline. */
  private def bothPaths(run: => DataFrame) =
    (pairSet(run), withTinyBroadcastCap(pairSet(run)))

  /** Staged ≡ broadcast on the fixture (which must find pairs), then on
    * 100 generated corpora, at least a fifth of which must find pairs.
    */
  private def stagedMatchesBroadcast(run: DataFrame => DataFrame) = {
    val (small, staged) = bothPaths(run(nearDupCorpus))
    assert(small.nonEmpty, "fixture should produce at least one near-dup pair")
    assert(staged == small)
    var withPairs = 0
    val prop = Prop.forAllNoShrink(corpusGen) { docs =>
      val (small, staged) = bothPaths(run(corpus(docs)))
      if (small.nonEmpty) withPairs += 1
      (staged == small) :|
        s"only-staged=${staged -- small} only-broadcast=${small -- staged} docs=$docs"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, Pretty.pretty(res))
    assert(withPairs >= 20, s"only $withPairs generated corpora produced pairs")
  }

  test("minhashNearDups: staged big-candidate verification ≡ broadcast path") {
    stagedMatchesBroadcast(df =>
      Dedup.minhashNearDups(df, "text", "doc_id", threshold = 0.5))
  }

  test("crossNearDups: staged big-candidate verification ≡ broadcast path") {
    stagedMatchesBroadcast(df =>
      Dedup.crossNearDups(df.where(col("side")), df.where(!col("side")),
        "text", "doc_id", threshold = 0.5))
  }

  /** A generated CumSum input: `kind` picks the order-key type (0 long,
    * 1 double, 2 date), `keys` are distinct (at most one NULL), `c1`/`c2`
    * are nullable signed values, `parts` > 0 repartitions the frame.
    */
  private final case class CumCase(
      kind: Int,
      keys: Seq[Option[Long]],
      c1: Seq[Option[Long]],
      c2: Seq[Option[Long]],
      numBuckets: Int,
      parts: Int)

  private val valueGen: Gen[Option[Long]] =
    Gen.frequency(1 -> Gen.const(None), 5 -> Gen.choose(-1000L, 1000L).map(Some(_)))

  private val cumCaseGen: Gen[CumCase] = for {
    kind <- Gen.oneOf(0, 1, 2)
    n <- Gen.frequency(1 -> Gen.const(0), 1 -> Gen.const(1), 6 -> Gen.choose(2, 60))
    layout <- Gen.oneOf("spread", "dense", "outlier", "oneProxy")
    start <- Gen.choose(-5000L, 5000L)
    spread <- Gen.pick(n, -20000L to 20000L).map(_.toSeq)
    withNull <- Gen.frequency(4 -> false, 1 -> true)
    keys = layout match {
      case "spread" => spread
      case "dense" => (0 until n).map(start + _)
      // a far outlier: every other key shares the low buckets
      case "outlier" => (0 until n).map(i => if (i == n - 1) 90000L else start + i)
      // long keys past 2^53 collapse to ONE double proxy, so every key
      // lands in one bucket; the other types keep the dense layout
      case _ => (0 until n).map(i => if (kind == 0) (1L << 60) + i else start + i)
    }
    nullable = if (withNull && n > 0) None +: keys.tail.map(Some(_)) else keys.map(Some(_))
    c1 <- Gen.listOfN(n, valueGen)
    c2 <- Gen.listOfN(n, valueGen)
    numBuckets <- Gen.choose(2, n + 5)
    parts <- Gen.oneOf(0, 1, 3, 7)
  } yield CumCase(kind, nullable, c1, c2, numBuckets, parts)

  private def cumFrame(c: CumCase): DataFrame = {
    val (dt, key): (DataType, Long => Any) = c.kind match {
      case 0 => (LongType, k => java.lang.Long.valueOf(k))
      case 1 => (DoubleType, k => java.lang.Double.valueOf(k / 4.0))
      case _ => (DateType, k => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(k)))
    }
    def boxed(v: Option[Long]): Any = v.map(java.lang.Long.valueOf).orNull
    val rows = c.keys.indices.map(i =>
      Row(c.keys(i).map(key).orNull, boxed(c.c1(i)), boxed(c.c2(i))))
    val df = spark.createDataFrame(java.util.List.of(rows: _*), StructType(Seq(
      StructField("dj_v", dt), StructField("c1", LongType), StructField("c2", LongType))))
    if (c.parts > 0) df.repartition(c.parts) else df
  }

  /** The split and fused running-sum + successor plans of `df`, each as
    * its (order, r1, r2, next) row set, with the fused plan's totals and
    * span next to the split plan's totals and the frame's exact span.
    */
  private def cumPaths(df: DataFrame, numBuckets: Int) = {
    def rowSet(frame: DataFrame) = frame.select("dj_v", "r1", "r2", "nxt")
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)))).toSet
    val (runA, totalsA) = CumSum.withRunningSums(
      df, "dj_v", Seq("c1", "c2"), Seq("r1", "r2"), numBuckets = numBuckets)
    val unfused = rowSet(CumSum.withNextValue(runA, "dj_v", "nxt", numBuckets = numBuckets))
    val rn = CumSum.withRunningSumsNext(
      df, "dj_v", Seq("c1", "c2"), Seq("r1", "r2"), "nxt", numBuckets = numBuckets)
    val span = df.agg(min("dj_v"), max("dj_v")).head()
    (unfused, rowSet(rn.frame), totalsA, rn.totals,
      (Option(span.get(0)), Option(span.get(1))), (rn.minOrder, rn.maxOrder))
  }

  test("withRunningSumsNext ≡ withRunningSums + withNextValue, span exact") {
    import spark.implicits._
    val counts = (1 to 500)
      .map(i => (i.toLong * 3, (i % 7 + 1).toLong, (i % 3).toLong))
      .toDF("dj_v", "c1", "c2")
    val (unfused, fused, totalsA, totals, _, (minO, maxO)) = cumPaths(counts, 16)
    assert(totals == totalsA)
    assert(fused == unfused)
    assert(minO.contains(3L) && maxO.contains(1500L))
    // empty input keeps schema + empty bounds
    val e = CumSum.withRunningSumsNext(
      counts.where(lit(false)), "dj_v", Seq("c1"), Seq("r1"), "nxt")
    assert(e.frame.count() == 0 && e.minOrder.isEmpty && e.maxOrder.isEmpty)
    // generated: long/double/date keys, NULL and negative values, one
    // bucket, 0/1/many rows, 2 to above-row-count buckets, repartitioned
    val prop = Prop.forAllNoShrink(cumCaseGen) { c =>
      val (unfused, fused, totalsA, totals, span, fusedSpan) =
        cumPaths(cumFrame(c), c.numBuckets)
      (fused == unfused && totals == totalsA && fusedSpan == span) :|
        s"only-fused=${fused -- unfused} only-split=${unfused -- fused} " +
          s"totals=$totals/$totalsA span=$fusedSpan/$span case=$c"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("correlationMatrix: long path ≡ decimal fallback at the 3e9 boundary") {
    import spark.implicits._
    // same correlation structure at two magnitudes: small (long path) and
    // shifted past the 3e9 scaled bound (decimal fallback) — r must match
    // to the double ulp because both are exact-integer power sums and the
    // correlation is shift-invariant
    val base = (1 to 200).map { i =>
      val x = i.toDouble
      val y = 2.0 * i + (i % 5)
      (x, y)
    }
    val small = base.toDF("x", "y")
    val shifted = base.map { case (x, y) => (x + 4.0e9, y) }.toDF("x", "y")
    def r(df: org.apache.spark.sql.DataFrame) = Stats
      .correlationMatrix(df, Seq(("x", 1L), ("y", 1L)))
      .collect().head.getDouble(3)
    val rSmall = r(small)     // max|x| = 200 → long path
    val rShift = r(shifted)   // max|x| = 4e9 > 3e9 → decimal path
    assert(math.abs(rSmall - rShift) < 1e-12,
      s"long path $rSmall vs decimal path $rShift")
  }
}
