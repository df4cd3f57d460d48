package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

object R15OptimizationSpec {

  /** An edge list over int or bigint ids (`null` = NULL endpoint). */
  final case class Graph(bigint: Boolean, edges: Seq[(java.lang.Long, java.lang.Long)])
}

/** Equality pins for the r15 optimization-round internals. */
class R15OptimizationSpec extends AnyFunSuite {
  import R15OptimizationSpec.Graph
  import TestSpark._

  test("matchingFraction agrees across long/int/smallint element types") {
    import spark.implicits._
    import graft.functions.LongArraySim.matchingFraction
    val df = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 7L)),  // 2/4 match
      (Seq(5L, 5L), Seq(5L, 5L)),                  // 4/4
      (Seq.empty[Long], Seq.empty[Long])           // empty → 0.0
    ).toDF("a", "b")
    def asType(c: String, t: String) =
      transform(col(c), x => x.cast(t)).as(c)
    val out = df.select(
      matchingFraction(col("a"), col("b")).as("fl"),
      matchingFraction(asType("a", "int"), asType("b", "int")).as("fi"),
      matchingFraction(asType("a", "smallint"), asType("b", "smallint")).as("fs")
    ).collect()
    out.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getDouble(0) == r.getDouble(2))
    }
    assert(out.map(_.getDouble(0)).toSeq == Seq(0.5, 1.0, 0.0))
  }

  test("low-16-bit narrowed prefilter keeps every full-width survivor") {
    import spark.implicits._
    import graft.functions.LongArraySim.matchingFraction
    // adversarial values: identical low 16 bits with different high bits
    // (a narrowed FALSE match — must only ever ADD survivors), plus true
    // matches and true mismatches
    val base = 0x123456789ABCL
    val df = Seq(
      (Seq(base, base + 0x10000L), Seq(base, base)),          // pos0 true, pos1 low-16 collision
      (Seq(base, base + 1L), Seq(base + 2L, base + 3L))       // no matches at all
    ).toDF("a", "b")
    def narrow(c: String) = transform(col(c),
      x => (x.bitwiseAND(lit(0xFFFFL)) - lit(32768L)).cast("smallint"))
    val rows = df.select(
      matchingFraction(col("a"), col("b")).as("full"),
      matchingFraction(narrow("a"), narrow("b")).as("narrowed")
    ).collect()
    rows.foreach(r => assert(r.getDouble(1) >= r.getDouble(0),
      "narrowing must never LOSE a positionwise match"))
    assert(rows(0).getDouble(0) == 0.5 && rows(0).getDouble(1) == 1.0)
    assert(rows(1).getDouble(0) == 0.0 && rows(1).getDouble(1) == 0.0)
  }

  test("md5PrefixLong ≡ conv(substring(md5(...)),16,10) SQL chain") {
    import spark.implicits._
    import graft.functions.Md5Lattice.md5PrefixLong
    // ids spanning ascii, unicode, empty, long strings, and the gate's
    // "id:seed:b" shapes
    val df = (Seq("", "0", "42:gate:7", "abc:dsir", "日本語:seed:3",
      "x" * 500) ++ (0 until 200).map(i => s"$i:gate:${i % 20}"))
      .toDF("s")
    for (k <- Seq(13, 15)) {
      val rows = df.select(
        md5PrefixLong(col("s"), k).as("fused"),
        conv(substring(md5(col("s").cast("binary")), 1, k), 16, 10)
          .cast("long").as("chain")).collect()
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"k=$k mismatch: ${r.getLong(0)} vs ${r.getLong(1)}"))
    }
    // NULL propagates
    val nullRow = Seq[Option[String]](None).toDF("s")
      .select(md5PrefixLong(col("s"), 13)).collect().head
    assert(nullRow.isNullAt(0))
  }

  private def frame(g: Graph): DataFrame = {
    val t = if (g.bigint) LongType else IntegerType
    def v(x: java.lang.Long): Any =
      if (x == null) null else if (g.bigint) x else Integer.valueOf(x.intValue)
    spark.createDataFrame(
      spark.sparkContext.parallelize(g.edges.map { case (a, b) => Row(v(a), v(b)) }, 4),
      StructType(Seq(StructField("id1", t), StructField("id2", t))))
  }

  /** (id, cluster_id) rows with `smallGraphEdgeCap = cap`. */
  private def components(g: Graph, cap: Int): Set[(Option[Long], Option[Long])] = {
    def id(x: Any) = Option(x).map(_.asInstanceOf[Number].longValue)
    val out = graft.ops.Dedup
      .connectedComponents(frame(g), smallGraphEdgeCap = cap)
      .collect().map(r => id(r.get(0)) -> id(r.get(1))).toSet
    graft.core.Blocks.releaseAll()
    out
  }

  /** The union-find path at cap = E and the loop at cap = E − 1. */
  private def atCap(g: Graph) =
    (components(g, g.edges.size), components(g, g.edges.size - 1))

  private def node(bigint: Boolean): Gen[java.lang.Long] =
    Gen.choose(0L, 40L).map(i => java.lang.Long.valueOf(if (bigint) (1L << 40) + i else i))

  // chains longer than jumpAfter (= 2) and cliques, over random node ids
  private def componentGen(bigint: Boolean): Gen[Seq[(java.lang.Long, java.lang.Long)]] =
    Gen.oneOf(
      Gen.choose(3, 12).flatMap(n => Gen.listOfN(n + 1, node(bigint)))
        .map(ns => ns.zip(ns.tail)),
      Gen.choose(3, 5).flatMap(n => Gen.listOfN(n, node(bigint)))
        .map(ns => ns.combinations(2).map(p => (p(0), p(1))).toSeq),
      Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, Gen.zip(node(bigint), node(bigint)))))

  private val graphGen: Gen[Graph] = for {
    bigint <- Gen.oneOf(false, true)
    comps <- Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, componentGen(bigint)))
    edges = comps.flatten
    dups <- Gen.someOf(edges)
    reversed <- Gen.someOf(edges).map(_.map(_.swap))
    loops <- Gen.choose(0, 2).flatMap(n => Gen.listOfN(n, node(bigint))).map(_.map(x => (x, x)))
    all <- Gen.pick(edges.size + dups.size + reversed.size + loops.size,
      edges ++ dups ++ reversed ++ loops)
  } yield Graph(bigint, all.toSeq)

  test("connectedComponents: small-graph union-find ≡ distributed loop") {
    // fixed input: chains, a clique, self-contained pairs, duplicate
    // edges, and a reversed-order edge — the shapes near-dup graphs produce
    def l(a: Long, b: Long) = (java.lang.Long.valueOf(a), java.lang.Long.valueOf(b))
    val fixture = Graph(bigint = true, Seq(
      l(2, 1), l(2, 3), l(3, 4),            // chain → cluster 1
      l(10, 11), l(11, 12), l(10, 12),      // triangle → cluster 10
      l(20, 21), l(20, 21),                 // dup edge
      l(31, 30)                             // reversed order
    ) ++ (100L until 164L).map(i => l(i, i + 1))) // 64-hop chain → 100
    val (small, loop) = atCap(fixture)
    assert(small == loop)
    assert(Seq(4L -> 1L, 12L -> 10L, 30L -> 30L, 164L -> 100L)
      .forall { case (a, b) => small.contains(Some(a) -> Some(b)) })

    val prop = Prop.forAllNoShrink(graphGen) { g =>
      val (small, loop) = atCap(g)
      (small == loop) :|
        s"only-union-find=${small -- loop} only-loop=${loop -- small} graph=$g"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, Pretty.pretty(res))

    // a NULL endpoint keeps the graph off the union-find path even under
    // the cap: the loop labels the NULL node (NULL, NULL), which the
    // driver union-find could not produce
    val withNull = Graph(bigint = false, Seq(l(1, 2), l(2, 3), (java.lang.Long.valueOf(5L), null)))
    val underCap = components(withNull, withNull.edges.size)
    assert(underCap.contains(None -> None), underCap)
    assert(underCap == components(withNull, 0))
  }
}
