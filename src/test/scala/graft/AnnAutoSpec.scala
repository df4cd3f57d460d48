package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Corpus-aware ANN auto-sizing (`lshAutoParams` / `ivfAutoParams` /
  * `semanticProbesAuto`): formula pins at the sizes that matter, plus a
  * measured recall floor on the UNREPLICATED sf0.001 embeddings — the
  * honest near-random hard case where the old fixed defaults recalled
  * 0.125 (r8 verdict item 2).
  */
class AnnAutoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("lshAutoParams: small corpora examine ~everything, big corpora bound cost") {
    // n=2000, k=10 (the bench's honest leg): bits 2, 3 tables — examined
    // fraction bound 1.0, measured recall 0.997 on the sf0.001 embeddings
    assert(Similarity.lshAutoParams(2000, 10) === ((2, 3)))
    // 100× corpus: buckets stay ~256 expected members, tables cap at 8 —
    // the cost stays bounded and the FRACTION (not the bill) degrades
    val (bits200k, tables200k) = Similarity.lshAutoParams(200000, 10)
    assert(bits200k === 9)
    assert(tables200k === 8)
    // 20M vectors: bits keep tracking log2(n/256) under the 20-bit clamp
    val (bitsBig, tablesBig) = Similarity.lshAutoParams(20000000L, 10)
    assert(bitsBig === 16 && tablesBig === 8)
    // degenerate corpora never produce invalid geometry
    val (b0, t0) = Similarity.lshAutoParams(0, 10)
    assert(b0 >= 2 && t0 >= 1)
  }

  test("lshAutoParamsRanked: fine buckets, ranked budget, envelope within the blind bound") {
    // sf10f shape (r10 sweep: recall 0.862 vs the blind path's 0.692 at
    // the same fraction): 12 bits, 12 tables, budget 52 -> fraction 0.152
    val (b, t, bud) = Similarity.lshAutoParamsRanked(200000, 10)
    assert(b === 12 && t === 12 && bud === 52)
    assert(t.toDouble * bud / (1 << b) <= 0.157) // <= the r9 envelope
    // small corpus: budget saturates the Hamming<=2 candidate set and the
    // envelope re-raises tables (near-exhaustive regime preserved)
    val (b2, t2, bud2) = Similarity.lshAutoParamsRanked(2000, 10)
    assert(bud2 === 1 + b2 + b2 * (b2 - 1) / 2)
    assert(t2 >= 2)
    val (b0, t0, bud0) = Similarity.lshAutoParamsRanked(0, 10)
    assert(b0 >= 2 && t0 >= 1 && bud0 >= 1)
  }

  test("ivfAutoParams: ~25-member cells capped at 8192, probe fraction 0.75 -> 0.1") {
    // honest leg: 80 fine cells, probe 60 (0.75 exhaustive-side fraction)
    assert(Similarity.ivfAutoParams(2000, 10) === ((80, 60)))
    // big corpus: cells grow to the cap, probed FRACTION decays to the
    // floor (r10 sweep: 25-member cells recall 0.828 at fraction 0.1 on
    // the fresh-content 100x leg vs 0.654 at the r9 200-member sizing)
    val (cents, probe) = Similarity.ivfAutoParams(200000, 10)
    assert(cents === 8000)
    assert(probe === 800) // 0.1 floor of 8000 cells
    assert(probe.toDouble / cents <= 0.11)
    // flat-IVF assignment cost boundary: the cap binds past ~205k vectors
    assert(Similarity.ivfAutoParams(10000000L, 10)._1 === 8192)
  }

  test("semanticProbesAuto: quarter of the cells, capped at 8") {
    assert(Similarity.semanticProbesAuto(16) === 4)
    assert(Similarity.semanticProbesAuto(1000) === 8)
    assert(Similarity.semanticProbesAuto(1) === 1)
  }

  test("auto paths clear a 0.9 recall floor on unreplicated embeddings") {
    val v = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = v.count()
    val k = 10
    val queries = v.where(pmod(col("vec_id"), lit(5)) === 0)
    val truth = Similarity
      .bruteForceTopK(v, queries, "vec_id", "embedding", k)
      .select(col("query_id"), col("neighbor_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (truth intersect got).size.toDouble / truth.size
    }
    val lsh = recallOf(
      Similarity.lshTopKAuto(v, queries, "vec_id", "embedding", k, corpusSize = n))
    val ivf = recallOf(
      Similarity.ivfTopKAuto(v, queries, "vec_id", "embedding", k, corpusSize = n))
    assert(lsh >= 0.9, s"auto LSH recall $lsh")
    assert(ivf >= 0.9, s"auto IVF recall $ivf")
  }

  test("imiAutoParams: ~2-member product cells, frontier shortlist, fraction budget") {
    // the r11 sweep point: n = 200k → 512 half-cells (cap), shortlist 256,
    // row budget = 0.1·n — measured recall 0.828 at sf10f
    assert(Similarity.imiAutoParams(200000L) === ((512, 256, 20000L)))
    val (cph, sl, bud) = Similarity.imiAutoParams(10000L)
    assert(cph === math.ceil(math.sqrt(20000.0)).toInt && sl === cph)
    assert(bud === 2048L) // candidateBudget floor beats the 0.1 fraction here
    assert(Similarity.imiAutoParams(0L)._1 === 16)
  }

  test("annTopKAuto dispatches by corpus size and matches the method it names") {
    assert(Similarity.annAutoMethod(1000L) === "lsh")
    assert(Similarity.annAutoMethod(100000L) === "ivf")
    assert(Similarity.annAutoMethod(1000000L) === "imi")
    // on the fixture corpus the dispatcher picks lsh; its output must BE
    // the lsh auto path's output
    val v = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = v.count()
    assert(Similarity.annAutoMethod(n) === "lsh")
    val queries = v.where(pmod(col("vec_id"), lit(20)) === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(
      rows(Similarity.annTopKAuto(v, queries, "vec_id", "embedding", 5, n)) ===
        rows(Similarity.lshTopKAuto(v, queries, "vec_id", "embedding", 5, n)))
  }

  test("budgeted IMI clears a 0.9 recall floor on unreplicated embeddings") {
    val v = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = v.count()
    val k = 10
    val queries = v.where(pmod(col("vec_id"), lit(5)) === 0)
    val truth = Similarity
      .bruteForceTopK(v, queries, "vec_id", "embedding", k)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity
      .imiTopKAuto(v, queries, "vec_id", "embedding", k, corpusSize = n)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.core.Blocks.releaseAll()
    val recall = (truth intersect got).size.toDouble / truth.size
    assert(recall >= 0.9, s"budgeted IMI recall $recall")
  }

  test("exhaustive ivfTopKRerank == bruteForceTopK (pins the rerank assignment paths)") {
    // every cell probed + a pool covering the corpus → the sketch
    // prefilter cannot drop a true neighbor and the exact rerank decides —
    // this is the only executable contract the (documented-negative-
    // result) rerank flavor has, and it exercises BOTH of its per-row
    // assignment paths (corpus argmin, query top-nProbe explode)
    val v = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = v.where(col("vec_id") < 5)
    val n = v.count()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = rows(Similarity.bruteForceTopK(
      v, queries, "vec_id", "embedding", k = 3))
    val rerank = rows(Similarity.ivfTopKRerank(
      v, queries, "vec_id", "embedding", k = 3,
      nCentroids = 300, nProbe = 300, kmeansIters = 0,
      corpusSize = Some(n), poolFactor = (n / 3 + 1).toInt))
    graft.core.Blocks.releaseAll()
    assert(brute.nonEmpty)
    assert(rerank === brute,
      s"only-brute=${brute -- rerank} only-rerank=${rerank -- brute}")
  }

  test("large-centroid assignment matches the literal path exactly — duplicate ids and all") {
    // the r10 advice finding was a silent DISCONTINUITY: the >256-centroid
    // keyed argmin computed one shared argmin per id, so duplicate ids
    // clustered differently than the literal path scores them; the keyed
    // kernel closed it by raising loudly. The per-row native kernel
    // (NearestCellsCos) removes the discontinuity outright — it scores
    // each row independently exactly like the literal reference, so the
    // strongest contract is equality of the assigned (id, cluster,
    // primary) multisets on a corpus WITH a duplicated id.
    val v = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dupId = v.limit(1).collect().head.getAs[Number]("vec_id").longValue
    val dup = v.limit(400).union(v.limit(1)) // one duplicated vec_id
    for (probes <- Seq(1, 2)) {
      val (kernel, literal) = SemanticAssignReference.semanticAssignments(
        dup, "vec_id", "embedding",
        nClusters = 300, probes = probes, corpusSize = Some(400))
      // the duplicated id is assigned once per row, to the same cells
      assert(kernel.collect { case ((id, _, true), n) if id == dupId => n }.toSeq == Seq(2))
      assert(kernel === literal,
        s"probes = $probes: only-kernel=${kernel.toSet -- literal.toSet} " +
          s"only-literal=${literal.toSet -- kernel.toSet}")
    }
  }
}
