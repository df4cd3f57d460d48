package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Multi-probe SemDeDup pairing (`semanticNearDups(probes = p)`):
  * containment, recall monotonicity, and agreement of the NearestCellsCos
  * cell assignment with the literal reference (`SemanticAssignReference`).
  */
class SemanticProbeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Thr = 0.3495

  private def embeddings =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def pairsOf(probes: Int, maxClusterSize: Int = 1000): Set[(Long, Long)] =
    Similarity
      .semanticNearDups(
        embeddings, "vec_id", "embedding", Thr,
        nClusters = 64, lloydIters = 0, corpusSize = Some(1),
        maxClusterSize = maxClusterSize, probes = probes)
      .select(col("id1").cast("long"), col("id2").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet

  test("probes=1 output is a subset of probes=2 output, which finds more") {
    val p1 = pairsOf(1)
    val p2 = pairsOf(2)
    assert(p1.nonEmpty)
    assert(p1.subsetOf(p2), s"missing: ${(p1 -- p2).take(5)}")
    // on the sf0.001 embeddings, cell-boundary pairs exist — the second
    // probe must recover at least one of them
    assert(p2.size > p1.size)
  }

  test("multi-probe recall vs brute force improves and pairs stay exact") {
    val v = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = v.select(col("vec_id").as("id1"), col("embedding").as("e1"))
    val b = v.select(col("vec_id").as("id2"), col("embedding").as("e2"))
    val truth = a.join(b, col("id1") < col("id2"))
      .where(Similarity.cosineF(col("e1"), col("e2")) >= Thr)
      .select(col("id1").cast("long"), col("id2").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val p1 = pairsOf(1)
    val p2 = pairsOf(2)
    // every reported pair is a true pair (verification is exact cosine)
    assert(p2.subsetOf(truth))
    val r1 = p1.size.toDouble / truth.size
    val r2 = p2.size.toDouble / truth.size
    assert(r2 >= r1)
  }

  test("subset law survives a binding size cap: the cap counts primaries") {
    // With ~500 vectors over 64 cells the primary occupancy is ~8; a cap
    // of 12 binds on several cells once probes = 2 doubles the membership
    // (totals ~16). The old total-count cap dropped those cells' pairs at
    // probes = 2 — pairs the probes = 1 run HAD found. The primary-count
    // cap is probes-independent, so the subset law must hold.
    val p1 = pairsOf(1, maxClusterSize = 12)
    val p2 = pairsOf(2, maxClusterSize = 12)
    assert(p1.nonEmpty)
    assert(p1.subsetOf(p2), s"probe-2 lost: ${(p1 -- p2).take(5)}")
    // the cap reads the assigned cells, which match the literal reference
    val (kernel, literal) = assignmentsOf(2)
    assert(kernel === literal)
  }

  private def assignmentsOf(probes: Int) =
    SemanticAssignReference.semanticAssignments(
      embeddings, "vec_id", "embedding",
      nClusters = 64, probes = probes, corpusSize = Some(1))

  test("broadcast-join assignment path agrees with the literal path") {
    // the NearestCellsCos kernel against the literal transform+array_sort
    // argmax: identical operands in identical order → identical
    // (id, cluster, primary) multisets, at one probe and at two
    for (probes <- Seq(1, 2)) {
      val (kernel, literal) = assignmentsOf(probes)
      assert(kernel.nonEmpty)
      assert(kernel === literal, s"probes = $probes")
    }
  }
}
