package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Similarity
import graft.ops.Similarity.{dot, norm}

/** Reference plan for SemDeDup cell assignment: the centroids as plan
  * literals and a per-row `transform` + `array_sort` argmax over
  * −round(cos, 6) with ties to the smallest centroid id. This is the
  * spelling `Similarity.assignCells`' NearestCellsCos kernel replaced
  * (the kernel is codegen'd; ArrayTransform/ArraySort are not). Same
  * operands in the same order, so the two must agree bit for bit;
  * `semanticAssignments` reads both sides for the parity tests.
  */
object SemanticAssignReference {

  /** `Similarity.assignCells` spelled with centroid literals: base's
    * columns + `cluster` + `dj_primary`.
    */
  def assignCells(
      base: DataFrame,
      withNorms: Seq[(Long, Seq[Double], Double)],
      nProbes: Int): DataFrame = {
    val centroidArrN = array(withNorms.map { case (cid, v, nrm) =>
      struct(
        lit(cid).as("cid"),
        array(v.map(lit): _*).as("cvec"),
        lit(nrm).as("cnorm"))
    }: _*)
    val sortedCids =
      transform(
        array_sort(
          transform(centroidArrN, c => struct(
            (-round(
              dot(col("vec"), c.getField("cvec")) /
                (col("dj_nrm") * c.getField("cnorm")),
              6)).as("neg"),
            c.getField("cid").as("cid")))),
        s => s.getField("cid"))
    val cols = base.columns.map(col)
    base
      .withColumn("dj_nrm", norm(col("vec")))
      .select(cols :+ posexplode(slice(sortedCids, 1, nProbes)): _*)
      .select(
        cols :+ col("col").as("cluster") :+
          (col("pos") === 0).as("dj_primary"): _*)
  }

  type Assignment = (Long, Long, Boolean)

  /** The (id, cluster, primary) multisets of the kernel and of this
    * reference, as `semanticNearDups` prepares their inputs (non-NULL
    * rows, `fitCentroids`, norms, nProbes = min(probes, #centroids)).
    */
  def semanticAssignments(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      nClusters: Int,
      probes: Int,
      lloydIters: Int = 0,
      corpusSize: Option[Long] = None)
      : (Map[Assignment, Int], Map[Assignment, Int]) = {
    val base = vectors
      .where(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).as("vec"))
    val centroids = Similarity.fitCentroids(
      base, idCol, "vec", nClusters, lloydIters, corpusSize)
    val withNorms = centroids.map { case (cid, v) =>
      (cid, v, math.sqrt(v.map(x => x * x).sum))
    }
    val nProbes = math.min(probes, centroids.size)
    def multiset(assigned: DataFrame): Map[Assignment, Int] =
      assigned
        .select(col(idCol).cast("long"), col("cluster").cast("long"), col("dj_primary"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .groupBy(identity)
        .map { case (k, v) => k -> v.length }
    (multiset(Similarity.assignCells(base, withNorms, nProbes)),
      multiset(assignCells(base, withNorms, nProbes)))
  }
}
