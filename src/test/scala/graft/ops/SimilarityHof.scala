package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The built-in higher-order formulations of the codegen'd similarity
  * kernels (`graft_lsh_bucket`, `graft_nearest_cell`, `graft_pq_codes`):
  * the semantic references SimilaritySpec and PropertiesSpec pin the
  * kernels against. Interpreted lambdas per row, so no serving path
  * calls them. */
object SimilarityHof {

  /** [[Similarity.lshBucket]] as one `dot` per hyperplane. */
  def lshBucketHof(vec: Column, planes: Seq[Seq[Float]]): Column =
    (0 until planes.size).map { i =>
      when(Similarity.dot(vec.cast("array<double>"),
          array(planes(i).map(x => lit(x.toDouble)): _*)) >= 0,
        shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** The nearest-cell assignment: same squared-L2 distance, same
    * lowest-index tiebreak via array_position-of-min. */
  def nearestCellHof(vec: Column, centroids: Array[Array[Double]]): Column = {
    val centLit = typedlit(centroids.map(_.toSeq).toSeq)
    val dists = transform(centLit, c =>
      aggregate(zip_with(vec, c, (x, y) => (x - y) * (x - y)),
        lit(0.0d), (acc, v) => acc + v))
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** [[Similarity.pqCodesExpr]]: per subspace, the nearest codebook
    * centroid, first on ties. */
  def pqCodesHof(vec: Column, cb: Similarity.PqCodebook): Column = {
    val vecD = vec.cast("array<double>")
    array((0 until cb.m).map { j =>
      val centLit = array(cb.centroids(j).map(c =>
        array(c.map(x => lit(x.toDouble)): _*)): _*)
      val subVec = slice(vecD, j * cb.subDim + 1, cb.subDim)
      val dists = transform(centLit, c =>
        aggregate(zip_with(subVec, c, (x, y) => (x - y) * (x - y)),
          lit(0.0d), (acc, v) => acc + v))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)
  }
}
