package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spherical k-means (Lloyd's algorithm) over a unit-vector column, in
  * DataFrames.
  *
  * Centroid state is k×dim doubles on the driver — bounded by the cluster
  * count, never the corpus (the same state shape ml.clustering.KMeans
  * keeps). Each iteration is one distributed pass: broadcast-literal
  * centroids → codegen'd argmax-cosine assignment → per-(cell, dim) sum.
  * The per-dim aggregation rides posexplode, so a corpus of N rows
  * shuffles N×dim (cell, pos, x) triples into k×dim groups — map-side
  * combine collapses that to cores×k×dim partial rows per stage, constant
  * in N.
  *
  * Seeding is deterministic (k smallest md5(vec_id)), so runs are
  * reproducible up to float-sum reduction order; consumers must not
  * depend on exact centroid bits (graft's don't: IVF re-ranks exactly,
  * and the near-dup cell pruning is conservative for ANY clustering).
  */
object VecCluster {

  /** Argmax-cosine cell id for a unit-vector column. r14: the generated
    * LOOP kernel (VecArgmaxDot) instead of the unrolled array_max-over-
    * structs form — identical semantics (ascending dot sums, ties to the
    * larger cell, NaN greatest) but O(1) generated lines in the codebook
    * size, so stages that compose it with PQ encoding stay inside
    * whole-stage codegen instead of tripping janino's 64 KB limit. */
  def cellOf(u: Column, cents: Array[Array[Double]]): Column =
    graft.functions.GraftFunctions.vecArgmaxDot(u, cents,
      new Array[Double](cents.length))

  /** Cosine to the assigned (= nearest) centroid: the score of the same
    * argmax loop (VecMaxDot). */
  def cellSimOf(u: Column, cents: Array[Array[Double]]): Column =
    graft.functions.GraftFunctions.vecMaxDot(u, cents)

  /** Lloyd iterations; `unit` needs columns (vec_id, u: array<double> of
    * unit norm). Returns k unit-normalized centroids (empty cells keep
    * their previous centroid). */
  def kmeans(unit: DataFrame, k: Int, iters: Int): Array[Array[Double]] = {
    val spark = unit.sparkSession
    import spark.implicits._
    var cents: Array[Array[Double]] = unit
      .withColumn("h", md5(concat(lit("seed:"), $"vec_id")))
      .orderBy($"h", $"vec_id")
      .limit(k)
      .select($"u").as[Seq[Double]].collect().map(_.toArray)
    if (cents.isEmpty) return cents // empty corpus → nothing to iterate
    val dim = cents.head.length
    for (_ <- 0 until iters) {
      val sums = unit
        .select(cellOf($"u", cents).as("cell"), posexplode($"u").as(Seq("pos", "x")))
        .groupBy($"cell", $"pos")
        .agg(sum($"x").as("sx"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2)))
        .toMap
      cents = cents.zipWithIndex.map { case (old, c) =>
        val v = Array.tabulate(dim)(p => sums.getOrElse((c, p), 0.0))
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n > 0) v.map(_ / n) else old // unit-normalizing skips the /count
      }
    }
    cents
  }
}
