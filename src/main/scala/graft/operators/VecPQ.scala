package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.vecDot
import graft.functions.Param

/** Product quantization (PQ) for vector compression + ANN: split each
  * unit vector into `m` subvectors, learn a `ksub`-centroid L2 codebook
  * per subspace (Lloyd), encode every vector as m small codes, and score
  * queries by asymmetric distance computation (ADC) — a per-query
  * dot-product table against the codebooks, so scoring touches m table
  * lookups per vector instead of the full dimension.
  *
  * Scale shape, mirroring VecCluster: codebooks are m×ksub×(dim/m)
  * doubles of DRIVER state (bounded by configuration, never the corpus);
  * training is one distributed pass per Lloyd iteration (argmin
  * assignment through the same PqEncode kernel that `encode` runs,
  * per-(subspace, cell, dim) sums with map-side combine); the kernel
  * takes the books as a referenced object, not as literals in generated
  * source, so later iterations reuse the first one's compiled classes;
  * encoding is a single projection; ADC is one generated loop over a
  * referenced table. 64 floats compress to 8 byte-sized codes — the
  * memory/IO cut that makes billion-vector ANN feasible, with exact
  * re-rank of the short ADC candidate list restoring precision.
  */
object VecPQ {

  /** slice(u) for subspace j (1-based slice; dsub = dim/m). */
  private def subvec(u: Column, j: Int, dsub: Int): Column =
    slice(u, j * dsub + 1, dsub)

  /** Train per-subspace L2 codebooks with Lloyd iterations. `unit` needs
    * (vec_id, u). Returns books(j)(k) = centroid vector of subspace j. */
  def train(unit: DataFrame, m: Int, ksub: Int, iters: Int): Array[Array[Array[Double]]] = {
    val spark = unit.sparkSession
    import spark.implicits._
    val seeds = unit
      .withColumn("h", md5(concat(lit("pq:"), $"vec_id")))
      .orderBy($"h", $"vec_id")
      .limit(ksub)
      .select($"u").as[Seq[Double]].collect().map(_.toArray)
    if (seeds.isEmpty) return Array.empty
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => seeds.map(_.slice(j * dsub, j * dsub + dsub)))
    for (_ <- 0 until iters) {
      // one distributed pass covers every subspace: encode each row once
      // (argmin per subspace), explode to (j, sub, code), sum per dim
      val assigned = unit.select($"u", encode($"u", books).as("codes"))
        .select(explode(array((0 until m).map(j =>
          struct(lit(j).as("j"), subvec($"u", j, dsub).as("sub"),
            $"codes".getItem(j).as("code"))): _*)).as("e"))
        .select($"e.j", $"e.sub", $"e.code")
      val stats = assigned
        .select($"j", $"code", posexplode($"sub").as(Seq("pos", "x")))
        .groupBy($"j", $"code", $"pos")
        .agg(sum($"x").as("sx"), count(lit(1)).as("cnt"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), (r.getDouble(3), r.getLong(4))))
        .toMap
      books = Array.tabulate(m) { j =>
        books(j).zipWithIndex.map { case (old, c) =>
          stats.get((j, c, 0)) match {
            case Some((_, n)) if n > 0 =>
              Array.tabulate(dsub)(p => stats((j, c, p))._1 / n)
            case _ => old // empty cell keeps its centroid
          }
        }
      }
    }
    books
  }

  /** Codes column (array of m ints) for a unit-vector column: codes(j) =
    * argmin_k |u_j − c_jk|² as argmax_k (u_j·c_jk − ½|c_jk|²), one
    * generated loop over all m subspaces (PqEncode). Unrolled per
    * centroid, the m×ksub dots blew janino's 64 KB method limit and
    * dropped v_ivfpq_ann's coded stage to interpreted mode. */
  def encode(u: Column, books: Array[Array[Array[Double]]]): Column =
    graft.functions.GraftFunctions.pqEncode(u, books)

  /** ADC lookup table for one query: table(j)(k) = q_sub_j · c_jk.
    * Driver-bounded (m × ksub doubles — the codebook argument). */
  private[graft] def adcTable(qu: Array[Double],
      books: Array[Array[Array[Double]]]): Array[Array[Double]] = {
    val m = books.length
    val dsub = qu.length / m
    Array.tabulate(m)(j => books(j).map(c =>
      c.zip(qu.slice(j * dsub, j * dsub + dsub)).map { case (a, b) => a * b }.sum))
  }

  /** ADC approximate dot: Σ_j table(j)(codes(j)) where table(j)(k) =
    * q_sub_j · c_jk — one generated loop over the table by reference
    * (AdcScore), so a new query's table is no new source. */
  private[graft] def adcScore(codes: Column, table: Array[Array[Double]]): Column =
    graft.functions.GraftFunctions.adcScore(codes, table)

  /** PQ-ANN: encode the corpus, score by ADC against the query's table,
    * exact-re-rank the top `rerank` candidates, return top `k`. */
  def pqAnn(e: DataFrame, queryId: Long, k: Int, m: Int, ksub: Int,
      iters: Int, rerank: Int): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val books = train(e.select($"vec_id", $"u"), m, ksub, iters)
    if (books.isEmpty)
      return e.select($"vec_id", lit(0.0).as("approx_sim"), lit(0.0).as("sim")).limit(0)
    val qRow = e.filter($"vec_id" === Param(queryId))
      .select($"u", $"v", $"nrm").collect()
    if (qRow.isEmpty)
      return e.select($"vec_id", lit(0.0).as("approx_sim"), lit(0.0).as("sim")).limit(0)
    val qu = qRow(0).getSeq[Double](0).toArray
    val table = adcTable(qu, books)
    val q = e.filter($"vec_id" === Param(queryId))
      .select($"v".as("qv"), $"nrm".as("qnrm"))
    e.filter($"vec_id" =!= Param(queryId))
      .withColumn("codes", encode($"u", books))
      .withColumn("approx_sim", round(adcScore($"codes", table), 6))
      .orderBy($"approx_sim".desc, $"vec_id")
      .limit(rerank)
      .crossJoin(broadcast(q))
      .withColumn("sim", round(vecDot($"v", $"qv") / ($"nrm" * $"qnrm"), 6))
      .select($"vec_id", $"approx_sim", $"sim")
      .orderBy($"sim".desc, $"vec_id")
      .limit(k)
  }
}
