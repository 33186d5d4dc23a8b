package graft

import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import graft.functions.GraftFunctions.{vecNorm, vecScale, vecToDouble}
import graft.operators.VectorOps

/** The session's vector cache: `VectorOps.normed` persists the embedding
  * column as stored plus its norm, and derives `v` and `u` per call, bit
  * for bit what the former double-vector cache held. */
class VectorCacheSpec extends SparkSpecBase {
  import spark.implicits._

  /** The cached relation `normed` reads, as the session's CacheManager
    * substitutes it into the plan. */
  private def cachedRelation: InMemoryRelation =
    VectorOps.normed(spark, sfDir).queryExecution.withCachedData
      .collectFirst { case r: InMemoryRelation => r }
      .getOrElse(fail("normed reads no cached relation"))

  private def bits(xs: Seq[Double]): Seq[Long] = xs.map(java.lang.Double.doubleToRawLongBits)

  test("the cached relation holds no array<double> column") {
    val arrays = cachedRelation.output.map(_.dataType).collect { case a: ArrayType => a }
    assert(arrays.nonEmpty && !arrays.exists(_.elementType == DoubleType),
      s"cached columns: ${cachedRelation.output.map(a => s"${a.name}: ${a.dataType}")}")
  }

  test("the cache holds at most 300 bytes per vector at sf0.001") {
    val n = VectorOps.normed(spark, sfDir).count() // materializes the cache
    val id = cachedRelation.cacheBuilder.cachedColumnBuffers.id
    val bytes = spark.sparkContext.getRDDStorageInfo.find(_.id == id)
      .getOrElse(fail("the normed cache holds no blocks")).memSize
    assert(n == Tables.embeddings(spark, sfDir).count())
    assert(bytes.toDouble / n <= 300.0, s"$bytes bytes for $n vectors")
  }

  test("v, nrm and u equal the double-path formulas bit for bit on every row") {
    val want = Tables.embeddings(spark, sfDir)
      .select($"vec_id", vecToDouble($"embedding").as("v"))
      .withColumn("nrm", vecNorm($"v"))
      .withColumn("u", vecScale($"v", $"nrm"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id", $"v", $"nrm", $"u").as[(Long, Seq[Double], Double, Seq[Double])]
        .collect().map { case (id, v, nrm, u) => id -> (bits(v), bits(Seq(nrm)), bits(u)) }.toMap
    val got = rows(VectorOps.normed(spark, sfDir))
    assert(got.size == Tables.embeddings(spark, sfDir).count())
    assert(got == rows(want))
  }

  test("a cosineTopK / lshAnnIndexed / ivfpqAnn call leaves only the normed cache held") {
    Caches.clearAll(spark)
    VectorOps.lshIndexBuild(spark, sfDir, "lsh_sigs_vector_cache")
    val id = cachedRelation.cacheBuilder.cachedColumnBuffers.id
    val calls = Seq(
      "cosineTopK" -> (() => VectorOps.cosineTopK(spark, sfDir, 3L)),
      "lshAnnIndexed" -> (() => VectorOps.lshAnnIndexed(spark, sfDir, "lsh_sigs_vector_cache", 3L)),
      "ivfpqAnn" -> (() => VectorOps.ivfpqAnn(spark, sfDir, 3L)))
    try calls.foreach { case (name, call) =>
      assert(call().collect().nonEmpty, name)
      assert(heldRdds.keySet == Set(id), s"$name left ${heldRdds.values}")
    } finally Caches.clearAll(spark)
  }
}
