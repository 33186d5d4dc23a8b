package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import graft.operators.{Relational, VectorOps}

/** The agent's point calls differ only in their key. With the key as a
  * `graft.functions.Param`, a call with a new key reuses the classes the
  * first call compiled, and the rules that match on literals still apply.
  * The search calls differ in their terms; with the terms as one array
  * literal, a call with a new term count reuses the first call's classes. */
class ParamSpec extends SparkSpecBase {

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** One warm-up call, then calls with new keys: those compile nothing. */
  private def warmCompilesNothing[K](name: String, keys: Seq[K])(call: K => DataFrame): Unit = {
    rows(call(keys.head))
    val n = compilesOf(keys.tail.foreach(k => rows(call(k))))
    assert(n == 0, s"$name: $n classes compiled for ${keys.tail.length} new keys")
  }

  test("point calls with a new key compile no class after the first call") {
    warmCompilesNothing("productBySku", Seq(17L, 18L, 19L, 20L))(
      Relational.productBySku(spark, sfDir, _))
    warmCompilesNothing("userOrders", Seq(19L, 112L, 36L, 140L))(
      Relational.userOrders(spark, sfDir, _))
    warmCompilesNothing("cancelEligible", Seq(19L, 26L, 48L, 14L))(
      Relational.cancelEligible(spark, sfDir, _))
    warmCompilesNothing("cosineTopK", Seq(0L, 3L, 17L, 42L))(
      VectorOps.cosineTopK(spark, sfDir, _))
    VectorOps.lshIndexBuild(spark, sfDir, "param_lsh_idx")
    warmCompilesNothing("lshAnnIndexed", Seq(0L, 3L, 17L, 42L))(
      VectorOps.lshAnnIndexed(spark, sfDir, "param_lsh_idx", _))
  }

  test("search, fuzzy and stock calls with a new term count compile no class after the first call") {
    warmCompilesNothing("productSearch", Seq(Seq("bolt"), Seq("red", "rod"), Seq("cold", "anvil", "ring")))(
      Relational.productSearch(spark, sfDir, _))
    warmCompilesNothing("fuzzySearch", Seq(Seq("bolte"), Seq("widgit", "rodd"), Seq("anvl", "rng", "blu")))(
      Relational.fuzzySearch(spark, sfDir, _))
    warmCompilesNothing("checkStock", Seq("large", "cold widget", "small blue rod"))(
      Relational.checkStock(spark, sfDir, _))
  }

  test("a parameter key still reaches the parquet scan and returns the plain literal's rows") {
    val df = Relational.productBySku(spark, sfDir, 17L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(p_partkey,17)"), s"key not pushed to the scan:\n$plan")
    val plain = Tables.part(spark, sfDir).filter(col("p_partkey") === lit(17L))
      .select("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
    assert(rows(df) == rows(plain) && rows(df).length == 1)
  }
}
