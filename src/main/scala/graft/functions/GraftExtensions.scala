package graft.functions

import org.apache.spark.sql.{Column, GraftColumn, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Column API for graft's native expressions + optional SQL registration.
  *
  * Use `vecDot(a, b)` from the DataFrame API, or install the extension
  * (`.withExtensions(new GraftExtensions)` / spark.sql.extensions) to call
  * `vec_dot(a, b)` from SQL.
  */
object GraftFunctions {
  def vecDot(a: Column, b: Column): Column = GraftColumn.of(VecDot(GraftColumn.exprOf(a), GraftColumn.exprOf(b)))

  /** sqrt(v·v) via the same codegen'd kernel. */
  def vecNorm(v: Column): Column =
    org.apache.spark.sql.functions.sqrt(vecDot(v, v))

  /** float[]/double[] → double[] without an interpreted transform lambda. */
  def vecToDouble(v: Column): Column =
    GraftColumn.of(VecToDouble(GraftColumn.exprOf(v)))

  /** v / s elementwise, codegen'd (unit normalization). */
  def vecScale(v: Column, s: Column): Column =
    GraftColumn.of(VecScale(GraftColumn.exprOf(v), GraftColumn.exprOf(s)))

  /** max(|x_i|) — symmetric int8 quantization range, codegen'd. */
  def vecAbsMax(v: Column): Column =
    GraftColumn.of(VecAbsMax(GraftColumn.exprOf(v)))

  /** argmax_i (u · mat(i) − biases(i)) as one generated loop — the
    * any-size-codebook cell assignment (see VecArgmaxDot: the unrolled
    * array_max form blows janino's 64 KB method limit at PQ scale). */
  def vecArgmaxDot(u: Column, mat: Array[Array[Double]],
      biases: Array[Double]): Column =
    GraftColumn.of(VecArgmaxDot(GraftColumn.exprOf(u), mat, biases))

  /** max_i (u · mat(i)), the score `vecArgmaxDot` picks with zero biases
    * (see VecMaxDot). */
  def vecMaxDot(u: Column, mat: Array[Array[Double]]): Column =
    GraftColumn.of(VecMaxDot(GraftColumn.exprOf(u), mat))

  /** Σ_j table(j)(codes(j)) in one generated loop (see AdcScore). */
  def adcScore(codes: Column, table: Array[Array[Double]]): Column =
    GraftColumn.of(AdcScore(GraftColumn.exprOf(codes), table))

  /** All m PQ codes in one generated loop (see PqEncode). */
  def pqEncode(u: Column, books: Array[Array[Array[Double]]]): Column =
    GraftColumn.of(PqEncode(GraftColumn.exprOf(u), books))

  /** node2vec biased transition over the sorted adjacency array (G18b's
    * in-row kernel — see Node2VecPick). */
  def node2vecPick(nbrs: Column, nprev: Column, prev: Column, h: Column,
      wReturn: Long, wCommon: Long, wOut: Long): Column =
    GraftColumn.of(Node2VecPick(GraftColumn.exprOf(nbrs),
      GraftColumn.exprOf(nprev), GraftColumn.exprOf(prev),
      GraftColumn.exprOf(h), wReturn, wCommon, wOut))

  /** Σ|q_i| of the int8 codes of (v, mx), quantize+reduce in one pass. */
  def vecQuantAbsSum(v: Column, mx: Column): Column =
    GraftColumn.of(VecQuantAbsSum(GraftColumn.exprOf(v), GraftColumn.exprOf(mx)))

  /** Σq_i² of the int8 codes of (v, mx), quantize+reduce in one pass. */
  def vecQuantSelfDot(v: Column, mx: Column): Column =
    GraftColumn.of(VecQuantSelfDot(GraftColumn.exprOf(v), GraftColumn.exprOf(mx)))

  /** Register-max HLL union over serialized sketch images (the
    * HyperANF/HyperBall hot-path replacement for hll_union_agg — see
    * HllRegMaxUnionAgg for the parity contract). */
  def hllRegMaxUnion(sk: Column, lgK: Int): Column =
    GraftColumn.of(HllRegMaxUnionAgg(GraftColumn.exprOf(sk), lgK)
      .toAggregateExpression())

  /** Bloom-filter membership probe of a long-typed column, codegen'd. */
  def bloomProbe(h: Column, filter: org.apache.spark.util.sketch.BloomFilter): Column =
    GraftColumn.of(BloomProbe(GraftColumn.exprOf(h), filter))

  /** Pack sign bits of v[start..start+count) into a long (binary quant). */
  def vecSignPack(v: Column, start: Int, count: Int): Column =
    GraftColumn.of(VecSignPack(GraftColumn.exprOf(v),
      org.apache.spark.sql.catalyst.expressions.Literal(start),
      org.apache.spark.sql.catalyst.expressions.Literal(count)))
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => VecDot(children.head, children(1))))
    // HOF dot products written by users get the codegen kernel automatically
    ext.injectOptimizerRule(_ => VecDotRewrite)
  }
}
