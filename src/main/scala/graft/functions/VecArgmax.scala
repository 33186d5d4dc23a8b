package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Codegen'd argmax-of-dot kernels over DRIVER-CONSTANT codebooks (r14).
  *
  * The DataFrame forms these replace — `array_max(array(struct(vecDot(u,
  * lit(c_i)) …)))` unrolled per codebook row — generate O(rows × dim)
  * source lines in ONE consume function; at IVF-PQ's m×ksub scale (256
  * unrolled sub-argmaxes on top of the 16-cell coarse argmax) janino
  * refuses the >64 KB method and the whole stage silently drops to
  * interpreted mode (measured: 'Code grows beyond 64 KB' fallbacks on
  * every v_ivfpq_ann / v_ann_recall_family run since the operators
  * landed). A LOOP over a referenced constant matrix is a few dozen
  * generated lines regardless of codebook size, so the scoring pass
  * stays inside whole-stage codegen.
  *
  * Semantics replicate the unrolled forms bit for bit: dot products sum
  * ascending over the dimension (VecDot's order), the argmax scans rows
  * ascending keeping ties to the LARGER index, and NaN ranks greatest —
  * exactly array_max's struct ordering over (score, index).
  */

/** argmax_i ( u · mat(i) − bias(i) ), as one generated loop. */
case class VecArgmaxDot(child: Expression, mat: Array[Array[Double]],
    biases: Array[Double]) extends UnaryExpression {
  require(mat.nonEmpty && biases.length == mat.length)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "vec_argmax_dot"

  override def nullSafeEval(a: Any): Any = {
    val u = a.asInstanceOf[ArrayData]
    var best = 0.0
    var idx = -1
    var i = 0
    while (i < mat.length) {
      val row = mat(i)
      var s = 0.0
      var d = 0
      while (d < row.length) { s += u.getDouble(d) * row(d); d += 1 }
      s -= biases(i)
      if (idx < 0 || java.lang.Double.isNaN(s) || s >= best) { best = s; idx = i }
      i += 1
    }
    idx
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, u => {
      val matRef = ctx.addReferenceObj("mat", mat, "double[][]")
      val biasRef = ctx.addReferenceObj("biases", biases, "double[]")
      val (i, d, s, best, idx, row) = (ctx.freshName("i"), ctx.freshName("d"),
        ctx.freshName("s"), ctx.freshName("best"), ctx.freshName("idx"),
        ctx.freshName("row"))
      s"""
         |double $best = 0.0; int $idx = -1;
         |for (int $i = 0; $i < $matRef.length; $i++) {
         |  double[] $row = $matRef[$i];
         |  double $s = 0.0;
         |  for (int $d = 0; $d < $row.length; $d++) $s += $u.getDouble($d) * $row[$d];
         |  $s -= $biasRef[$i];
         |  if ($idx < 0 || Double.isNaN($s) || $s >= $best) { $best = $s; $idx = $i; }
         |}
         |${ev.value} = $idx;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VecArgmaxDot =
    copy(child = newChild)
}

/** PQ encoding as one generated double loop: codes(j) = argmax_k
  * ( u[j·dsub ..] · books(j)(k) − ½|books(j)(k)|² ) — the argmin-L2 code
  * of every subspace in one pass. VecPQ's training assignment and its
  * `encode` both run it. */
case class PqEncode(child: Expression, books: Array[Array[Array[Double]]])
    extends UnaryExpression {
  require(books.nonEmpty && books.head.nonEmpty)
  private val biases: Array[Array[Double]] =
    books.map(_.map(c => 0.5 * c.map(x => x * x).sum))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(a: Any): Any = {
    val u = a.asInstanceOf[ArrayData]
    val m = books.length
    val dsub = books.head.head.length
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val base = j * dsub
      var best = 0.0
      var idx = -1
      var k = 0
      while (k < books(j).length) {
        val c = books(j)(k)
        var s = 0.0
        var d = 0
        while (d < dsub) { s += u.getDouble(base + d) * c(d); d += 1 }
        s -= biases(j)(k)
        if (idx < 0 || java.lang.Double.isNaN(s) || s >= best) { best = s; idx = k }
        k += 1
      }
      codes(j) = idx
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, u => {
      val booksRef = ctx.addReferenceObj("books", books, "double[][][]")
      val biasRef = ctx.addReferenceObj("biases", biases, "double[][]")
      val dsub = books.head.head.length
      val (j, k, d, s, best, idx, codes, cRow) = (ctx.freshName("j"),
        ctx.freshName("k"), ctx.freshName("d"), ctx.freshName("s"),
        ctx.freshName("best"), ctx.freshName("idx"), ctx.freshName("codes"),
        ctx.freshName("cRow"))
      s"""
         |int[] $codes = new int[$booksRef.length];
         |for (int $j = 0; $j < $booksRef.length; $j++) {
         |  double $best = 0.0; int $idx = -1;
         |  for (int $k = 0; $k < $booksRef[$j].length; $k++) {
         |    double[] $cRow = $booksRef[$j][$k];
         |    double $s = 0.0;
         |    for (int $d = 0; $d < $dsub; $d++)
         |      $s += $u.getDouble($j * $dsub + $d) * $cRow[$d];
         |    $s -= $biasRef[$j][$k];
         |    if ($idx < 0 || Double.isNaN($s) || $s >= $best) { $best = $s; $idx = $k; }
         |  }
         |  $codes[$j] = $idx;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($codes);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}
