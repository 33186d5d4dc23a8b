package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

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

/** The scan over the rows of `mat` as one generated loop: each row's
  * score u · mat(i) − bias(i), keeping the first row, then any NaN or any
  * score ≥ the best so far. `VecArgmaxDot` returns the winning row,
  * `VecMaxDot` its score. */
sealed abstract class ArgmaxDotLoop extends UnaryExpression with Serializable {
  def mat: Array[Array[Double]]
  protected def biases: Array[Double]
  /** The result: the winning score if true, else its row index. */
  protected def score: Boolean
  require(mat.nonEmpty && biases.length == mat.length)

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
    if (score) best else idx
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
         |${ev.value} = ${if (score) best else idx};
       """.stripMargin
    })
}

/** argmax_i ( u · mat(i) − bias(i) ), as one generated loop. */
case class VecArgmaxDot(child: Expression, mat: Array[Array[Double]],
    biases: Array[Double]) extends ArgmaxDotLoop {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "vec_argmax_dot"
  protected def score: Boolean = false

  override protected def withNewChildInternal(newChild: Expression): VecArgmaxDot =
    copy(child = newChild)
}

/** max_i ( u · mat(i) ), the score `VecArgmaxDot` picks with zero biases
  * (x − 0.0 is x, bit for bit). */
case class VecMaxDot(child: Expression, mat: Array[Array[Double]])
    extends ArgmaxDotLoop {
  protected lazy val biases: Array[Double] = new Array[Double](mat.length)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_max_dot"
  protected def score: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): VecMaxDot =
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

/** ADC score Σ_j table(j)(codes(j)) as one generated loop over a
  * referenced table. The sum starts at subspace 0's term, not at 0.0,
  * and adds the rest ascending, so it associates as ((t0 + t1) + t2) + …
  * and an all −0.0 sum stays −0.0. */
case class AdcScore(child: Expression, table: Array[Array[Double]])
    extends UnaryExpression {
  require(table.nonEmpty)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "adc_score"

  override def nullSafeEval(a: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    var acc = table(0)(codes.getInt(0))
    var j = 1
    while (j < table.length) { acc += table(j)(codes.getInt(j)); j += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, codes => {
      val tableRef = ctx.addReferenceObj("table", table, "double[][]")
      val (j, acc) = (ctx.freshName("j"), ctx.freshName("acc"))
      s"""
         |double $acc = $tableRef[0][$codes.getInt(0)];
         |for (int $j = 1; $j < $tableRef.length; $j++) $acc += $tableRef[$j][$codes.getInt($j)];
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): AdcScore =
    copy(child = newChild)
}
