package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Register-max HLL union aggregate (r18, VERDICT r17 #1).
  *
  * Replaces `hll_union_agg` on the HyperANF/HyperBall hot path
  * (g_reach_profile / g_harmonic_all / the fused pass), where the
  * built-in pays a datasketches `HllSketch.heapify` (parse + copy +
  * object graph) and a `Union.update` per INPUT ROW — one per arc per
  * round, the largest measured compute block in the deck (~163+173
  * task-s at sf0.1). This kernel keeps the aggregation state as either
  *  - a set of raw coupon ints (the exact coupons datasketches stores
  *    in LIST/SET mode), while the distinct-coupon count stays ≤ 24 —
  *    the measured lgK=8 promotion point — or
  *  - the raw 2^lgK register byte array, merged by per-slot max,
  * and parses input sketch images directly (LIST / SET / HLL_8
  * updatable layouts), so an update is a handful of int ops per coupon
  * or one 256-byte max loop — no per-row allocation beyond the byte[]
  * the row already carries.
  *
  * Output parity (pinned by HllRegMaxSpec):
  *  - coupon regime (ball ≤ 24): the datasketches estimate is a pure
  *    function of the distinct-coupon COUNT (probed: identical across
  *    item sets and layouts), and this kernel tracks the exact coupon
  *    set, so `hll_sketch_estimate` over its output is BIT-EQUAL to the
  *    built-in union's — the fixture-exactness contract of the G21/G22
  *    specs is preserved.
  *  - dense regime: the emitted image is byte-identical to
  *    `Union.getResult(HLL_8).toUpdatableByteArray` for the same
  *    register state (canonical: OOO flag, hipAccum 0, kxq/curMin/
  *    numAtCurMin rebuilt in slot order — verified against datasketches
  *    on random union trees), and the register state itself is the same
  *    per-slot max the built-in computes. Estimates therefore match the
  *    built-in whenever the built-in's own result is out-of-order (any
  *    dense-dense merge — the dominant case once balls are dense).
  *  - the one sanctioned divergence (VERDICT r17 #1's "estimator parity
  *    across the coupon→dense promotion"): when the built-in promotes a
  *    pure in-order coupon stream inside ONE gadget it keeps an
  *    order-dependent HIP estimate (probed: shuffling the same inputs
  *    changes the estimate); this kernel always reports the canonical
  *    register-only (composite) estimate there. Both are unbiased
  *    estimators of the same registers; the affected entries are
  *    rows-only by design.
  */
case class HllRegMaxUnionAgg(
    child: Expression,
    lgK: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HllRegMaxBuf]
  with UnaryLike[Expression] {

  require(lgK == 8, "kernel is pinned to the loop's lgK = 8 configuration")

  override def prettyName: String = "hll_regmax_union"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def createAggregationBuffer(): HllRegMaxBuf = new HllRegMaxBuf(lgK)

  override def update(buf: HllRegMaxBuf, input: InternalRow): HllRegMaxBuf = {
    val v = child.eval(input)
    if (v != null) buf.addSketch(v.asInstanceOf[Array[Byte]])
    buf
  }

  override def merge(b1: HllRegMaxBuf, b2: HllRegMaxBuf): HllRegMaxBuf = {
    b1.addBuffer(b2)
    b1
  }

  override def eval(buf: HllRegMaxBuf): Any = buf.toImage

  override def serialize(buf: HllRegMaxBuf): Array[Byte] = buf.serialized

  override def deserialize(bytes: Array[Byte]): HllRegMaxBuf =
    HllRegMaxBuf.deserialize(lgK, bytes)

  override def withNewMutableAggBufferOffset(o: Int): HllRegMaxUnionAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllRegMaxUnionAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): HllRegMaxUnionAgg =
    copy(child = newChild)
}

/** Mutable union state: coupon int set until > maxCoupons distinct
  * coupons (datasketches' lgK=8 SET→HLL promotion point), then raw
  * registers. Coupon layout: low 26 bits = slot universe (slot = c &
  * (k-1) when placed), top 6 bits = register value — the datasketches
  * encoding, verified by register-diff probes. */
final class HllRegMaxBuf(lgK: Int) {
  private val k = 1 << lgK
  private val maxCoupons = 3 << (lgK - 5) // 3/4 * 2^(lgK-3): 24 at lgK=8
  // open-addressed int set, 0 = empty (coupons are never 0); capacity 64
  // fits maxCoupons + headroom and never needs growth before promotion
  private var coupons: Array[Int] = new Array[Int](64)
  private var nCoupons: Int = 0
  var regs: Array[Byte] = null // non-null once promoted

  private def promote(): Unit = {
    val r = new Array[Byte](k)
    var i = 0
    while (i < coupons.length) {
      val c = coupons(i)
      if (c != 0) {
        val slot = c & (k - 1)
        val v = c >>> 26
        if (v > (r(slot) & 0xff)) r(slot) = v.toByte
      }
      i += 1
    }
    regs = r
    coupons = null
    nCoupons = 0
  }

  def addCoupon(c: Int): Unit = {
    if (c == 0) return
    if (regs != null) {
      val slot = c & (k - 1)
      val v = c >>> 26
      if (v > (regs(slot) & 0xff)) regs(slot) = v.toByte
      return
    }
    val mask = coupons.length - 1
    var i = (c * -1640531527) & mask // Fibonacci-ish spread; probe linearly
    while (true) {
      val cur = coupons(i)
      if (cur == c) return
      if (cur == 0) {
        coupons(i) = c
        nCoupons += 1
        if (nCoupons > maxCoupons) promote()
        return
      }
      i = (i + 1) & mask
    }
  }

  private def maxRegs(other: Array[Byte], off: Int): Unit = {
    if (regs == null) promote()
    val r = regs
    var i = 0
    while (i < k) {
      val v = other(off + i)
      // register values are 0..~63: plain signed byte compare is safe
      if (v > r(i)) r(i) = v
      i += 1
    }
  }

  /** Merge one serialized sketch image (LIST / SET / HLL_8 updatable —
    * the only layouts this loop produces). The image must carry this
    * buffer's lgK: a larger-lgK dense image also passes the length check
    * and would otherwise merge only its first 2^lgK registers. */
  def addSketch(b: Array[Byte]): Unit = {
    require(b.length >= 8 && b(2) == 7, "not an HLL image")
    require(b(3) == lgK, s"HLL image lgK ${b(3)} != kernel lgK $lgK")
    (b(7) & 3) match {
      case 0 => // LIST: count at byte 6, coupons from offset 8
        val n = b(6) & 0xff
        var i = 0
        while (i < n) {
          addCoupon(readInt(b, 8 + 4 * i))
          i += 1
        }
      case 1 => // SET: 32-int table (or compact run) from offset 12
        var off = 12
        while (off + 4 <= b.length) {
          addCoupon(readInt(b, off))
          off += 4
        }
      case 2 => // HLL dense
        require(((b(7) >> 2) & 3) == 2 && b.length >= 40 + k,
          s"unsupported HLL image (tgt=${(b(7) >> 2) & 3}, len=${b.length})")
        maxRegs(b, 40)
      case m => throw new IllegalStateException(s"bad curMode $m")
    }
  }

  def addBuffer(o: HllRegMaxBuf): Unit = {
    if (o.regs != null) maxRegs(o.regs, 0)
    else {
      var i = 0
      while (i < o.coupons.length) {
        if (o.coupons(i) != 0) addCoupon(o.coupons(i))
        i += 1
      }
    }
  }

  private def readInt(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def writeInt(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >>> 8).toByte
    b(off + 2) = (v >>> 16).toByte; b(off + 3) = (v >>> 24).toByte
  }

  private def writeDouble(b: Array[Byte], off: Int, d: Double): Unit = {
    val l = java.lang.Double.doubleToLongBits(d)
    var i = 0
    while (i < 8) { b(off + i) = (l >>> (8 * i)).toByte; i += 1 }
  }

  private def invPow2(v: Int): Double =
    java.lang.Double.longBitsToDouble((1023L - v) << 52)

  private def sortedCoupons: Array[Int] = {
    val out = new Array[Int](nCoupons)
    var i = 0; var j = 0
    while (i < coupons.length) {
      if (coupons(i) != 0) { out(j) = coupons(i); j += 1 }
      i += 1
    }
    java.util.Arrays.sort(out)
    out
  }

  /** The datasketches-compatible updatable image of this state:
    * LIST (count ≤ 7) / SET (8..24) / canonical dense HLL_8 — the same
    * mode datasketches' own union result would be in at this coupon
    * count (probed thresholds), so `hll_sketch_estimate` reads it
    * exactly as it read the built-in's output. */
  def toImage: Array[Byte] = {
    if (regs != null) return denseImage
    val cs = sortedCoupons
    if (cs.length <= 7) {
      // LIST updatable: 8-byte header + 8-int array
      val out = new Array[Byte](8 + 4 * 8)
      out(0) = 2; out(1) = 1; out(2) = 7; out(3) = lgK.toByte
      out(4) = 3 // lgArrInts = 3 (8 ints)
      out(5) = if (cs.isEmpty) 0x04 else 0x00 // EMPTY flag
      out(6) = cs.length.toByte
      out(7) = 0x08 // curMode LIST(0) | tgt HLL_8(2) << 2
      var i = 0
      while (i < cs.length) { writeInt(out, 8 + 4 * i, cs(i)); i += 1 }
      out
    } else {
      // SET updatable: 12-byte header (incl. count) + 2^(lgK-3)-int table
      val slots = 1 << (lgK - 3)
      val out = new Array[Byte](12 + 4 * slots)
      out(0) = 3; out(1) = 1; out(2) = 7; out(3) = lgK.toByte
      out(4) = (lgK - 3).toByte // lgArrInts
      out(5) = 0x00
      out(6) = 0x00
      out(7) = 0x09 // curMode SET(1) | tgt HLL_8(2) << 2
      writeInt(out, 8, cs.length)
      var i = 0
      while (i < cs.length) { writeInt(out, 12 + 4 * i, cs(i)); i += 1 }
      out
    }
  }

  /** Canonical dense HLL_8 updatable image: OOO flag, hipAccum 0,
    * kxq0/kxq1/curMin/numAtCurMin rebuilt in slot order — byte-identical
    * to Union.getResult(HLL_8).toUpdatableByteArray for this register
    * state (HllRegMaxSpec pins it against datasketches). */
  private def denseImage: Array[Byte] = {
    val out = new Array[Byte](40 + k)
    out(0) = 10; out(1) = 1; out(2) = 7; out(3) = lgK.toByte
    out(4) = 0; out(5) = 0x10 // OUT_OF_ORDER
    var curMin = 64
    var i = 0
    while (i < k) { val v = regs(i) & 0xff; if (v < curMin) curMin = v; i += 1 }
    out(6) = curMin.toByte
    out(7) = 0x0a // curMode HLL(2) | tgt HLL_8(2) << 2
    var kxq0 = 0.0; var kxq1 = 0.0; var numAtCurMin = 0
    i = 0
    while (i < k) {
      val v = regs(i) & 0xff
      if (v < 32) kxq0 += invPow2(v) else kxq1 += invPow2(v)
      if (v == curMin) numAtCurMin += 1
      i += 1
    }
    writeDouble(out, 8, 0.0)
    writeDouble(out, 16, kxq0)
    writeDouble(out, 24, kxq1)
    writeInt(out, 32, numAtCurMin)
    writeInt(out, 36, 0)
    System.arraycopy(regs, 0, out, 40, k)
    out
  }

  /** Partial-buffer wire format: [0] = mode, then coupons or registers. */
  def serialized: Array[Byte] = {
    if (regs != null) {
      val out = new Array[Byte](1 + k)
      out(0) = 1
      System.arraycopy(regs, 0, out, 1, k)
      out
    } else {
      val cs = sortedCoupons
      val out = new Array[Byte](1 + 4 + 4 * cs.length)
      out(0) = 0
      writeInt(out, 1, cs.length)
      var i = 0
      while (i < cs.length) { writeInt(out, 5 + 4 * i, cs(i)); i += 1 }
      out
    }
  }
}

object HllRegMaxBuf {
  def deserialize(lgK: Int, b: Array[Byte]): HllRegMaxBuf = {
    val buf = new HllRegMaxBuf(lgK)
    if (b(0) == 1) {
      val k = 1 << lgK
      buf.regs = java.util.Arrays.copyOfRange(b, 1, 1 + k)
    } else {
      val n = (b(1) & 0xff) | ((b(2) & 0xff) << 8) |
        ((b(3) & 0xff) << 16) | ((b(4) & 0xff) << 24)
      var i = 0
      while (i < n) {
        val off = 5 + 4 * i
        buf.addCoupon((b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
          ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24))
        i += 1
      }
    }
    buf
  }
}
