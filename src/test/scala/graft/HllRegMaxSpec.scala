package graft

import org.apache.datasketches.hll.{HllSketch, TgtHllType, Union}
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, HllRegMaxBuf}

/** Parity contract of the register-max HLL union kernel (r18) against
  * datasketches' own union — the estimator-parity pin VERDICT r17 #1
  * asked for: coupon-regime exactness, a promotion-boundary fixture,
  * and dense-regime canonical byte-parity. */
class HllRegMaxSpec extends SparkSpecBase {
  private val LgK = 8
  private val K = 1 << LgK

  private def sk1(x: Long): Array[Byte] = {
    val sk = new HllSketch(LgK, TgtHllType.HLL_8)
    sk.update(x); sk.toUpdatableByteArray
  }
  private def unionAll(sks: Seq[Array[Byte]]): Array[Byte] = {
    val u = new Union(LgK)
    sks.foreach(b => u.update(HllSketch.heapify(Memory.wrap(b))))
    u.getResult(TgtHllType.HLL_8).toUpdatableByteArray
  }
  private def est(b: Array[Byte]): Double =
    HllSketch.heapify(Memory.wrap(b)).getEstimate
  private def myUnion(sks: Seq[Array[Byte]]): Array[Byte] = {
    val buf = new HllRegMaxBuf(LgK)
    sks.foreach(buf.addSketch)
    buf.toImage
  }

  test("coupon regime: estimate bit-equal to the datasketches union for any layout") {
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 40) {
      val n = 1 + rnd.nextInt(24)
      val items = Seq.fill(n)(rnd.nextLong())
      val real = unionAll(items.map(sk1))
      val mine = myUnion(rnd.shuffle(items).map(sk1))
      if ((real(7) & 3) != 2) { // still coupon mode: counts collide rarely
        assert(est(mine) == est(real),
          s"n=$n mine=${est(mine)} real=${est(real)}")
        assert((mine(7) & 3) == (real(7) & 3), "mode must match at equal count")
      }
    }
  }

  test("coupon images round-trip through datasketches heapify (LIST and SET)") {
    for (n <- Seq(1, 3, 7, 8, 15, 24)) {
      val items = (0 until n).map(i => 997L * i + 13)
      val mine = myUnion(items.map(sk1))
      val real = unionAll(items.map(sk1))
      assert(est(mine) == est(real), s"n=$n")
      // and a datasketches union can consume my image as input
      val both = unionAll(Seq(mine, sk1(123456789L)))
      val ref = unionAll(items.map(sk1) :+ sk1(123456789L))
      assert(est(both) == est(ref), s"n=$n downstream-union")
    }
  }

  test("dense regime: registers equal the datasketches union's; image is byte-canonical") {
    val rnd = new scala.util.Random(7)
    for (t <- 0 until 25) {
      val parts = (0 until (2 + rnd.nextInt(5))).map { _ =>
        val lo = rnd.nextInt(4000); val ln = 30 + rnd.nextInt(700)
        unionAll((lo until (lo + ln)).map(i => sk1(i.toLong)))
      }
      val real = unionAll(parts)
      val mine = myUnion(rnd.shuffle(parts))
      assert((mine(7) & 3) == 2 && (real(7) & 3) == 2)
      assert(java.util.Arrays.equals(
        java.util.Arrays.copyOfRange(real, 40, 40 + K),
        java.util.Arrays.copyOfRange(mine, 40, 40 + K)),
        s"t=$t register mismatch")
      // the canonical serialization IS datasketches' own canonical dense
      // result (dense-dense unions rebuild kxq/curMin and zero HIP)
      assert(java.util.Arrays.equals(real, mine), s"t=$t image mismatch")
    }
  }

  test("an image built at another lgK is rejected, not partially merged") {
    val s = spark
    import s.implicits._
    // 5000 distinct items put an lgK=12 sketch in dense mode: 40 + 4096
    // bytes, long enough to pass the lgK=8 dense length check
    val img = (0L until 5000L).toDF("x")
      .agg(hll_sketch_agg($"x", 12)).head().getAs[Array[Byte]](0)
    assert(img(3) == 12 && (img(7) & 3) == 2 && img.length >= 40 + K)
    val e = intercept[IllegalArgumentException](new HllRegMaxBuf(LgK).addSketch(img))
    assert(e.getMessage.contains("lgK"))
  }

  test("promotion boundary: estimate tracks the exact count within 10% across 20..60") {
    for (n <- 20 to 60 by 4) {
      val items = (0 until n).map(i => 31L * i + 5)
      val mine = myUnion(items.map(sk1))
      val e = est(mine)
      assert(math.abs(e - n) / n < 0.10, s"n=$n est=$e")
    }
  }

  test("merge tree and partitioning invariance: identical output bytes") {
    val rnd = new scala.util.Random(3)
    val parts = (0 until 30).map { i =>
      val lo = rnd.nextInt(2000); val ln = 1 + rnd.nextInt(200)
      unionAll((lo until (lo + ln)).map(j => sk1(j.toLong)))
    }
    val flat = myUnion(parts)
    // tree: partial buffers merged via addBuffer (the partial/final path)
    val bufs = rnd.shuffle(parts).grouped(7).map { g =>
      val b = new HllRegMaxBuf(LgK); g.foreach(b.addSketch); b
    }.toSeq
    val root = new HllRegMaxBuf(LgK)
    bufs.foreach(root.addBuffer)
    assert(java.util.Arrays.equals(flat, root.toImage))
    // serde round-trip of partial buffers
    val viaSer = new HllRegMaxBuf(LgK)
    bufs.map(_.serialized).foreach(b =>
      viaSer.addBuffer(graft.functions.HllRegMaxBuf.deserialize(LgK, b)))
    assert(java.util.Arrays.equals(flat, viaSer.toImage))
  }

  test("DataFrame agg: coupon-regime estimates equal the built-in union's") {
    val s = spark
    import s.implicits._
    // 50 groups of ≤ 20 members: every ball stays in coupon mode where
    // both aggregates are count-exact — estimates must be bit-equal
    val rows = for (g <- 0 until 50; i <- 0 until (1 + g % 20))
      yield (g.toLong, 1000L * g + i)
    val base = rows.toDF("g", "x")
      .groupBy($"g", $"x").agg(hll_sketch_agg($"x", LgK).as("sk"))
    val mine = base.groupBy($"g")
      .agg(hll_sketch_estimate(GraftFunctions.hllRegMaxUnion($"sk", LgK)).as("e"))
    val ref = base.groupBy($"g")
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("e"))
    val m = mine.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r = ref.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == r)
  }

  test("reach profile and harmonic stay exact on the coupon-mode path fixture") {
    val s = spark
    import s.implicits._
    val path = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 5L, 1L))
      .toDF("src", "dst", "weight")
    val prof = graft.operators.GraphOps.reachProfileOf(path, 5)
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    val expected = Seq(5.0, 13.0, 19.0, 23.0, 25.0, 25.0)
    prof.zip(expected).foreach { case ((t, e), x) =>
      assert(math.abs(e - x) < 1e-6, s"round $t: $e != $x") }
  }
}
