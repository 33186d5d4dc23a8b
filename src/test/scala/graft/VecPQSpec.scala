package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.VecPQ

/** PQ training contract: `VecPQ.train` assigns through the same PqEncode
  * kernel as `encode` — argmin-L2 with dot sums ascending over the
  * subvector, ties to the larger code — and a longer run compiles no new
  * classes (the books reach the kernel as a referenced object, not as
  * literals in generated source). */
class VecPQSpec extends SparkSpecBase {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** Driver-side argmin over one subspace's book, PqEncode's scoring
    * order; returns (code, whether another centroid tied the best). */
  private def argmin(sub: Array[Double], book: Array[Array[Double]],
      largerWins: Boolean): (Int, Boolean) = {
    val scores = book.map { c =>
      var s = 0.0
      for (d <- sub.indices) s += sub(d) * c(d)
      s - 0.5 * c.map(x => x * x).sum
    }
    val tied = scores.indices.filter(scores(_) == scores.max)
    (if (largerWins) tied.last else tied.head, tied.size > 1)
  }

  /** Driver-side Lloyd with train's seeding (md5 order of "pq:" + id);
    * returns the books and the number of tied assignments made. */
  private def lloyd(pts: Seq[(Long, Array[Double])], m: Int, ksub: Int,
      iters: Int, largerWins: Boolean): (Array[Array[Array[Double]]], Int) = {
    val seeds = pts.sortBy { case (id, _) => (md5Hex(s"pq:$id"), id) }
      .take(ksub).map(_._2)
    val dsub = seeds.head.length / m
    def sub(u: Array[Double], j: Int) = u.slice(j * dsub, j * dsub + dsub)
    var books = Array.tabulate(m)(j => seeds.map(sub(_, j)).toArray)
    var ties = 0
    for (_ <- 0 until iters) {
      books = Array.tabulate(m) { j =>
        val byCode = pts.map { case (_, u) =>
          val (code, tie) = argmin(sub(u, j), books(j), largerWins)
          if (tie) ties += 1
          code -> sub(u, j)
        }.groupBy(_._1)
        books(j).indices.map { c =>
          byCode.get(c) match {
            case Some(members) =>
              Array.tabulate(dsub)(p => members.map(_._2(p)).sum / members.size)
            case None => books(j)(c)
          }
        }.toArray
      }
    }
    (books, ties)
  }

  private def deep(books: Array[Array[Array[Double]]]): Seq[Seq[Seq[Double]]] =
    books.map(_.map(_.toSeq).toSeq).toSeq

  private def frame(pts: Seq[(Long, Array[Double])]): DataFrame = {
    val s = spark
    import s.implicits._
    pts.map { case (id, u) => (id, u.toSeq) }.toDF("vec_id", "u")
  }

  test("train: books equal a driver-side Lloyd, ties to the larger code") {
    // integer coordinates keep every centroid an exact (sum / count), so
    // Spark's unordered sums and the driver's agree bit for bit. With
    // ksub=2 the seeds are ids 5 and 3: subspace 0 seeds 0 and 2 with
    // three points at the midpoint 1; subspace 1 seeds two equal centroids
    val xy = Map(5L -> (0, 3), 3L -> (2, 3), 4L -> (1, 1), 7L -> (1, 5),
      1L -> (0, 2), 2L -> (2, 6), 8L -> (4, 3), 6L -> (1, 4))
    val pts = xy.toSeq.sortBy(_._1).map { case (id, (x, y)) =>
      id -> Array(x.toDouble, y.toDouble) }
    val (want, ties) = lloyd(pts, m = 2, ksub = 2, iters = 3, largerWins = true)
    val (smallerWins, _) = lloyd(pts, m = 2, ksub = 2, iters = 3, largerWins = false)
    assert(ties > 0)
    assert(deep(want) != deep(smallerWins), "the fixture must tell the tie rules apart")

    val books = VecPQ.train(frame(pts), m = 2, ksub = 2, iters = 3)
    assert(deep(books) == deep(want))

    val codes = frame(pts).select(col("vec_id"), VecPQ.encode(col("u"), books))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    for ((id, u) <- pts; j <- 0 until 2) {
      val (code, _) = argmin(u.slice(j, j + 1), books(j), largerWins = true)
      assert(codes(id)(j) == code, s"vec $id subspace $j")
    }
  }

  test("train: later Lloyd iterations compile no new classes") {
    val rnd = new scala.util.Random(7)
    val pts = (0L until 240L).map(id => id -> Array.fill(8)(rnd.nextGaussian()))
    val unit = frame(pts).cache()
    VecPQ.train(unit, m = 2, ksub = 4, iters = 2)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val books = VecPQ.train(unit, m = 2, ksub = 4, iters = 5)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled)
    assert(books.length == 2 && books.forall(_.length == 4))
    unit.unpersist()
  }
}
