package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Scale-safe grouped global rank.
  *
  * `ROW_NUMBER() OVER (PARTITION BY g ORDER BY ...)` hash-partitions by
  * `g` and runs each group through ONE task — fine when groups are small
  * (per-vertex, per-order), fatal when a group is a whole language or the
  * whole corpus (a 50 TB stratum lands on a single executor thread). This
  * is the distributed answer: range-partition by (group, sortKeys), count
  * the boundary-spanning runs, and rebuild exact global row numbers from
  * per-partition offsets. No group ever concentrates on one task; driver
  * state is one bounded row per partition.
  *
  * Equivalent to the window form row-for-row (specced + property-tested),
  * including a constant group column = a full global ROW_NUMBER.
  */
object Ranking {

  /** One bounded summary row per range partition: the leading run (first
    * group value and its row count), the trailing run, and the total.
    * A group spanning partitions p..q fully occupies p+1..q-1, so these
    * three numbers reconstruct every cross-partition offset exactly.
    * (Not `private`: Spark's generated SafeProjection needs constructor
    * access, else every summary pass falls back to interpreted mode.) */
  case class PartSummary(pid: Int, nonEmpty: Boolean,
      headKey: String, headRun: Long, tailKey: String, tailRun: Long,
      total: Long)

  /** Append `rankCol` = global 1-based row number within `groupCol` under
    * `order` (which must make the sort total — include a unique tiebreak
    * column). `nPartitions` defaults to the session shuffle parallelism;
    * `cacheKey` registers the ranged frame in [[graft.Caches]] so the two
    * passes share one materialization and `Caches.clearAll` releases it. */
  def rowNumberWithin(df: DataFrame, groupCol: String, order: Seq[Column],
      rankCol: String, cacheKey: String, nPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val nP = if (nPartitions > 0) nPartitions
             else spark.sessionState.conf.numShufflePartitions
    val sortCols = col(groupCol) +: order
    // range partitioner's reservoir sampling is seeded per input split
    // (deterministic), and the frame is persisted so the summary pass and
    // the rank pass see the identical partitioning
    val ranged = graft.Caches.cached(cacheKey) {
      df.repartitionByRange(nP, sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
    }
    val gIdx = ranged.schema.fieldIndex(groupCol)
    val keyOf = (r: Row) => String.valueOf(r.get(gIdx))

    val summaries: Array[PartSummary] = {
      import spark.implicits._
      ranged.toDF().mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        if (!it.hasNext) Iterator.single(PartSummary(pid, nonEmpty = false, "", 0L, "", 0L, 0L))
        else {
          val first = it.next()
          val headKey = keyOf(first)
          var headRun = 1L
          var inHead = true
          var tailKey = headKey
          var tailRun = 1L
          var total = 1L
          while (it.hasNext) {
            val r = it.next()
            val k = keyOf(r)
            total += 1
            if (inHead && k == headKey) headRun += 1 else inHead = false
            if (k == tailKey) tailRun += 1 else { tailKey = k; tailRun = 1L }
          }
          Iterator.single(PartSummary(pid, nonEmpty = true, headKey, headRun, tailKey, tailRun, total))
        }
      }.collect().sortBy(_.pid)
    }

    // walk partitions in order carrying each group's accumulated count;
    // only the group alive at a boundary survives the carry (others ended)
    val offsets = new Array[Long](summaries.length) // offset for pid's head group
    var carryKey: String = null
    var carryCount = 0L
    summaries.foreach { ps =>
      if (ps.nonEmpty) {
        offsets(ps.pid) = if (carryKey != null && carryKey == ps.headKey) carryCount else 0L
        val wholePartitionOneGroup = ps.headKey == ps.tailKey && ps.headRun == ps.total
        carryCount =
          if (wholePartitionOneGroup) offsets(ps.pid) + ps.total
          else ps.tailRun
        carryKey = ps.tailKey
      } else offsets(ps.pid) = 0L
    }
    val bOffsets = spark.sparkContext.broadcast(offsets)

    // rank pass: local running count per group; only the partition's HEAD
    // group (the run continuing from the previous partition) adds its
    // carried offset — every later group starts fresh inside this partition
    val outSchema = StructType(ranged.schema.fields :+ StructField(rankCol, LongType, nullable = false))
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    ranged.toDF().mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val off = bOffsets.value(pid)
      var headKey: String = null
      var curKey: String = null
      var local = 0L
      it.map { r =>
        val k = keyOf(r)
        if (curKey == null) { headKey = k; curKey = k }
        else if (k != curKey) { curKey = k; local = 0L }
        local += 1
        val global = if (curKey == headKey) off + local else local
        Row.fromSeq(r.toSeq :+ global)
      }
    }
  }
}
