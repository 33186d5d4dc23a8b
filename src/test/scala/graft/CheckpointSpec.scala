package graft

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{GraftCheckpoint, LogicalRDD}
import org.apache.spark.sql.functions._
import graft.operators.GraphOps

/** The contract of `GraphOps.partitionedCheckpoint`: the layout it
  * records follows the caller's `spark.sql.shuffle.partitions`, every row
  * sits in the partition that layout names, `sorted` orders each
  * partition, and the caller's session is left as it was. Also the
  * contract of `GraftCheckpoint.release`: it frees what a checkpoint
  * holds in storage, which `Dataset.unpersist` does not, and
  * `Caches.clearAll` frees leftover checkpoints without a warning. */
class CheckpointSpec extends SparkSpecBase {
  import spark.implicits._

  private val spk = "spark.sql.shuffle.partitions"

  private def withPartitions[T](n: Int)(body: => T): T = {
    val prev = spark.conf.getOption(spk)
    spark.conf.set(spk, n.toString)
    try body finally prev.fold(spark.conf.unset(spk))(spark.conf.set(spk, _))
  }

  private def frame = spark.range(0, 2000)
    .select((col("id") * 7919 % 211).as("src"), col("id").as("dst"))

  test("the checkpoint takes the caller's shuffle.partitions and records hashpartitioning(src, n)") {
    withPartitions(7) {
      val ck = GraphOps.partitionedCheckpoint(frame, "src")
      assert(ck.rdd.getNumPartitions == 7)
      ck.queryExecution.executedPlan.outputPartitioning match {
        case h: HashPartitioning =>
          assert(h.numPartitions == 7)
          assert(h.references.map(_.name).toSeq == Seq("src"), h.toString)
        case p => fail(s"no hash partitioning recorded: $p")
      }
    }
  }

  test("every row sits in partition pmod(hash(src), n)") {
    withPartitions(7) {
      val ck = GraphOps.partitionedCheckpoint(frame, "src")
      val placed = ck.select(spark_partition_id().as("pid"),
        pmod(hash(col("src")), lit(7)).as("want"))
      assert(placed.distinct().count() > 1, "all rows in one partition")
      assert(placed.filter(col("pid") =!= col("want")).count() == 0)
    }
  }

  test("sorted = true: src never decreases within a partition") {
    withPartitions(7) {
      val ck = GraphOps.partitionedCheckpoint(frame, "src", sorted = true)
      val runs = ck.rdd.mapPartitions { it =>
        val keys = it.map(_.getLong(0)).toVector
        Iterator((keys.distinct.size, keys == keys.sorted))
      }.collect()
      assert(runs.exists(_._1 > 1), "no partition holds two keys")
      assert(runs.forall(_._2), "a partition is out of src order")
    }
  }

  test("the caller's AQE flag and the global temp database are untouched") {
    val aqe = "spark.sql.adaptive.enabled"
    val gtDb = spark.conf.get("spark.sql.globalTempDatabase")
    val before = spark.catalog.listTables(gtDb).collect().map(_.name).toSet
    val aqeBefore = spark.conf.getOption(aqe)
    GraphOps.partitionedCheckpoint(frame, "src", sorted = true)
    assert(spark.conf.getOption(aqe) == aqeBefore)
    assert(spark.catalog.listTables(gtDb).collect().map(_.name).toSet == before)
  }

  test("release returns the checkpoint's storage; unpersist leaves it") {
    val ck = GraphOps.partitionedCheckpoint(
      spark.range(0, 200000).select(col("id").as("src"), (col("id") * 3).as("dst")), "src")
    val rddIds = ck.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }
    assert(rddIds.nonEmpty)
    def stored: Long = spark.sparkContext.getRDDStorageInfo
      .filter(i => rddIds.contains(i.id)).map(i => i.memSize + i.diskSize).sum
    assert(stored > 0, "the checkpoint holds no storage")
    ck.unpersist(blocking = true)
    assert(stored > 0, "unpersist freed the checkpoint's blocks")
    GraftCheckpoint.release(ck)
    assert(stored == 0, s"$stored bytes left after release")
  }

  test("Caches.clearAll frees a loop's leftover checkpoints without a lineage warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    // RDD's logger is named after the RDD's class, so the appender sits
    // on the root logger and keeps the rdd package's warnings
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("rdd-warnings", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.startsWith("org.apache.spark.rdd.") && e.getLevel == Level.WARN)
          warned.add(e.getMessage.getFormattedMessage)
    }
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    val g = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L), (4L, 5L, 1L))
      .toDF("src", "dst", "weight")
    Caches.clearAll(spark)
    GraphOps.communitiesOf(g, 3).collect()
    assert(spark.sparkContext.getPersistentRDDs.values.exists(_.isCheckpointed),
      "the loop left no checkpoint to free")
    appender.start()
    root.addAppender(appender)
    try Caches.clearAll(spark)
    finally { root.removeAppender(appender); appender.stop() }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(warned.isEmpty, s"clearAll warned: ${warned.toArray.mkString("; ")}")
  }
}
