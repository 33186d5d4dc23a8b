package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Runs each named contract entry to the noop sink and prints the
  * persisted RDDs it leaves holding blocks: id, MB, whether it is a local
  * checkpoint, and the call site that made it. A diagnostic, so it lives
  * in the test tree, outside the library jar.
  *
  * Usage: sbt "Test/runMain graft.StorageDump <sfDir> q1 q2 ..."
  */
object StorageDump {
  /** One persisted RDD holding blocks (memory plus disk bytes). */
  final case class Held(id: Int, bytes: Long, localCheckpoint: Boolean, callSite: String)

  /** Every persisted RDD of `sc` that holds blocks, by id. */
  def held(sc: SparkContext): Seq[Held] = {
    val rdds = sc.getPersistentRDDs
    sc.getRDDStorageInfo.toSeq.map { i =>
      Held(i.id, i.memSize + i.diskSize,
        rdds.get(i.id).exists(r => r.isCheckpointed && r.getCheckpointFile.isEmpty),
        i.callSite)
    }.sortBy(_.id)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, names @ _*) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      try {
        SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
        val h = held(spark.sparkContext)
        println(f"[storage] $n: ${h.map(_.bytes).sum / 1e6}%.6f MB in ${h.size} RDDs")
        h.foreach { r =>
          println(f"[storage]   rdd ${r.id}%5d ${r.bytes / 1e6}%10.6f MB " +
            s"${if (r.localCheckpoint) "checkpoint" else "persisted "} ${r.callSite}")
        }
      } catch { case e: Throwable =>
        println(s"[storage] $n failed: ${e.getMessage}")
      }
      finally Caches.clearAll(spark)
    }
    spark.stop()
  }
}
