package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dump `explain("formatted")` for named queries to <outDir>/<name>_<tag>.txt,
  * so two trees' plans can be diffed (the before/after files under plans/).
  * A diagnostic, so it lives in the test tree, outside the library jar.
  *
  * Usage: sbt "Test/runMain graft.PlanDump <sfDir> <outDir> <tag> q1 q2 ..."
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, names @ _*) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${n}_$tag.txt"), plan)
        System.err.println(s"[plandump] wrote $n")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $n failed: ${e.getMessage}")
      }
      finally Caches.clearAll(spark)
    }
    spark.stop()
  }
}
