package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftTestBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs; sf0.001 keeps suites fast. */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpecBase.session

  override def afterAll(): Unit = () // session shared across suites

  /** Spark jobs `body` starts, counted by a listener on a tag local to the
    * calling thread (so other work in the shared session stays out), read
    * once the listener bus has drained. */
  protected def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobTag"
    val tag = java.util.UUID.randomUUID.toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try body
    finally {
      sc.setLocalProperty(key, null)
      GraftTestBridge.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  /** Classes janino compiles while `body` runs (codegen cache misses),
    * counted process-wide: specs run one at a time in the test JVM. */
  protected def compilesOf(body: => Any): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
