package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import graft.sinks.TableWriter

/** The driver-side footer read behind every `Tables` scan gives exactly
  * the schema Spark's own inference gives, and fails where it fails. */
class TablesSpec extends SparkSpecBase {
  private val sf001 = Paths.get(sfDir).resolveSibling("sf0.01").toString
  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def assertSameSchema(path: String): Unit = {
    val inferred = spark.read.parquet(path).schema
    assert(Tables.read(spark, path).schema == inferred, path)
  }

  test("footer read: every sf0.01 table gets the schema Spark infers") {
    names.foreach(n => assertSameSchema(s"$sf001/$n.parquet"))
  }

  test("footer read: a hive-partitioned TableWriter output, hidden entries skipped") {
    val path = Files.createTempDirectory("footer-part").toString + "/part"
    TableWriter.writePartitioned(Tables.part(spark, sfDir), path, Seq("p_brand"), Seq("p_partkey"))
    // names Spark's file index hides, sorted ahead of every data file: the
    // walk must skip them exactly as the index does
    Files.createDirectories(Paths.get(path, "_junk"))
    Files.write(Paths.get(path, "_junk", "a.parquet"), "not parquet".getBytes)
    Files.write(Paths.get(path, ".a.parquet"), "not parquet".getBytes)
    assertSameSchema(path)
    val back = Tables.read(spark, path)
    assert(back.schema.fieldNames.last == "p_brand")
    assert(back.count() == Tables.part(spark, sfDir).count())
  }

  test("footer read: a Spark-written table with timestamps and required fields") {
    val path = Files.createTempDirectory("footer-ts").toString + "/t"
    spark.range(5)
      .select(col("id"), timestamp_seconds(col("id")).as("ts"),
        timestamp_seconds(col("id")).cast("timestamp_ntz").as("ts_ntz"),
        (col("id") * 1.5).as("x"))
      .write.parquet(path)
    assertSameSchema(path)
    assert(Tables.read(spark, path).orderBy("id").collect().toSeq ==
      spark.read.parquet(path).orderBy("id").collect().toSeq)
  }

  test("footer read: a glob reads as Spark reads it, a missing path still throws") {
    assertSameSchema(s"$sf001/par*.parquet")
    assert(Tables.read(spark, s"$sf001/par*.parquet").count() ==
      Tables.part(spark, sf001).count())
    val missing = Files.createTempDirectory("footer-missing").toString + "/nope"
    intercept[AnalysisException](Tables.read(spark, missing))
  }
}
