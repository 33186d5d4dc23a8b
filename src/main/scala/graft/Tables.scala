package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet
import org.apache.spark.sql.types.StructType

/** Central parquet loaders for the scale-factor table dirs (TESTDATA.md).
  *
  * Single entry point for every scan so Catalyst's column pruning and
  * predicate pushdown reach the parquet reader of every operator; at
  * cluster scale these would be catalog tables with partitioning metadata.
  *
  * A read runs no Spark job: the schema comes from one footer read on the
  * driver (see `read`), where `spark.read.parquet` would launch a one-task
  * inference job per call — the request path's dominant fixed cost.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` with the same schema, read on the driver.
    * With `mergeSchema` off, Spark's inference reads exactly one footer —
    * of a root summary file if there is one, else of the path-sorted first
    * data file — and this reads the same footer through Spark's own
    * converter under the session conf, then hands the schema to the
    * reader. Partition columns are still discovered from the directory
    * names, and the listing is fresh per call, so a read sees the latest
    * write. A path that does not exist as given (a glob, a missing table),
    * a table with no data file, and `mergeSchema=true` take Spark's own
    * inference and its errors. */
  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    if (spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean) return None
    val conf = GraftParquet.hadoopConf(spark)
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val root = try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    root.flatMap(schemaFile(fs, _))
      .flatMap(GraftParquet.footerSchema(spark, conf, _))
  }

  /** The file whose footer Spark's non-merging inference reads: a
    * `_common_metadata`, else a `_metadata` summary (writers place them at
    * the table root), else the data file whose path sorts first. The walk
    * descends into partition dirs and skips the names Spark's file index
    * hides (`_x` unless it holds `=`, `.x`, `x._COPYING_`). A directory
    * sorts by `name/`, so the depth-first walk meets the path-sorted first
    * leaf first and stops there. */
  private def schemaFile(fs: FileSystem, root: FileStatus): Option[FileStatus] = {
    def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) ||
      n.startsWith(".") || n.endsWith("._COPYING_")
    def firstData(entries: Array[FileStatus]): Option[FileStatus] =
      entries.filterNot(c => hidden(c.getPath.getName))
        .sortBy(c => c.getPath.getName + (if (c.isDirectory) "/" else ""))
        .iterator.flatMap(c =>
          if (c.isDirectory) firstData(fs.listStatus(c.getPath)) else Some(c))
        .nextOption()
    if (!root.isDirectory) return Some(root)
    val top = fs.listStatus(root.getPath)
    Seq("_common_metadata", "_metadata")
      .flatMap(n => top.find(_.getPath.getName == n)).headOption
      .orElse(firstData(top))
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  // NOT widened (measured, r4): most fact-table consumers shuffle by a
  // key within one stage of the scan (orderkey/partkey groupBys, the
  // fold shuffles), so a blind repartition only ADDS an exchange —
  // copurchase and place_order regressed ~20% under it, while only the
  // pure broadcast-join-then-agg queries gained. The under-split-scan
  // fix stays where every consumer is pre-shuffle compute-heavy
  // (documents, embeddings).
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) (which Spark's
    * vectorized reader rejects — read nanos as long, truncate to µs) and
    * as plain TIMESTAMP(MICROS)/NTZ, depending on the generator run.
    * Normalize every form to session-tz TimestampType so downstream
    * operators and the DuckDB oracle's CAST(ts AS TIMESTAMP) see the
    * same µs values (session tz is pinned to UTC ⇒ the NTZ cast is a
    * pure dtype change). */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val t = table(s, d, "events")
    t.schema("ts").dataType match {
      case LongType => t.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => t.withColumn("ts", col("ts").cast(TimestampType))
      case _ => t
    }
  }
  /** documents arrives as one small parquet file = ONE input split, and
    * the expensive per-row work (shingle explosion, md5 hashing) happens
    * BEFORE any shuffle — on a single core unless the scan is widened.
    * The table is tiny per row, so the widening shuffle is negligible;
    * at real scale the store is pre-split and this is a no-op. */
  def documents(s: SparkSession, d: String): DataFrame = {
    val t = table(s, d, "documents")
    val p = s.sparkContext.defaultParallelism
    if (t.rdd.getNumPartitions < p) t.repartition(p) else t
  }
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
