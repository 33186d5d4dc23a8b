package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.GraftCheckpoint
import org.apache.spark.sql.functions.{col, collect_set, count_if, when}
import graft.functions.Param

/** Parquet layout writers for downstream scale. Each leaves ONE file per
  * unit a reader prunes to, so a pruned read opens one file per unit:
  *
  *  - `writePartitioned`: hive-style partition dirs, one file each →
  *    partition pruning at read (a filter on the partition column never
  *    touches other dirs), with sortWithinPartitions for row-group
  *    min/max skipping.
  *  - `writeBucketed`: a bucketed table, one file per bucket → joins and
  *    aggregations on the bucket key skip the shuffle (SortMergeJoin with
  *    zero Exchange), and a filter on it reads only its buckets' files.
  *  - `mergeInto`: keyed upsert that rewrites only the partitions its
  *    delta touches, one file each.
  *  - `compact`: small-file compaction — streaming/incremental ingestion
  *    leaves thousands of KB-sized files per partition; re-reading them
  *    dominates task-scheduling overhead at scale. Rewrites a directory
  *    to ~`targetRowsPerFile` rows per file with an optional locality
  *    sort (row-group min/max skipping survives compaction).
  */
object TableWriter {

  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String], sortCols: Seq[String]): Unit =
    df.repartition(partitionCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Rewrite `inPath` (parquet, possibly thousands of small files) to
    * `outPath` with files of ~targetRowsPerFile rows. Row count, not
    * bytes, keys the split so the file count is deterministic; a byte
    * target divides by the table's average row width upstream. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetRowsPerFile: Long, sortCols: Seq[String] = Nil): Unit = {
    val df = graft.Tables.read(spark, inPath)
    val n = df.count()
    val files = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    val re = df.repartition(files)
    (if (sortCols.nonEmpty) re.sortWithinPartitions(sortCols.map(col): _*) else re)
      .write.mode("overwrite").parquet(outPath)
  }

  /** Exactly-once streaming sink body for `writeStream.foreachBatch`:
    * every micro-batch lands in its own `batch=<id>` directory with
    * overwrite, so an at-least-once replay of a batch (post-crash
    * recovery re-delivers the last uncommitted batch) rewrites the same
    * path instead of appending duplicates — idempotence from layout, no
    * transaction log needed. */
  def idempotentBatchSink(path: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) =>
      batch.write.mode("overwrite").parquet(s"$path/batch=$batchId")

  /** SCD1 batch MERGE (keyed upsert) into a hive-partitioned parquet
    * table — the batch twin of streaming.ProductSync for the daily
    * re-ingestion loop (a re-scraped catalog arrives as a delta frame;
    * matched keys take the new row, unmatched keys insert, untouched
    * rows survive). Parquet has no row-level transaction log, so the
    * merge is DELETE-AND-INSERT AT PARTITION GRANULARITY under dynamic
    * partition overwrite: only the partitions the delta touches are
    * rewritten — work scales with the delta's partition footprint,
    * never the table (a Delta/Iceberg MERGE INTO does exactly this under
    * copy-on-write). Re-merging the same delta rewrites the same
    * partitions with the same rows — idempotent. `updates` must be
    * key-unique (a delta with two rows per key has no well-defined SCD1
    * winner; dedupe upstream with an ordering).
    *
    * Per merge, three passes and, with a local delta, 5 jobs: one query
    * collects the footprint (the delta's partition values plus the
    * partitions hosting its keys today); the checkpoint of the merged
    * slice, hash-partitioned by partition class, collects the classes it
    * holds through `Dataset.observe` in the same pass; one
    * dynamic-overwrite write leaves ONE file per rewritten partition. The
    * first two each broadcast the delta's keys, a job of its own.
    * Partitions the slice left empty are deleted by name; nothing is
    * read back after the write.
    *
    * The host-partition semi-join scan is column-pruned to keyCols +
    * partitionCol, so it scales with TABLE ROWS, not table bytes
    * (measured at ~37% of a 200×-ratio merge: 20M-row table, 100K-row
    * delta). Callers whose partition key provably never changes for an
    * existing key (the daily re-scrape where partition = a stable
    * category) should pass `assumeStablePartitionKeys = true` and skip
    * that scan. */
  def mergeInto(spark: SparkSession, path: String, updates: DataFrame,
      keyCols: Seq[String], partitionCol: String,
      assumeStablePartitionKeys: Boolean = false): Unit = {
    // The partition CLASS a row lands in, as the writer encodes it: the
    // value cast to string under the session timezone is exactly what the
    // dynamic-partition writer feeds to getPartitionPathString, so
    // timestamps render "…00:00:00" (not java.sql.Timestamp's
    // "…00:00:00.0") and the emptied-dir names below reproduce the
    // on-disk layout. getPartitionPathString maps BOTH null and '' to
    // __HIVE_DEFAULT_PARTITION__ (and read-back re-infers that dir as
    // null), so both are the null class here: two distinct classes would
    // let a footprint holding both list the shared default dir as
    // emptied for one while the overwrite had just written the other's
    // rows into it, and would hash the one dir into two write tasks.
    val partClass = {
      val s = col(partitionCol).cast("string")
      when(s =!= "", s)
    }
    // one driver-side footer read; a path with no table takes the first write
    val target =
      try graft.Tables.read(spark, path)
      catch { case _: AnalysisException =>
        updates.repartition(partClass).write.partitionBy(partitionCol).parquet(path)
        return
      }
    val keys = updates.select(keyCols.map(col): _*)
    // An update may MOVE a key to a new partition value — the stale row
    // then lives in a partition the delta never names. The partitions
    // hosting the delta's keys TODAY come from a column-pruned keyed
    // semi-join over the table (the matching scan a Delta/Iceberg MERGE
    // pays under copy-on-write), collected in the same query as the
    // delta's own values. Each task dedupes its rows, so the collect is
    // bounded by tasks × partition classes, not by the delta.
    val footprint =
      if (assumeStablePartitionKeys) updates.select(partClass)
      else updates.select(partClass)
        .unionAll(target.join(keys, keyCols, "left_semi").select(partClass))
    val parts = footprint.as(Encoders.STRING)
      .mapPartitions(_.toSet.iterator)(Encoders.STRING)
      .collect().distinct
    // the set test never matches NULL (three-valued logic) — a footprint holding
    // the null class needs its own leg, or the dynamic overwrite would
    // DROP that partition's unmatched rows
    val named = parts.filter(_ != null)
    val partFilter =
      if (!parts.contains(null)) Param.in(partClass, named)
      else if (named.isEmpty) partClass.isNull
      else Param.in(partClass, named) || partClass.isNull
    val survivors = target.filter(partFilter).join(keys, keyCols, "left_anti")
    // the rewrite READS the same files the overwrite deletes, so the
    // merged slice is materialized (spillable checkpoint) before the
    // commit — bounded by the affected partitions, not the table. Hashing
    // by partition class puts each partition in one task, so the write
    // leaves one file per partition; there are no more tasks than
    // footprint classes or shuffle partitions. The observed classes are
    // the partitions the write will fill. The pass runs without AQE: one
    // job, not one per stage.
    val slice = GraftCheckpoint.nonAdaptive(
      survivors.unionByName(updates.select(target.columns.map(col): _*))
        .repartition(math.max(1, math.min(parts.length, shufflePartitions(spark))), partClass)
        .observe("merge_kept", collect_set(partClass), count_if(partClass.isNull)))
    val merged = slice.localCheckpoint(true)
    val seen = slice.queryExecution.observedMetrics("merge_kept")
    val kept = seen.getSeq[String](0).toSet ++ (if (seen.getLong(1) > 0) Set(null) else Set.empty)
    // the overwrite mode rides a WRITE-SCOPED option, not a set/restore
    // on the shared session conf: a concurrent thread's overwrite could
    // plan under "dynamic", and two overlapping mergeInto calls could
    // race the restore. DataFrameWriter options shadow the SQL conf per
    // write.
    try merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol).parquet(path)
    finally GraftCheckpoint.release(merged)
    // dynamic overwrite only replaces partitions it WRITES — an affected
    // partition whose every row moved away or was superseded gets no new
    // file and would keep its stale directory. Drop those explicitly,
    // with dir names encoded exactly as the writer encodes them.
    val emptied = parts.filterNot(kept)
    if (emptied.nonEmpty) {
      val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      emptied.foreach { v =>
        fs.delete(new Path(path, ExternalCatalogUtils.getPartitionPathString(partitionCol, v)), true)
      }
    }
  }

  /** Requires a session with a warehouse dir; registers `table`. Writes
    * ONE file per non-empty bucket: the rows are hash-partitioned on the
    * bucket column into `gcd(nBuckets, spark.sql.shuffle.partitions)`
    * tasks first. A bucket id is `pmod(murmur3(key), nBuckets)` and a
    * hash-partition id is `pmod(murmur3(key), p)`, the same hash; with p
    * dividing nBuckets, a bucket's rows all land in task `bucket mod p`.
    * So a scan pruned to some buckets opens one file per bucket, and the
    * write runs at most shuffle-parallelism tasks. */
  def writeBucketed(df: DataFrame, table: String,
      bucketCol: String, nBuckets: Int): Unit = {
    val tasks = BigInt(nBuckets).gcd(BigInt(shufflePartitions(df.sparkSession))).toInt
    df.repartition(tasks, col(bucketCol)).write.mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
  }

  private def shufflePartitions(s: SparkSession): Int =
    s.conf.get("spark.sql.shuffle.partitions").toInt
}
