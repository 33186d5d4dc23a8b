package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions._
import graft.sinks.TableWriter
import graft.operators.VectorOps

class SinksSpec extends SparkSpecBase {

  /** Data files per partition directory of the table at `path`. */
  private def filesPerPartition(path: String): Map[String, Int] =
    new java.io.File(path).listFiles.filter(_.isDirectory).map(d => d.getName ->
      d.listFiles.count(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))).toMap

  /** `TableWriter.mergeInto`, then the layout invariant: every partition
    * directory of the table, each written by some merge, holds exactly one
    * data file. */
  private def merge(path: String, updates: DataFrame, keyCols: Seq[String],
      partitionCol: String, assumeStablePartitionKeys: Boolean = false): Unit = {
    TableWriter.mergeInto(spark, path, updates, keyCols, partitionCol, assumeStablePartitionKeys)
    val files = filesPerPartition(path)
    assert(files.nonEmpty && files.values.forall(_ == 1), s"files per partition: $files")
  }

  private val spk = "spark.sql.shuffle.partitions"

  /** Bucket ids of the table's data files, one entry per file. */
  private def fileBuckets(table: String): Seq[Int] =
    spark.table(table).inputFiles.toSeq.map(f =>
      BucketingUtils.getBucketId(new org.apache.hadoop.fs.Path(f).getName).get)

  test("partitioned write: a partition filter prunes to one directory") {
    val out = Files.createTempDirectory("partw").toString + "/li"
    val li = Tables.lineitem(spark, sfDir)
    TableWriter.writePartitioned(li, out, Seq("l_returnflag"), Seq("l_shipdate"))
    val back = spark.read.parquet(out).filter(col("l_returnflag") === "R")
    // inputFiles is pre-pruning; the physical scan's PartitionFilters is
    // what proves the filter became directory pruning
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("(l_returnflag"),
      s"partition filter not pushed:\n$scan")
    assert(back.count() == li.filter(col("l_returnflag") === "R").count())
  }

  test("bucketed tables join without a shuffle") {
    val o = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    TableWriter.writeBucketed(o, "orders_b", "o_orderkey", 4)
    TableWriter.writeBucketed(li.withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", "o_orderkey", 4)
    // small inputs would be broadcast, which bypasses bucketing — force the
    // shuffle-join path to observe bucket co-location
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_b").join(spark.table("lineitem_b"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == Tables.lineitem(spark, sfDir).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed write: one file per non-empty bucket, whatever shuffle.partitions is") {
    val df = spark.range(0, 5000).select((col("id") * 7919 % 1009).as("k"), col("id").as("v"))
    val nonEmpty = df.select(pmod(hash(col("k")), lit(64))).distinct().collect()
      .map(_.getInt(0)).sorted.toSeq
    val prev = spark.conf.getOption(spk)
    // 4 divides 64; 6 does not (gcd 2)
    for (n <- Seq(4, 6)) try {
      spark.conf.set(spk, n.toString)
      TableWriter.writeBucketed(df, s"one_file_b$n", "k", 64)
      val buckets = fileBuckets(s"one_file_b$n")
      assert(buckets.sorted == nonEmpty,
        s"shuffle.partitions=$n: ${buckets.length} files for ${nonEmpty.length} non-empty buckets")
      assert(spark.table(s"one_file_b$n").count() == 5000)
    } finally prev.fold(spark.conf.unset(spk))(spark.conf.set(spk, _))
  }

  test("mergeInto: a merge of a local delta runs at most 5 jobs") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("mergejobs").toString + "/t"
    val table = (1L to 40L).map(i => (i, s"n$i", i * 10, s"c${i % 5}")).toDF("pk", "name", "price", "cat")
    merge(path, table, Seq("pk"), "cat")
    // an update, a move and an insert across three partitions
    val delta = Seq((1L, "n1-v2", 11L, "c1"), (2L, "n2-v2", 21L, "c4"), (99L, "new", 990L, "c0"))
      .toDF("pk", "name", "price", "cat")
    val jobs = jobsOf(merge(path, delta, Seq("pk"), "cat"))
    assert(jobs <= 5, s"a merge ran $jobs jobs")
    assert(spark.read.parquet(path).count() == 41)
  }

  test("mergeInto: a footprint of a new size compiles no more classes than a repeat") {
    val s = spark
    import s.implicits._
    val prev = spark.conf.getOption(spk)
    try {
      // 4 tasks for every footprint of at least 4 classes
      spark.conf.set(spk, "4")
      val path = Files.createTempDirectory("mergesize").toString + "/t"
      val cols = Seq("pk", "name", "price", "cat")
      merge(path, (1L to 60L).map(i => (i, s"n$i", i, s"c${i % 20}")).toDF(cols: _*), Seq("pk"), "cat")
      // one row per class: a delta of n keys touches n partitions
      def delta(n: Int, v: Long) =
        (1L to n.toLong).map(i => (i, s"n$i-v$v", v, s"c${i % 20}")).toDF(cols: _*)
      merge(path, delta(4, 1L), Seq("pk"), "cat")
      val repeat = compilesOf(merge(path, delta(4, 2L), Seq("pk"), "cat"))
      for ((n, v) <- Seq((5, 3L), (12, 4L))) {
        val c = compilesOf(merge(path, delta(n, v), Seq("pk"), "cat"))
        assert(c <= repeat, s"a $n-class merge compiled $c classes, a repeat $repeat")
      }
      assert(spark.read.parquet(path).count() == 60)
    } finally prev.fold(spark.conf.unset(spk))(spark.conf.set(spk, _))
  }

  test("compaction: thousands of tiny files collapse to the target count, content intact") {
    val base = Files.createTempDirectory("compact").toString
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_linenumber", "l_quantity")
    li.repartition(200).write.parquet(s"$base/small") // simulate ingest debris
    assert(spark.read.parquet(s"$base/small").inputFiles.length >= 190)
    TableWriter.compact(spark, s"$base/small", s"$base/big",
      targetRowsPerFile = 2000, sortCols = Seq("l_orderkey"))
    val out = spark.read.parquet(s"$base/big")
    val expected = ((li.count() + 1999) / 2000).toInt
    assert(out.inputFiles.length == expected,
      s"got ${out.inputFiles.length} files, want $expected")
    assert(out.count() == li.count())
    assert(out.select(sum(col("l_quantity"))).collect()(0).getDouble(0)
      == li.select(sum(col("l_quantity"))).collect()(0).getDouble(0))
  }

  test("mergeInto: SCD1 upsert rewrites only touched partitions, re-merge is idempotent") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("merge").toString + "/t"
    def table = Seq(
      (1L, "widget", 10L, "tools"), (2L, "gadget", 20L, "tools"),
      (3L, "cable", 30L, "wires"), (4L, "plug", 40L, "wires"))
      .toDF("pk", "name", "price", "cat")
    // first merge = create
    merge(path, table, Seq("pk"), "cat")
    assert(spark.read.parquet(path).count() == 4)
    // delta: update pk=1 (tools), insert pk=5 (tools); wires untouched
    // inputFiles is pre-pruning (see the partitioned-write test), so
    // select the wires directory by path
    val wiresFiles = spark.read.parquet(path)
      .inputFiles.filter(_.contains("cat=wires")).sorted.toSeq
    val delta = Seq((1L, "widget-v2", 11L, "tools"), (5L, "fuse", 50L, "tools"))
      .toDF("pk", "name", "price", "cat")
    merge(path, delta, Seq("pk"), "cat")
    val after = spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(after == Map(
      1L -> ("widget-v2", 11L), 2L -> ("gadget", 20L),
      3L -> ("cable", 30L), 4L -> ("plug", 40L), 5L -> ("fuse", 50L)),
      s"got $after")
    // changed-partitions-only: the wires files are byte-identical
    // (dynamic overwrite never rewrote that directory)
    val wiresAfter = spark.read.parquet(path)
      .inputFiles.filter(_.contains("cat=wires")).sorted.toSeq
    assert(wiresAfter == wiresFiles, "untouched partition was rewritten")
    // idempotent: re-merging the same delta changes nothing
    merge(path, delta, Seq("pk"), "cat")
    val again = spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(again == after)
    // an empty delta touches no partition
    val files = spark.read.parquet(path).inputFiles.sorted.toSeq
    merge(path, delta.limit(0), Seq("pk"), "cat")
    assert(spark.read.parquet(path).inputFiles.sorted.toSeq == files)
  }

  test("mergeInto: a path with no table takes the first-write branch") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("merge-new").toString + "/a/b/t"
    assert(!Files.exists(java.nio.file.Paths.get(path)))
    val delta = Seq((1L, "widget", "tools"), (2L, "cable", "wires")).toDF("pk", "name", "cat")
    merge(path, delta, Seq("pk"), "cat")
    val dirs = new java.io.File(path).list().filter(_.startsWith("cat=")).sorted.toSeq
    assert(dirs == Seq("cat=tools", "cat=wires"))
    assert(Tables.read(spark, path).select("pk", "name", "cat").orderBy("pk").collect().toSeq ==
      delta.collect().toSeq)
  }

  test("mergeInto: a key that changes its partition value leaves no stale row behind") {
    val s = spark
    import s.implicits._
    // ADVICE r9 (medium): the SCD1 contract is keyed upsert — if the
    // delta moves pk=3 from wires to tools, the wires copy must DIE,
    // exactly as a Delta/Iceberg MERGE deletes the matched row wherever
    // it lives. pk=6 is the SOLE row of its partition and moves out:
    // the emptied directory must disappear too (dynamic overwrite alone
    // cannot delete a partition it writes nothing to).
    val path = Files.createTempDirectory("mergemv").toString + "/t"
    val table = Seq(
      (1L, "widget", 10L, "tools"), (3L, "cable", 30L, "wires"),
      (4L, "plug", 40L, "wires"), (6L, "lamp", 60L, "lights"))
      .toDF("pk", "name", "price", "cat")
    merge(path, table, Seq("pk"), "cat")
    val delta = Seq((3L, "cable-v2", 31L, "tools"), (6L, "lamp-v2", 61L, "tools"))
      .toDF("pk", "name", "price", "cat")
    merge(path, delta, Seq("pk"), "cat")
    val after = spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(after == Map(
      1L -> ("widget", 10L, "tools"), 3L -> ("cable-v2", 31L, "tools"),
      4L -> ("plug", 40L, "wires"), 6L -> ("lamp-v2", 61L, "tools")),
      s"got $after")
    assert(after.size == 4, "stale moved-partition rows survive")
    // the emptied lights partition directory is gone
    assert(!spark.read.parquet(path).inputFiles.exists(_.contains("cat=lights")))
    // re-merge stays idempotent after the move
    merge(path, delta, Seq("pk"), "cat")
    assert(spark.read.parquet(path).count() == 4)
    // the fast path honors its documented contract when keys are stable:
    // an in-place update under assumeStablePartitionKeys=true still works
    val delta2 = Seq((4L, "plug-v2", 41L, "wires")).toDF("pk", "name", "price", "cat")
    merge(path, delta2, Seq("pk"), "cat",
      assumeStablePartitionKeys = true)
    val p4 = spark.read.parquet(path).filter($"pk" === 4L).collect()
    assert(p4.length == 1 && p4(0).getString(1) == "plug-v2")
  }

  test("mergeInto: null and timestamp partition values — exact writer encoding, no data loss") {
    val s = spark
    import s.implicits._
    // ADVICE r10 (medium): two partition-value classes the string-naive
    // path got wrong. (a) NULL: isin never matches null, so the null
    // partition fell out of `affected` and the dynamic overwrite DROPPED
    // its unmatched rows; the emptied-dir name also rendered "cat=null"
    // instead of __HIVE_DEFAULT_PARTITION__. (b) timestamp: the dir name
    // rendered java.sql.Timestamp's trailing ".0", never matching disk.
    val path = Files.createTempDirectory("mergenull").toString + "/t"
    val table = Seq(
      (1L, "widget", Some("tools")), (2L, "gadget", Some("tools")),
      (3L, "mystery", None), (4L, "enigma", None))
      .toDF("pk", "name", "cat")
    merge(path, table, Seq("pk"), "cat")
    assert(spark.read.parquet(path).count() == 4)
    // update pk=3 in place (stays null): pk=4's row must SURVIVE — the
    // pre-fix filter missed the null partition entirely and the dynamic
    // overwrite then rewrote it with only the delta's row
    val delta = Seq((3L, "mystery-v2", None: Option[String])).toDF("pk", "name", "cat")
    merge(path, delta, Seq("pk"), "cat")
    val after = spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), Option(r.getString(2))))).toMap
    assert(after == Map(
      1L -> ("widget", Some("tools")), 2L -> ("gadget", Some("tools")),
      3L -> ("mystery-v2", None), 4L -> ("enigma", None)), s"got $after")
    // now move BOTH null-partition keys out: the
    // __HIVE_DEFAULT_PARTITION__ directory must disappear
    val delta2 = Seq((3L, "mystery-v3", Some("tools")), (4L, "enigma-v2", Some("tools")))
      .toDF("pk", "name", "cat")
    merge(path, delta2, Seq("pk"), "cat")
    val back = spark.read.parquet(path)
    assert(back.count() == 4)
    assert(back.filter($"cat".isNull).count() == 0, "stale null-partition rows survive")
    assert(!back.inputFiles.exists(_.contains("HIVE_DEFAULT_PARTITION")),
      "emptied null-partition directory survives")
    // timestamp partition: sole key of its partition moves → the dir
    // (writer-encoded "yyyy-MM-dd HH:mm:ss", no trailing ".0") must die
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val path2 = Files.createTempDirectory("mergets").toString + "/t"
    val ttable = Seq((1L, "a", t0), (2L, "b", t1)).toDF("pk", "name", "day")
    merge(path2, ttable, Seq("pk"), "day")
    val tdelta = Seq((1L, "a-v2", t1)).toDF("pk", "name", "day")
    merge(path2, tdelta, Seq("pk"), "day")
    val tafter = spark.read.parquet(path2)
    assert(tafter.count() == 2, "stale moved timestamp-partition row survives")
    assert(!tafter.inputFiles.exists(_.contains("2024-01-01")),
      "emptied timestamp-partition directory survives")
  }

  test("mergeInto: empty-string and null partition values are ONE class — no fresh-row delete") {
    val s = spark
    import s.implicits._
    // ADVICE r11 (low): getPartitionPathString maps BOTH '' and null to
    // __HIVE_DEFAULT_PARTITION__ (and read-back re-infers '' as null), so
    // they are one on-disk partition class. Pre-fix, a delta writing ''
    // while the host footprint said null kept the two values distinct:
    // kept={''} ≠ parts' null → the shared default dir was listed as
    // 'emptied' and fs.delete removed the rows the overwrite HAD JUST
    // WRITTEN into it.
    val path = Files.createTempDirectory("mergeempty").toString + "/t"
    val table = Seq((1L, "widget", Some("tools")), (2L, "mystery", None: Option[String]))
      .toDF("pk", "name", "cat")
    merge(path, table, Seq("pk"), "cat")
    // pk=2 updated with cat='' — same default-partition class as its
    // current null home
    val delta = Seq((2L, "mystery-v2", Some(""))).toDF("pk", "name", "cat")
    merge(path, delta, Seq("pk"), "cat")
    val after = spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), Option(r.getString(2))))).toMap
    // read-back re-infers the default dir as null
    assert(after == Map(1L -> ("widget", Some("tools")), 2L -> ("mystery-v2", None)),
      s"fresh default-partition row deleted: got $after")
    // and the symmetric direction: a '' delta row inserting NEW data next
    // to surviving null rows must not strand or delete either class
    val delta2 = Seq((3L, "enigma", Some(""))).toDF("pk", "name", "cat")
    merge(path, delta2, Seq("pk"), "cat")
    val back = spark.read.parquet(path)
    assert(back.count() == 3)
    assert(back.filter($"cat".isNull).count() == 2, "default-class rows lost")
  }

  test("idempotent batch sink: replaying a micro-batch does not duplicate rows") {
    val s = spark
    import s.implicits._
    val out = Files.createTempDirectory("fbsink").toString + "/t"
    val sink = TableWriter.idempotentBatchSink(out)
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val b1 = Seq((3L, "c")).toDF("k", "v")
    sink(b0, 0L)
    sink(b1, 1L)
    sink(b1, 1L) // at-least-once replay of the same batch id
    val back = spark.read.parquet(out)
    assert(back.count() == 3)
    assert(back.select("k").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("ORC round-trip: content survives and filters reach the ORC scan") {
    val out = Files.createTempDirectory("orcw").toString + "/li"
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey", "l_quantity")
    li.write.orc(out)
    val back = spark.read.orc(out).filter(col("l_partkey") === 7L)
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("EqualTo(l_partkey,7)"),
      s"filter not pushed to ORC:\n$scan")
    assert(back.count() == li.filter(col("l_partkey") === 7L).count())
    assert(spark.read.orc(out).count() == li.count())
  }

  test("IVF ANN: k results, all drawn from probed cells, ranked descending") {
    val rows = VectorOps.ivfAnn(spark, sfDir).collect()
    assert(rows.length == 5)
    val sims = rows.map(_.getAs[Double]("sim"))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    assert(rows.map(_.getAs[Int]("cell")).distinct.length <= 4) // nProbe cells
  }
}
