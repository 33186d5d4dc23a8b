package perfbench

import java.io.File
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Caches, Sentinels, SparkEntry}
import graft.operators.{Relational, VectorOps}
import graft.sinks.TableWriter

/** JVM half of the benchmark: runs one workload plan against graft's
  * public functions in a single local Spark session and writes every
  * timestamp, result and counter to a JSON file. The Python half
  * (`perfbench/run.py`) generates the plan, checks the results and turns
  * the raw record into metrics.
  *
  * usage: Runner <plan.json> <result.json>
  *
  * Timestamps per op: t0 before the public call, t1 when it returns
  * (op.build), t2 when the action ends (op.exec). Nothing the harness does
  * for itself (result conversion, storage sampling, file listing, cache
  * clearing) falls between t0 and t2. */
object Runner {
  private val mapper = new ObjectMapper()
  private var t00 = 0L

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val out = mapper.createObjectNode()
    val tmp = plan.get("tmp_dir").asText
    val cores = plan.get("cores").asInt
    val traced = plan.get("trace").asBoolean
    val seconds = plan.get("seconds").asDouble
    val work: Workload = plan.get("workload").asText match {
      case "agent_requests" => new Agent(plan)
      case "batch_analytics" => new Batch(plan)
    }
    t00 = System.nanoTime()

    // Set-up (a fresh session and the workload's build step) is repeated
    // and each repetition timed: the first also pays JVM class loading and
    // JIT, the others show the set-up's own cost.
    var spark: SparkSession = null
    val setupS = out.putArray("setup_s")
    for (_ <- 0 until plan.get("setup_reps").asInt) {
      if (spark != null) {
        Caches.clearAll(spark)
        spark.stop()
        Caches.reset() // the registry's frames died with the old session
      }
      deleteRecursively(new File(s"$tmp/warehouse"))
      val t = System.nanoTime()
      spark = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
        .config("spark.local.dir", s"$tmp/spark-local")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      work.setup(spark)
      setupS.add((System.nanoTime() - t) / 1e9)
    }
    val tw = System.nanoTime()
    work.warmup(spark)
    out.put("warmup_s", (System.nanoTime() - tw) / 1e9)
    work.prepare(spark)

    Sentinels.cpu(spark) // compiles the sentinel query outside its stamp
    val mem = new Sentinels.Mem(plan.get("mem_sentinel_mib").asInt, cores)
    mem.run()
    val sentinels = out.putObject("sentinels")
    sentinels.put("cpu_pre", Sentinels.cpu(spark))
    sentinels.put("mem_pre", mem.run())

    val ops = plan.get("ops").elements().asScala.toVector
    val records = out.putArray("ops")
    // Traced runs measure an untraced phase too, for the tracing overhead.
    // The traced batch pass is the cold one, like an untraced run's; the
    // overhead comes from two warm passes, one untraced and one traced.
    val phases: Seq[(String, Boolean)] =
      if (!traced) Seq("measure" -> false)
      else if (work.onePass) Seq("traced" -> true, "untraced" -> false, "retraced" -> true)
      else Seq("untraced" -> false, "traced" -> true)
    val phaseSeconds = seconds / (if (traced && !work.onePass) 2 else 1)
    var next = 0
    for ((phase, withTrace) <- phases) {
      val tracer = if (withTrace) Some(new Tracer) else None
      tracer.foreach { t =>
        spark.sparkContext.addSparkListener(t)
        spark.listenerManager.register(t)
      }
      if (work.onePass) next = 0
      val phaseStart = now()
      val phaseRecs = Vector.newBuilder[(Int, ObjectNode)]
      var stop = false
      while (!stop && next < ops.size) {
        val op = ops(next)
        val rec = records.addObject()
        rec.put("i", next).put("phase", phase).put("op", op.get("op").asText)
          .put("cycle", op.get("cycle").asInt)
        phaseRecs += next -> rec
        stop = !runOp(spark, work, op, next, rec, tracer.isDefined)
        next += 1
        val cycleEnds = next == ops.size || ops(next).get("cycle").asInt != op.get("cycle").asInt
        if (cycleEnds && !work.onePass && (now() - phaseStart) / 1e9 >= phaseSeconds) stop = true
      }
      tracer.foreach { t =>
        t.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(t)
        spark.listenerManager.unregister(t)
        phaseRecs.result().foreach { case (i, rec) =>
          rec.set[JsonNode]("trace", statsJson(t, i, rec.get("w0").asLong, rec.get("w1").asLong))
        }
      }
    }

    sentinels.put("cpu_post", Sentinels.cpu(spark))
    sentinels.put("mem_post", mem.run())
    work.finish(spark, out)
    spark.stop()
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(args(1)), out)
  }

  /** Runs one op and fills its record; false when the session is gone. */
  private def runOp(spark: SparkSession, work: Workload, op: JsonNode, i: Int,
      rec: ObjectNode, traced: Boolean): Boolean = {
    val sc = spark.sparkContext
    val codegen0 = if (traced) codegenMs() else 0.0
    if (traced) sc.setLocalProperty(Tracer.OpKey, i.toString)
    rec.put("w0", System.currentTimeMillis())
    val t0 = now()
    var t1 = t0
    val result =
      try {
        val exec = work.build(spark, op)
        t1 = now()
        Right(exec())
      } catch { case e: Throwable => Left(e) }
    val t2 = now()
    rec.put("w1", System.currentTimeMillis())
    if (traced) {
      sc.setLocalProperty(Tracer.OpKey, null)
      rec.put("codegen_ms", codegenMs() - codegen0)
    }
    rec.put("t0", t0).put("t1", t1).put("t2", t2)
    result match {
      case Right(r) =>
        rec.put("ok", true)
        try work.record(r, rec, traced)
        catch { case e: Throwable => rec.put("ok", false).put("error", firstLine(e)) }
      case Left(e) => rec.put("ok", false).put("error", firstLine(e))
    }
    rec.put("storage_mb", sc.getRDDStorageInfo.map(_.memSize).sum / 1e6)
    work.afterOp(spark)
    !sc.isStopped
  }

  private def statsJson(t: Tracer, i: Int, w0: Long, w1: Long): ObjectNode = {
    val s = t.stats(i)
    val o = mapper.createObjectNode()
    o.put("jobs", s.jobs).put("stages", s.stages).put("tasks", s.tasks)
      .put("failed_tasks", s.failedTasks).put("task_ms", s.taskMs)
      .put("cpu_ns", s.cpuNs).put("gc_ms", s.gcMs)
      .put("shuffle_read_bytes", s.shuffleReadBytes)
      .put("shuffle_write_bytes", s.shuffleWriteBytes)
      .put("spill_bytes", s.spillBytes).put("input_bytes", s.inputBytes)
      .put("input_records", s.inputRecords).put("output_bytes", s.outputBytes)
      .put("output_records", s.outputRecords).put("plan_ms", t.planMs(w0, w1))
    val spans = o.putArray("stage_spans")
    s.stageSpans.foreach { case (a, b) => spans.addArray().add(a).add(b) }
    o
  }

  /** Sum of the janino compile times Spark has recorded. The histogram's
    * reservoir keeps every sample until it holds 1028 of them; past that
    * the sum is extrapolated from the sample mean. */
  private def codegenMs(): Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    if (h.getCount <= snap.size) snap.getValues.sum.toDouble else snap.getMean * h.getCount
  }

  private def now(): Long = System.nanoTime() - t00

  private def firstLine(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"

  private[perfbench] def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Rows as JSON arrays of column values, timestamps as epoch micros. */
  private[perfbench] def rowsJson(rows: Array[Row]): ArrayNode = {
    val arr = mapper.createArrayNode()
    rows.foreach { r =>
      val a = arr.addArray()
      r.toSeq.foreach {
        case null => a.addNull()
        case v: Long => a.add(v)
        case v: Int => a.add(v)
        case v: Double => a.add(v)
        case v: java.time.LocalDateTime =>
          a.add(v.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + v.getNano / 1000)
        case v => a.add(v.toString)
      }
    }
    arr
  }

  /** One agent call through graft's public functions: the request path
    * the reference sales agent serves. `dir` holds `part.parquet` and the
    * other tables. */
  private[perfbench] def agentCall(spark: SparkSession, dir: String, op: JsonNode,
      annTable: String): DataFrame = {
    def strs(n: JsonNode) = n.elements().asScala.map(_.asText).toSeq
    op.get("op").asText match {
      case "search" => Relational.productSearch(spark, dir, strs(op.get("terms")))
      case "fuzzy" => Relational.fuzzySearch(spark, dir, strs(op.get("terms")))
      case "stock" => Relational.checkStock(spark, dir, op.get("query").asText)
      case "sku" => Relational.productBySku(spark, dir, op.get("key").asLong)
      case "orders" => Relational.userOrders(spark, dir, op.get("key").asLong)
      case "cancel" => Relational.cancelEligible(spark, dir, op.get("key").asLong)
      case "topk" => VectorOps.cosineTopK(spark, dir, op.get("query").asLong, op.get("k").asInt)
      case "ann" => VectorOps.lshAnnIndexed(spark, dir, annTable, op.get("query").asLong)
    }
  }

  private[perfbench] def calls(plan: JsonNode, key: String): Iterator[JsonNode] =
    plan.get(key).elements().asScala
}

/** One workload's session set-up and op semantics. */
trait Workload {
  /** Every op of the plan once per phase, instead of cycles until the
    * phase's time is up. */
  def onePass: Boolean = false
  /** Timed set-up in a fresh session: the index or table build. */
  def setup(spark: SparkSession): Unit
  /** Calls once in the final session so that no measured op is the first
    * of its kind in the JVM. */
  def warmup(spark: SparkSession): Unit
  /** Untimed harness preparation after the warm-up. */
  def prepare(spark: SparkSession): Unit = ()
  /** op.build: the public call. Returns op.exec, the action. */
  def build(spark: SparkSession, op: JsonNode): () => AnyRef
  /** Untimed: stores the action's result in the op's record. */
  def record(result: AnyRef, rec: ObjectNode, traced: Boolean): Unit
  /** Untimed clean-up after each op's storage sample. */
  def afterOp(spark: SparkSession): Unit = ()
  /** Untimed end-of-run readings. */
  def finish(spark: SparkSession, out: ObjectNode): Unit = ()
}

/** `agent_requests`: the agent's point calls in one warm serving session,
  * plus the catalog re-ingest beside them: once per cycle a keyed merge
  * into a brand-partitioned working copy of `part`, then reads of the
  * merged table (ops marked `"table": "catalog"`). */
final class Agent(plan: JsonNode) extends Workload {
  private val dir = plan.get("data_dir").asText
  private val annTable = "perfbench_lsh"
  private val catalog = new Catalog(plan)

  def setup(spark: SparkSession): Unit = {
    // Serving config documented on VectorOps.lshAnnIndexed: without it the
    // bucketed index is read as a plain scan.
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    VectorOps.lshIndexBuild(spark, dir, annTable)
    catalog.write(spark)
  }

  /** Runs the calls concurrently: each kind only has to be compiled and
    * JIT-warmed once, and the warm-up's time is no metric. */
  def warmup(spark: SparkSession): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val calls = Runner.calls(plan, "warmup").toSeq
      .map(op => Future(Runner.agentCall(spark, dir, op, annTable).collect()))
    Await.result(Future.sequence(calls :+ Future(catalog.warmup(spark))),
      scala.concurrent.duration.Duration.Inf)
  }

  override def prepare(spark: SparkSession): Unit = catalog.prepare(spark)

  def build(spark: SparkSession, op: JsonNode): () => AnyRef =
    if (op.get("op").asText == "merge") catalog.merge(spark, op)
    else {
      val onCatalog = Option(op.get("table")).exists(_.asText == "catalog")
      val df = Runner.agentCall(spark, if (onCatalog) catalog.dir else dir, op, annTable)
      () => df.collect()
    }

  def record(result: AnyRef, rec: ObjectNode, traced: Boolean): Unit = result match {
    case rows: Array[Row] @unchecked => rec.set[JsonNode]("rows", Runner.rowsJson(rows))
    case _ => catalog.recordMerge(rec, traced)
  }

  override def finish(spark: SparkSession, out: ObjectNode): Unit = catalog.finish(spark, out)
}

/** The working copy of `part` that the catalog re-ingest merges into. */
final class Catalog(plan: JsonNode) {
  val dir = s"${plan.get("tmp_dir").asText}/catalog"
  private val table = s"$dir/part.parquet"
  private var deltas = Map.empty[Int, (StructType, java.util.List[Row])]
  private var files = Map.empty[String, Set[(String, Long)]]

  def write(spark: SparkSession): Unit = {
    Runner.deleteRecursively(new File(dir))
    TableWriter.writePartitioned(
      spark.read.parquet(s"${plan.get("data_dir").asText}/part.parquet"), table,
      Seq("p_brand"), Seq("p_partkey"))
  }

  /** An unchanged re-merge of a few rows: warms the merge path and leaves
    * the table's content as written. */
  def warmup(spark: SparkSession): Unit = {
    val same = spark.read.parquet(table).orderBy("p_partkey").limit(5)
    TableWriter.mergeInto(spark, table,
      spark.createDataFrame(same.collect().toSeq.asJava, same.schema), Seq("p_partkey"), "p_brand")
  }

  /** Holds every delta on the driver, so a merge's input is a local
    * relation and not a file read. */
  def prepare(spark: SparkSession): Unit = {
    val d = spark.read.parquet(plan.get("deltas_file").asText)
    val schema = StructType(d.schema.fields.filterNot(_.name == "delta_id"))
    deltas = d.collect().groupBy(_.getAs[Int]("delta_id")).map { case (id, rows) =>
      id -> (schema, rows.toSeq.map(r => Row.fromSeq(schema.fieldNames.toSeq.map(r.getAs[Any]))).asJava)
    }
    files = listFiles()
  }

  def merge(spark: SparkSession, op: JsonNode): () => AnyRef = {
    val (schema, rows) = deltas(op.get("delta").asInt)
    val delta = spark.createDataFrame(rows, schema)
    () => { TableWriter.mergeInto(spark, table, delta, Seq("p_partkey"), "p_brand"); None }
  }

  /** The table's file layout after a merge, in traced runs. */
  def recordMerge(rec: ObjectNode, traced: Boolean): Unit = if (traced) {
    val after = listFiles()
    val parts = (files.keySet ++ after.keySet).count(p => files.get(p) != after.get(p))
    files = after
    rec.put("partitions_rewritten", parts)
      .put("files_in_table", after.values.map(_.size).sum)
      .put("table_bytes", after.values.flatten.map(_._2).sum)
  }

  /** Data files of the table by partition directory. */
  private def listFiles(): Map[String, Set[(String, Long)]] =
    Option(new File(table).listFiles).toSeq.flatten.filter(_.isDirectory).map { d =>
      d.getName -> Option(d.listFiles).toSeq.flatten
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length)).toSet
    }.toMap

  def finish(spark: SparkSession, out: ObjectNode): Unit = {
    val r = spark.read.parquet(table).agg(count(lit(1)), countDistinct(col("p_partkey")),
      sum(round(col("p_retailprice") * 10).cast("long"))).head()
    out.putObject("final_table").put("rows", r.getLong(0)).put("keys", r.getLong(1))
      .put("price_tenths", r.getLong(2))
  }
}

/** `batch_analytics`: one pass over contract entries in a fresh session,
  * each materialized to the noop sink with an observed digest of its
  * output rows, and the session's caches cleared after it. */
final class Batch(plan: JsonNode) extends Workload {
  private val dir = plan.get("data_dir").asText
  override def onePass: Boolean = true

  /** Loads the input tables' footers and metadata; the deck itself runs
    * as a nightly job does, in a session that has not run it before. */
  def setup(spark: SparkSession): Unit =
    Runner.calls(plan, "tables").foreach(t => spark.read.parquet(s"$dir/${t.asText}.parquet").count())

  def warmup(spark: SparkSession): Unit = ()

  def build(spark: SparkSession, op: JsonNode): () => AnyRef = {
    val df = SparkEntry.queries(op.get("entry").asText)(spark, dir)
    val obs = Observation()
    val exprs = digestExprs(df.schema)
    val observed = df.observe(obs, exprs.head, exprs.tail: _*)
    () => { observed.write.format("noop").mode("overwrite").save(); obs }
  }

  /** Order-independent digest (row count plus the exact sum of per-row
    * xxhash64 values) and the range of every numeric column. Map columns,
    * which Spark does not hash, stay out of the digest. */
  private def digestExprs(schema: StructType) = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val hashed = schema.fields.filterNot(f => hasMap(f.dataType)).map(f => col(f.name))
    val numeric = schema.fields.filter(_.dataType.isInstanceOf[NumericType])
    Seq(count(lit(1)).as("rows"),
      sum(xxhash64(hashed.toIndexedSeq: _*).cast(DecimalType(38, 0))).as("digest")) ++
      numeric.flatMap(f => Seq(min(col(f.name)).cast("double").as(s"min:${f.name}"),
        max(col(f.name)).cast("double").as(s"max:${f.name}")))
  }

  def record(result: AnyRef, rec: ObjectNode, traced: Boolean): Unit = {
    val o = rec.putObject("observed")
    result.asInstanceOf[Observation].get.foreach {
      case (k, null) => o.putNull(k)
      case (k, v: java.math.BigDecimal) => o.put(k, v.toPlainString)
      case (k, v: Long) => o.put(k, v)
      case (k, v: Double) => o.put(k, v)
      case (k, v) => o.put(k, v.toString)
    }
  }

  override def afterOp(spark: SparkSession): Unit = Caches.clearAll(spark)
}
