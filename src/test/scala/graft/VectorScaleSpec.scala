package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, VecCluster, VectorOps}

/** Scale-design assertions for the vector operators (VERDICT r2 items
  * 2–4): the exact near-dup join must carry no all-pairs operator in its
  * physical plan, banded LSH must reach recall 1.0 on planted near-dups
  * from a small candidate fraction, and k-means IVF must beat a trivial
  * quantizer's recall at the same probe budget.
  */
class VectorScaleSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {

  private val openCost = "spark.sql.files.openCostInBytes"

  /** Deterministic planted corpus: `nBase` seed vectors, each with one
    * near-dup at cosine ≥ 0.97 (tiny perturbation), plus isotropic noise
    * vectors. Returns a normed frame (vec_id, v, nrm, u) like
    * VectorOps.normed. */
  private def plantedCorpus(nBase: Int, nNoise: Int, dim: Int): DataFrame = {
    val rnd = new scala.util.Random(42)
    def randVec() = Array.fill(dim)(rnd.nextGaussian())
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val bases = Array.fill(nBase)(unit(randVec()))
    val dups = bases.map { b =>
      unit(b.zip(unit(randVec())).map { case (x, e) => x + 0.15 * e })
    }
    val noise = Array.fill(nNoise)(unit(randVec()))
    val all = (bases ++ dups ++ noise).zipWithIndex.map { case (v, i) =>
      (i.toLong, v.toSeq)
    }
    val s = spark
    import s.implicits._
    s.createDataFrame(all.toSeq).toDF("vec_id", "v")
      .withColumn("nrm", lit(1.0))
      .withColumn("u", col("v"))
  }

  test("exact near-dup: cell-pruned join ≡ all-pairs baseline, plan has no nested-loop") {
    val pruned = Dedup.embeddingNearDup(spark, sfDir)
    val baseline = Dedup.embeddingNearDupAllPairs(spark, sfDir)
    val got = pruned.collect().map(_.toString).toSet
    val want = baseline.collect().map(_.toString).toSet
    assert(got == want,
      s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "all-pairs join in plan")
    assert(!plan.contains("CartesianProduct"), "cartesian in plan")
  }

  test("collapse-first near-dup ≡ brute force on a clone-heavy corpus") {
    val s = spark
    import s.implicits._
    // planted corpus + exact clones of the first 6 vectors (×2 each): the
    // r6 collapse must dedup them before the cell-pair join and expand
    // the pairs back bit-identically to the uncollapsed definition
    val base = plantedCorpus(nBase = 8, nNoise = 40, dim = 16)
    // clone groups of 5: Σg² = 200 > 2n = 160 — the clone-mass gate must
    // pick the collapsed path on this fixture
    val clones = Seq(1000L, 2000L, 3000L, 4000L).map { off =>
      base.filter($"vec_id" < 6)
        .select(($"vec_id" + off).as("vec_id"), $"v", $"nrm", $"u")
    }.reduce(_ unionAll _)
    val e = base.unionAll(clones).cache()
    val tau = 0.9
    val got = Dedup.embeddingNearDupOn(e, tau, nCells = 4, iters = 2, "clone-fix")
      .collect().map(_.toString).toSet
    // brute force with the same arithmetic (sequential dot ≡ vec_dot,
    // BigDecimal HALF_UP ≡ Spark round)
    val rows = e.select($"vec_id", $"v").as[(Long, Seq[Double])].collect().sortBy(_._1)
    def r6(x: Double) = BigDecimal(java.math.BigDecimal.valueOf(x))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = (for {
      (ia, va) <- rows; (ib, vb) <- rows if ia < ib
      dot = { var acc = 0.0; var k = 0; while (k < va.length) { acc += va(k) * vb(k); k += 1 }; acc }
      sim = r6(dot) if sim >= tau
    } yield org.apache.spark.sql.Row(ia, ib, sim).toString).toSet
    assert(got == want, s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    // and every clone pair is present with sim exactly 1.0
    assert(got.exists(_.contains("1000,")), "clone pairs missing")
    e.unpersist()
  }

  test("LSH near-dup: recall 1.0 on planted >=0.95-cosine pairs from a small candidate fraction") {
    val nBase = 20
    val e = plantedCorpus(nBase, nNoise = 160, dim = 64).cache()
    val n = e.count()
    // planted pair (i, i+nBase) for each base i
    val planted = (0 until nBase).map(i => (i.toLong, (i + nBase).toLong)).toSet
    val found = Dedup.embeddingNearDupLshOn(e, tau = 0.9, bands = 16, bitsPerBand = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.subsetOf(found), s"missed planted pairs: ${planted -- found}")
    // the S-curve cut: candidates are a few % of the N*(N-1)/2 pair space
    val candidates = Dedup.lshPairCandidates(e, bands = 16, bitsPerBand = 8).count()
    val allPairs = n * (n - 1) / 2.0
    assert(candidates / allPairs <= 0.15,
      s"candidate fraction ${candidates / allPairs} not a cut")
    e.unpersist()
  }

  test("banded LSH ANN: recall monotone in probe radius, exact at full radius") {
    val brute = VectorOps.cosineTopK(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    def recall(radius: Int) = {
      val got = VectorOps.lshAnn(spark, sfDir, probeRadius = radius).collect()
        .map(_.getAs[Long]("vec_id")).toSet
      (brute & got).size / 5.0
    }
    // this corpus is near-uniform random (no planted neighbours), so
    // absolute recall at tight radius is data-limited; the guarantees are
    // monotone recall in probe radius and exactness at full radius
    val rs = Seq(0, 1, 2, 8).map(recall)
    assert(rs.zip(rs.tail).forall { case (a, b) => b >= a }, s"not monotone: $rs")
    assert(rs.last == 1.0, s"full-radius probe must equal brute force: $rs")
  }

  test("banded LSH ANN: multi-probe candidates are a strict subset of the corpus") {
    val n = Tables.embeddings(spark, sfDir).count() - 1
    val cands = VectorOps.lshCandidates(spark, sfDir, queryId = 0L,
      probeRadius = 1, bands = 16, bits = 8).count()
    assert(cands < n * 0.6, s"radius-1 candidates $cands of $n is not a cut")
    assert(cands >= 5, "too few candidates to rank top-5")
  }

  test("indexed LSH ANN: prebuilt bucketed sigs give identical results, scan prunes buckets") {
    // the bucketed scan shape (see lshAnnIndexed): with the flag on,
    // DisableUnnecessaryBucketedScan plans a plain file scan, which prunes
    // the same files but reports no SelectedBucketsCount
    val prior = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    val priorOpenCost = spark.conf.get(openCost)
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    // 500 vectors × 16 bands × 20 B = 160 kB of index; a 2 kB open cost
    // sizes it at 64 buckets, enough for the 144 probe keys to prune
    spark.conf.set(openCost, "2048")
    try {
    VectorOps.lshIndexBuild(spark, sfDir, "lsh_sigs")
    val indexed = VectorOps.lshAnnIndexed(spark, sfDir, "lsh_sigs")
    // the serving path must return byte-identical rows to the inline form
    val inline = VectorOps.lshAnn(spark, sfDir).collect().toSeq
    assert(indexed.collect().toSeq == inline)
    for (q <- Seq(3L, 17L, 42L)) assert(
      VectorOps.lshAnnIndexed(spark, sfDir, "lsh_sigs", q).collect().toSeq ==
        VectorOps.lshAnn(spark, sfDir, q).collect().toSeq, s"query $q")
    assert(VectorOps.lshAnnIndexed(spark, sfDir, "lsh_sigs", -1L).collect().isEmpty)
    // and the per-query scan must touch only the probed buckets — the
    // whole point of persisting the query-independent signatures
    val plan = indexed.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: \\d+ out of (\\d+)".r
      .findFirstMatchIn(plan)
    assert(sel.isDefined, s"no bucket pruning in:\n$plan")
    val pruned = sel.get.group(0).split(" ")(1).toInt
    assert(pruned < sel.get.group(1).toInt, s"scan read every bucket: ${sel.get.group(0)}")
    // one file per bucket: the index holds 64 files, and the pruned scan
    // opens one per selected bucket (Spark's numFiles metric counts the
    // listing before bucket pruning, so the scan's partitions are counted)
    val scan = collect(indexed.queryExecution.executedPlan) {
      case f: FileSourceScanExec if f.tableIdentifier.exists(_.table == "lsh_sigs") => f
    }.head
    assert(scan.metrics("numFiles").value == sel.get.group(1).toLong)
    val filesRead = scan.inputRDDs().head.partitions
      .map(_.asInstanceOf[FilePartition].files.length).sum
    assert(filesRead == pruned, s"$filesRead files read for $pruned selected buckets")
    } finally {
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prior)
      spark.conf.set(openCost, priorOpenCost)
    }
  }

  test("LSH index bucket count: a power of two per open cost of index bytes, at most one per sig_key") {
    val fourMb = 4L << 20
    def count(rows: Long) = VectorOps.lshBucketCount(rows, bands = 16, bits = 8,
      rowBytes = 20L, openCost = fourMb)
    val corpus = Tables.embeddings(spark, sfDir).count()
    assert(count(corpus) == 1, s"sf0.001's $corpus vectors got ${count(corpus)} buckets")
    val sizes = Seq(0L, 1L, corpus, 26214L, 26215L, 100000L, 1000000L, 10000000L, 1L << 40)
    val counts = sizes.map(count)
    assert(counts.forall(n => n > 0 && Integer.bitCount(n) == 1), s"not powers of two: $counts")
    assert(counts.zip(counts.tail).forall { case (a, b) => a <= b }, s"not monotone: $counts")
    // 26,215 vectors (× 16 rows × 20 B) are the first index of two open costs
    assert(count(26214L) == 1 && count(26215L) == 2)
    assert(count(1000000L) == 64 && count(1000000L) < count(10000000L))
    assert(count(1L << 40) == 16 * 256, "more buckets than distinct sig_key values")
    assert(VectorOps.lshBucketCount(1L << 40, bands = 3, bits = 2, 20L, fourMb) == 8)
  }

  test("indexed LSH ANN on a default-built small index: one file, one scan task, at most 3 jobs") {
    val prior = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      VectorOps.lshIndexBuild(spark, sfDir, "lsh_sigs_default")
      assert(spark.table("lsh_sigs_default").inputFiles.length == 1)
      val q = VectorOps.lshAnnIndexed(spark, sfDir, "lsh_sigs_default", 3L)
      val scan = collect(q.queryExecution.executedPlan) {
        case f: FileSourceScanExec if f.tableIdentifier.exists(_.table == "lsh_sigs_default") => f
      }.head
      assert(scan.inputRDDs().head.partitions.length == 1, "the candidate scan is not one task")
      for (id <- Seq(0L, 3L, 17L, 42L)) assert(
        VectorOps.lshAnnIndexed(spark, sfDir, "lsh_sigs_default", id).collect().toSeq ==
          VectorOps.lshAnn(spark, sfDir, id).collect().toSeq, s"query $id")
      val jobs = jobsOf(VectorOps.lshAnnIndexed(spark, sfDir, "lsh_sigs_default", 17L).collect())
      assert(jobs <= 3, s"an indexed ANN call ran $jobs jobs")
    } finally spark.conf
      .set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prior)
  }

  test("hyperplanes: the byte derivation equals the md5 hex-string derivation") {
    def fromHex(nPlanes: Int, dim: Int): Seq[Seq[Double]] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      Seq.tabulate(nPlanes, dim) { (p, i) =>
        val hex = md.digest(s"$p:$i".getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
        (java.lang.Long.parseLong(hex.take(15), 16) % 2001L) / 1000.0 - 1.0
      }
    }
    for (dim <- Seq(64, 8))
      assert(VectorOps.hyperplanes(128, dim).map(_.toSeq).toSeq == fromHex(128, dim), s"dim $dim")
  }

  test("IVF ANN: k-means cells + nProbe probing recall beats probing budget share") {
    val brute = VectorOps.cosineTopK(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val ivf = VectorOps.ivfAnn(spark, sfDir, nCells = 16, nProbe = 4).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val recall = (brute & ivf).size / 5.0
    // probing 4/16 cells scans ~25% of the corpus; a quantizer that carried
    // no signal would land recall ≈ budget share. This corpus is isotropic
    // (nearest neighbours sit at cosine 0.3–0.45, barely above random), so
    // the measurable bar here is "above budget share"; the clustered-data
    // regime where IVF actually shines is the planted-fixture test below.
    assert(recall > 0.25, s"IVF recall $recall no better than probe budget share")
  }

  test("IVF ANN on clustered data: planted near-dup recovered from nProbe=2 of 16 cells") {
    val e = plantedCorpus(nBase = 20, nNoise = 160, dim = 64).cache()
    // query vector 0 is a base; vector 20 is its planted ≥0.97-cosine dup —
    // k-means must co-locate them (or place the dup in the next-nearest
    // cell), so a 2-cell probe of 16 finds it at rank 1
    val top = VectorOps.ivfAnnOn(e, queryId = 0L, k = 5, nCells = 16,
      nProbe = 2, iters = 5).collect()
    assert(top.head.getAs[Long]("vec_id") == 20L,
      s"planted dup not top-1: ${top.map(_.getAs[Long]("vec_id")).toSeq}")
    e.unpersist()
  }

  test("int8 quantization: top-k on quantized codes matches the exact ranking") {
    val exact = VectorOps.cosineTopK(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val quant = VectorOps.int8TopK(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    // int8 symmetric quantization keeps ~0.3% relative error per
    // component; top-5 may swap at most one borderline neighbour
    assert((exact & quant).size >= 4, s"int8 recall too low: $quant vs $exact")
  }

  test("vec kernels equal their HOF formulations bit-for-bit") {
    val s = spark
    import s.implicits._
    import graft.functions.GraftFunctions.{vecScale, vecToDouble}
    val e = Tables.embeddings(s, sfDir)
      .select($"vec_id", $"embedding",
        expr("transform(embedding, x -> cast(x AS double))").as("hof_v"))
      .withColumn("hof_nrm", sqrt(expr(
        "aggregate(zip_with(hof_v, hof_v, (a, b) -> a * b), 0.0D, (acc, x) -> acc + x)")))
      .withColumn("hof_u", expr("transform(hof_v, x -> x / hof_nrm)"))
      .withColumn("k_v", vecToDouble($"embedding"))
      .withColumn("k_u", vecScale($"k_v", $"hof_nrm"))
    assert(e.filter($"hof_v" =!= $"k_v" || $"hof_u" =!= $"k_u").count() == 0)
  }

  test("int8 quant kernels are bit-identical to the HOF formulation") {
    val s = spark
    import s.implicits._
    // the r6 codegen kernels must reproduce the interpreted HOF pipeline
    // they replaced exactly — same BigDecimal HALF_UP rounding per element
    val hof = Tables.embeddings(s, sfDir)
      .select($"vec_id", expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("mx", array_max(expr("transform(v, x -> abs(x))")))
      .withColumn("q", expr("transform(v, x -> cast(round(x * 127.0 / mx) AS int))"))
      .select($"vec_id", round($"mx", 6).as("scale"),
        expr("cast(aggregate(q, 0L, (a, x) -> a + abs(x)) AS bigint)").as("q_l1"),
        expr("cast(aggregate(q, 0L, (a, x) -> a + cast(x AS bigint) * x) AS bigint)").as("q_self_dot"))
    val kernel = VectorOps.quantizeInt8(s, sfDir)
    assert(kernel.count() == hof.count())
    assert(kernel.exceptAll(hof).count() == 0 && hof.exceptAll(kernel).count() == 0)
  }

  test("k-means: cells partition the corpus and tighten the quantizer") {
    val s = spark
    import s.implicits._
    val e = VectorOps.normed(s, sfDir).select($"vec_id", $"u").cache()
    val n = e.count()
    val k1 = VecCluster.kmeans(e, k = 16, iters = 1)
    val k5 = VecCluster.kmeans(e, k = 16, iters = 5)
    def cost(cents: Array[Array[Double]]): Double =
      e.select(VecCluster.cellSimOf($"u", cents).as("cs"))
        .agg(sum($"cs")).collect()(0).getDouble(0) / n
    // mean cosine-to-assigned-centroid must improve with Lloyd iterations
    // (monotone non-decreasing objective is Lloyd's invariant)
    val (c1, c5) = (cost(k1), cost(k5))
    assert(c5 >= c1 - 1e-9, s"Lloyd objective decreased: $c1 -> $c5")
    val cells = e.select(VecCluster.cellOf($"u", k5).as("cell"))
      .groupBy("cell").count().collect()
    assert(cells.map(_.getLong(1)).sum == n)
    assert(cells.length > 1, "k-means collapsed to one cell")
    e.unpersist()
  }

  test("semdedup: planted clone groups collapse to one keeper, uniques survive") {
    val s = spark
    import s.implicits._
    // exact clones always share a cell (identical u ⇒ identical argmax),
    // so cluster scoping can never split them — the guaranteed case
    val base = plantedCorpus(nBase = 6, nNoise = 30, dim = 16)
    val clones = Seq(1000L, 2000L).map { off =>
      base.filter($"vec_id" < 4)
        .select(($"vec_id" + off).as("vec_id"), $"v", $"nrm", $"u")
    }.reduce(_ unionAll _)
    val e = base.unionAll(clones).cache()
    val out = Dedup.semDedupOn(e, tau = 0.999, nCells = 4, iters = 2, "semdedup-fix")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    assert(out.length == e.count()) // every vector classified exactly once
    // each planted clone triple {i, i+1000, i+2000} forms one group with
    // exactly one keeper
    (0L until 4L).foreach { i =>
      val grp = out.filter(r => Set(i, i + 1000L, i + 2000L)(r._1))
      assert(grp.map(_._3).distinct.length == 1, s"clone group $i split: $grp")
      assert(grp.count(_._4) == 1, s"clone group $i keeper count: $grp")
      assert(grp.map(_._2).distinct.length == 1, s"clone group $i spans cells")
    }
    // vectors in singleton groups are always kept
    out.groupBy(_._3).values.filter(_.length == 1)
      .foreach(g => assert(g.head._4, s"singleton dropped: ${g.head}"))
    // keeper = the group member with the LOWEST centroid cosine (ties by
    // id): verify against a recomputed assignment
    val cents = VecCluster.kmeans(e.select($"vec_id", $"u"), 4, 2)
    val csim = e.select($"vec_id", VecCluster.cellSimOf($"u", cents).as("cs"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    out.groupBy(_._3).values.filter(_.length > 1).foreach { g =>
      val keeper = g.find(_._4).get
      val want = g.map(r => (csim(r._1), r._1)).min
      assert((csim(keeper._1), keeper._1) == want, s"wrong keeper in $g")
    }
    e.unpersist()
    Caches.clearAll()
  }

  test("semdedup collapse-first: adding exact clones never disturbs the rep-level structure") {
    val s = spark
    import s.implicits._
    // reps of (base + clones) are exactly the base frame (clones carry
    // higher ids), so the collapse-first run's internal k-means sees the
    // same frame as a flat run on base: the base rows' (cell, group,
    // kept) must be BIT-IDENTICAL, and each clone must inherit its rep's
    // cell/group with kept=false
    val base = plantedCorpus(nBase = 6, nNoise = 30, dim = 16)
    val clones = Seq(1000L, 2000L).map { off =>
      base.filter($"vec_id" < 4)
        .select(($"vec_id" + off).as("vec_id"), $"v", $"nrm", $"u")
    }.reduce(_ unionAll _)
    val flat = Dedup.semDedupOn(base, tau = 0.999, nCells = 4, iters = 2,
        "semdedup-inv-flat")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    val both = Dedup.semDedupOn(base.unionAll(clones), tau = 0.999,
        nCells = 4, iters = 2, "semdedup-inv-col")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    val flatBy = flat.map(r => r._1 -> r).toMap
    val bothBy = both.map(r => r._1 -> r).toMap
    // cell IDS are not compared: Lloyd's per-dim sums reduce in partition
    // order, and the reps frame is partitioned differently from base, so
    // centroids can come out bit-shifted/relabeled (documented VecCluster
    // caveat). The SEMANTIC output — grouping and keeper choice — must
    // be undisturbed on this well-separated fixture.
    both.filter(_._1 < 1000L).foreach { case (id, _, grp, kept) =>
      val f = flatBy(id)
      assert(grp == f._3 && kept == f._4,
        s"collapse-first disturbed rep $id: got ($grp,$kept), flat $f")
    }
    both.filter(_._1 >= 1000L).foreach { case (id, cell, grp, kept) =>
      val rep = bothBy(id % 1000L)
      assert(cell == rep._2 && grp == rep._3,
        s"clone $id not co-located with its rep: got ($cell,$grp), rep $rep")
      assert(!kept, s"clone $id kept over its rep")
    }
    Caches.clearAll()
  }

  /** Each row's value as raw bits (None for null), under both the
    * generated and the interpreted expression paths. */
  private def rawBits(df: DataFrame): Seq[Seq[Option[Long]]] = {
    val modes = Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")
    modes.map { case (factory, wholeStage) =>
      val prior = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
        .map(k => k -> spark.conf.getOption(k))
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try df.collect().toSeq.flatMap(r => (0 until r.length).map(i =>
        Option(r.get(i)).map(x => java.lang.Double.doubleToRawLongBits(
          x.asInstanceOf[Double]))))
      finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }

  test("cellSimOf: the generated loop equals the unrolled array_max form bit for bit") {
    val s = spark
    import s.implicits._
    import graft.functions.GraftFunctions.vecDot
    def unrolled(u: org.apache.spark.sql.Column, cents: Array[Array[Double]]) =
      array_max(array(cents.zipWithIndex.map { case (c, i) =>
        struct(vecDot(u, typedLit(c.toSeq)).as("csim"), lit(i).as("cell"))
      }: _*)).getField("csim")
    val nan = Double.NaN
    // rows tie across cells, carry -0.0 and NaN components, or are null
    val us = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-0.0, -0.0), Seq(0.5, 0.5),
      Seq(-1.0, -0.0), Seq(nan, 0.0), Seq(0.0, nan), Seq(1e-300, -1e-300))
      .map(Option(_)) :+ None
    val df = us.toDF("u").repartition(2)
    val books = Seq(
      Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0)), // a duplicate row
      Array(Array(-0.0, 0.0), Array(0.0, -0.0)),                 // every dot is 0
      Array(Array(1.0, 1.0), Array(nan, 0.0), Array(-1.0, 2.0)), // a NaN row
      Array(Array(0.6, 0.8)))
    books.foreach { cents =>
      val got = rawBits(df.select(VecCluster.cellSimOf($"u", cents)))
      assert(got == rawBits(df.select(unrolled($"u", cents))),
        s"cents ${cents.map(_.mkString("(", ",", ")")).mkString}")
    }
  }

  test("adcScore: the generated loop equals the reduced element_at form bit for bit") {
    val s = spark
    import s.implicits._
    import graft.operators.VecPQ
    def reduced(codes: org.apache.spark.sql.Column, table: Array[Array[Double]]) =
      table.zipWithIndex.map { case (row, j) =>
        element_at(typedLit(row.toSeq), codes.getItem(j) + 1)
      }.reduce(_ + _)
    // terms whose sum depends on association, all -0.0 terms (a sum
    // started at 0.0 would give 0.0) and NaN. Codes are never null (PQ
    // codes of a unit vector); for null codes the loop returns null, where
    // the reduced form's element_at claims a non-null result and yields
    // 0.0 or NaN depending on the plan
    val table = Array(Array(1e16, -0.0, 3.0), Array(1.0, -0.0, Double.NaN),
      Array(-1e16, -0.0, 0.1), Array(0.2, -0.0, 0.3))
    val codes = Seq(Seq(0, 0, 0, 0), Seq(1, 1, 1, 1), Seq(2, 0, 2, 2),
      Seq(0, 2, 1, 0), Seq(2, 1, 2, 1))
    val df = codes.toDF("codes").repartition(2)
    for (t <- Seq(table, table.take(1))) assert(
      rawBits(df.select(VecPQ.adcScore($"codes", t))) ==
        rawBits(df.select(reduced($"codes", t))), s"m = ${t.length}")
  }

  test("cell assignments are cached per (nCells, iters): a second call sees its own cells") {
    def run(nCells: Int) = (
      Dedup.embeddingNearDup(spark, sfDir, nCells = nCells).collect().toSeq,
      Dedup.semDedup(spark, sfDir, nCells = nCells).collect().toSeq)
    Caches.clearAll(spark)
    val fresh = Seq(8, 16).map { n => try run(n) finally Caches.clearAll(spark) }
    try assert(Seq(8, 16).map(run) == fresh)
    finally Caches.clearAll(spark)
  }
}
