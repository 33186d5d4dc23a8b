package graft

import org.apache.spark.sql.functions._
import graft.operators.TextOps

/** r14 wave: the decontamination REWRITE (D6e) — the corpus-editing step
  * composing D6d's span forensics with d_line_dedup's positional
  * reassembly. The contract under test: clean docs byte-identical,
  * planted contamination excised completely (the w+k-1 tiling argument),
  * and the audit finds nothing after the scrub. */
class Wave14Spec extends SparkSpecBase {

  private def rewrite(train: Seq[(Long, String)], bench: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    TextOps.decontaminateRewriteOn(
      train.toDF("doc_id", "text"), bench.toDF("doc_id", "text"), 3, 4, 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
  }

  test("decontaminate_rewrite: clean docs pass through byte-identical") {
    val cleanA = "the quick brown fox jumps over the lazy dog today"
    val cleanB = "completely unrelated prose about sailing ships across the ocean"
    val out = rewrite(
      Seq(1L -> cleanA, 2L -> cleanB),
      Seq(100L -> "benchmark question text with seven whole words inside"))
    assert(out(1L) == ((10L, 0L, 0L, cleanA)))
    assert(out(2L) == ((9L, 0L, 0L, cleanB)))
  }

  test("decontaminate_rewrite: a planted bench sentence is excised, flanks survive") {
    // 20 distinct marker words — longer than any single fingerprint
    // cover, so completeness exercises the tiling argument, not one
    // lucky selection
    val markers = (1 to 20).map(i => f"contam$i%02d")
    val benchDoc = markers.mkString(" ")
    val pre = (1 to 8).map(i => s"pre$i")
    val post = (1 to 8).map(i => s"post$i")
    val planted = (pre ++ markers ++ post).mkString(" ")
    val out = rewrite(
      Seq(1L -> planted, 2L -> "totally clean control document with many plain words"),
      Seq(100L -> benchDoc))
    val (nw, nm, nr, clean) = out(1L)
    assert(nw == 36L && nm > 0L && nr >= 20L)
    // every marker word is gone; padding may eat flank words but the
    // flanks are longer than the w-1=3 word pad, so both survive in part
    val words = clean.split(" ").toSet
    assert(markers.forall(m => !words.contains(m)), s"markers survived: $clean")
    assert(words.contains("pre1") && words.contains("post8"), clean)
    // no 6-word (w+k-1) run of the rewritten doc appears in the bench doc
    val runs = clean.split(" ").sliding(6).map(_.mkString(" ")).toSeq
    assert(runs.forall(r => !benchDoc.contains(r)))
    // the control doc is untouched
    assert(out(2L)._4 == "totally clean control document with many plain words")
  }

  test("decontaminate_rewrite: an exact bench clone rewrites to the empty string") {
    val doc = "exact benchmark clone of seven words here"
    val out = rewrite(Seq(1L -> doc), Seq(100L -> doc))
    val (nw, nm, nr, clean) = out(1L)
    assert(nw == 7L && nm > 0L && nr == 7L && clean == "")
  }

  test("decontaminate_rewrite: the D6d audit finds nothing after the scrub") {
    val s = spark
    import s.implicits._
    val markers = (1 to 20).map(i => f"contam$i%02d")
    val benchDoc = markers.mkString(" ")
    val planted = ((1 to 8).map(i => s"pre$i") ++ markers ++
      (1 to 8).map(i => s"post$i")).mkString(" ")
    val train = Seq(1L -> planted).toDF("doc_id", "text")
    val bench = Seq(100L -> benchDoc).toDF("doc_id", "text")
    // before: the audit flags the pair (minShared=1 — every shared fp)
    val before = TextOps.decontaminateSpansOn(train, bench, 3, 4, 10, 1).count()
    assert(before == 1L)
    // after: rewrite, re-audit — nothing shared at any minShared
    val clean = TextOps.decontaminateRewriteOn(train, bench, 3, 4, 10)
      .select($"doc_id", $"clean_text".as("text"))
    val after = TextOps.decontaminateSpansOn(clean, bench, 3, 4, 10, 1).count()
    assert(after == 0L)
  }

  test("harmonic centrality: integer-exact in HLL coupon mode on the path fixture") {
    val s = spark
    import s.implicits._
    // path 1-2-3-4-5 (undirected): H(1)=1+1/2+1/3+1/4, H(2)=1+1+1/2+1/3,
    // H(3)=1+1+1/2+1/2, symmetric for 4,5; ball sizes <=5 keep every HLL
    // in coupon mode where estimates are exact, so harmonic is exact too
    val path = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 5L, 1L))
      .toDF("src", "dst", "weight")
    val got = graft.operators.GraphOps.harmonicAllOf(path, 6)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val h1 = 1.0 + 1.0 / 2 + 1.0 / 3 + 1.0 / 4
    val h2 = 1.0 + 1.0 + 1.0 / 2 + 1.0 / 3
    val h3 = 1.0 + 1.0 + 1.0 / 2 + 1.0 / 2
    val exp = Map(1L -> h1, 2L -> h2, 3L -> h3, 4L -> h2, 5L -> h1)
    exp.foreach { case (v, h) =>
      assert(got(v)._1 == 4.0, s"reach($v) = ${got(v)._1}") // everyone reaches 4 others
      assert(math.abs(got(v)._2 - h) < 1e-4, s"H($v) = ${got(v)._2} != $h")
    }
    // fixpoint: extra rounds past the diameter change nothing
    val more = graft.operators.GraphOps.harmonicAllOf(path, 12)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    exp.keys.foreach(v => assert(more(v) == got(v)._2))
  }

  test("harmonic centrality: tracks the exact truncated closure on the sf graph") {
    val s = spark
    import s.implicits._
    val edges = graft.operators.GraphOps.edgesUnsorted(s, sfDir)
    val arcs = edges.select($"src", $"dst")
      .unionAll(edges.select($"dst".as("src"), $"src".as("dst"))).cache()
    // exact 3-hop harmonic per node: BFS closure carrying min distance
    var reach = arcs.select($"src".as("root"), $"src".as("v"), lit(0).as("d")).distinct().cache()
    (1 to 3).foreach { t =>
      val nxt = reach.join(arcs.withColumnRenamed("src", "v"), "v")
        .select($"root", $"dst".as("v"), lit(t).as("d"))
        .unionAll(reach)
        .groupBy($"root", $"v").agg(min($"d").as("d")).cache()
      reach.unpersist(); reach = nxt
    }
    val exact = reach.filter($"d" > 0)
      .groupBy($"root").agg(sum(lit(1.0) / $"d").as("hx"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = graft.operators.GraphOps.harmonicAllOf(edges, 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.keySet == exact.keySet)
    // per-node HLL error at lgK=8 is ~6.5% per ball estimate and the
    // harmonic sum is a difference of such estimates — allow 25% per
    // node; the population TOTAL averages the error out to a few %
    exact.foreach { case (v, hx) =>
      assert(math.abs(got(v) - hx) / hx < 0.25, s"H($v): ${got(v)} vs $hx") }
    val (sg, sx) = (got.values.sum, exact.values.sum)
    assert(math.abs(sg - sx) / sx < 0.05, s"totals: $sg vs $sx")
    reach.unpersist(); arcs.unpersist()
  }

  test("ann recall family: full probe budgets give recall 1.0 for every method") {
    val s = spark
    // radius=bits opens every LSH band, bqCands/rerank over the corpus
    // size disable the Hamming/ADC budgets, nProbe=nCells probes every
    // cell — every candidate set becomes the whole corpus, so every
    // method's top-k must equal the exact top-k exactly
    val rows = graft.operators.VectorOps.annRecallFamily(s, sfDir,
      probeRadius = 8, bqCands = 1000, nProbe = 16, rerank = 1000).collect()
    assert(rows.length == 5 * 8)
    rows.foreach(r => assert(r.getDouble(3) == 1.0,
      s"${r.getString(0)} q${r.getLong(1)}: ${r.getDouble(3)}"))
  }

  test("ann recall family: the LSH leg reproduces v_ann_recall row for row") {
    val s = spark
    val fam = graft.operators.VectorOps.annRecallFamily(s, sfDir)
      .filter(col("method") === "lsh")
      .select("query_id", "n_hit", "recall")
      .collect().map(_.toString).toSeq
    val single = graft.operators.VectorOps.annRecall(s, sfDir)
      .collect().map(_.toString).toSeq
    assert(fam == single)
    // sanity on the defaults: rows present for all methods, recall bounded
    val all = graft.operators.VectorOps.annRecallFamily(s, sfDir).collect()
    assert(all.map(_.getString(0)).distinct.sorted.toSeq ==
      Seq("bq", "ivf", "ivfpq", "lsh", "pq"))
    all.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 5)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("ann recall family: the BQ leg equals a plain-Scala replay") {
    val s = spark
    import s.implicits._
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = Tables.embeddings(s, sfDir)
      .select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
      .map { case (id, e) => id -> e.map(_.toDouble).toArray }.sortBy(_._1)
    val (panel, corpus) = vecs.partition(_._1 < 8L)
    def nrm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    def sig(v: Array[Double], start: Int) =
      (0 until 32).map(i => if (v(start + i) > 0.0) 1L << i else 0L).sum
    val expected = panel.map { case (qid, qv) =>
      val qlo = sig(qv, 0); val qhi = sig(qv, 32); val qn = nrm(qv)
      val cands = corpus.map { case (id, v) =>
        val ham = java.lang.Long.bitCount(sig(v, 0) ^ qlo) +
          java.lang.Long.bitCount(sig(v, 32) ^ qhi)
        (id, ham)
      }.sortBy { case (id, ham) => (ham, id) }.take(50).map(_._1).toSet
      val sims = corpus.map { case (id, v) =>
        id -> round6(v.zip(qv).map { case (a, b) => a * b }.sum / (nrm(v) * qn))
      }
      def topK(ids: Set[Long]) = sims.filter(p => ids.contains(p._1))
        .sortBy { case (id, sm) => (-sm, id) }.take(5).map(_._1).toSet
      val exact = topK(corpus.map(_._1).toSet)
      val got = topK(cands)
      qid -> (exact & got).size.toLong
    }.toMap
    val fam = graft.operators.VectorOps.annRecallFamily(s, sfDir)
      .filter(col("method") === "bq").collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(fam == expected, s"got $fam expected $expected")
  }

  test("ann recall indexed: the serving-table eval equals the inline eval and prunes buckets") {
    val s = spark
    val prior = s.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    val priorOpenCost = s.conf.get("spark.sql.files.openCostInBytes")
    s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    // a 2 kB open cost sizes sf0.001's 160 kB index at 64 buckets
    s.conf.set("spark.sql.files.openCostInBytes", "2048")
    try {
      graft.operators.VectorOps.lshIndexBuild(s, sfDir, "r14_lsh_sigs")
      val indexed = graft.operators.VectorOps.annRecallIndexed(s, sfDir, "r14_lsh_sigs")
      val inline = graft.operators.VectorOps.annRecall(s, sfDir)
        .collect().map(_.toString).toSeq
      assert(indexed.collect().map(_.toString).toSeq == inline)
      // bucket pruning engages when nBuckets exceeds the panel's probe-key
      // fanout (the at-scale table config); the full 8-query radius-1
      // panel probes 1152 keys and legitimately touches all 64 test
      // buckets, so the MECHANISM is pinned on a 1-query radius-0 eval
      // (16 keys -> at most 16 of 64 buckets)
      val one = graft.operators.VectorOps.annRecallIndexed(
        s, sfDir, "r14_lsh_sigs", nQueries = 1, probeRadius = 0)
      val plan = one.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(sel.isDefined, s"no bucket pruning in:\n$plan")
      assert(sel.get.group(1).toInt <= 16 && sel.get.group(2).toInt == 64,
        s"unexpected bucket selection: ${sel.get.group(0)}")
    } finally {
      s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prior)
      s.conf.set("spark.sql.files.openCostInBytes", priorOpenCost)
    }
  }

  test("decontaminate_rewrite: corpus invariants at sf0.001") {
    val s = spark
    import s.implicits._
    val out = TextOps.decontaminateRewrite(s, sfDir).cache()
    val nTrain = Tables.documents(s, sfDir).filter($"doc_id" % 10 =!= 0).count()
    assert(out.count() == nTrain) // every train doc emits exactly one row
    // removal is bounded by the doc and implied by a match (and only by one)
    assert(out.filter($"n_removed" > $"n_words").count() == 0)
    assert(out.filter($"n_matched" === 0 && $"n_removed" =!= 0).count() == 0)
    assert(out.filter($"n_matched" > 0 && $"n_removed" === 0).count() == 0)
    // untouched docs are byte-identical to the source text
    val src = Tables.documents(s, sfDir).select($"doc_id", $"text".as("orig"))
    val cleanJoined = out.filter($"n_matched" === 0).join(src, "doc_id")
    assert(cleanJoined.filter($"clean_text" =!= $"orig").count() == 0)
    out.unpersist()
  }
}
