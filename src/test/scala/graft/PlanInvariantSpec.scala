package graft

import graft.operators.Relational

/** Physical-plan invariants for the headline queries: the properties the
  * 100 TB design depends on (dims broadcast, filters pushed to the scan,
  * top-k as TakeOrderedAndProject, no nested-loop joins where an
  * equi-join is intended) are asserted so a regression fails the suite
  * rather than surfacing in a plan audit. Pinned to Spark 4.1.2 operator
  * names (the build's fixed runtime). */
class PlanInvariantSpec extends SparkSpecBase {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString

  /** Ancestor lines of the first line matching `pred`, walked via the
    * tree-drawing indentation (under AQE the executed plan is an
    * AdaptiveSparkPlanExec leaf, so only the string exposes the tree):
    * a parent's `+-`/`:-` marker sits strictly left of its child's, so
    * climbing to ever-smaller marker columns enumerates exactly the
    * ancestor chain — a node on a SIBLING branch that merely prints
    * earlier never qualifies. */
  private def ancestorsOf(planStr: String, pred: String => Boolean): Seq[String] = {
    val lines = planStr.linesIterator.toVector
    def markerPos(l: String): Int = {
      val i = l.indexOf("+- "); val j = l.indexOf(":- ")
      if (i < 0) j else if (j < 0) i else math.min(i, j)
    }
    val idx = lines.indexWhere(pred)
    if (idx < 0) return Seq.empty
    var cur = markerPos(lines(idx))
    val anc = scala.collection.mutable.ArrayBuffer[String]()
    var k = idx - 1
    while (k >= 0 && cur > 0) {
      val mp = markerPos(lines(k))
      if (mp < cur) { anc += lines(k); cur = math.max(mp, 0) }
      k -= 1
    }
    anc.toSeq
  }

  test("q_region_revenue: every dimension hop broadcasts, nothing sort-merges") {
    val p = plan("q_region_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "a dim join fell back to SMJ")
  }

  test("q_user_orders: customer filter reaches the parquet scan") {
    val p = plan("q_user_orders")
    assert(p.contains("PushedFilters: [IsNotNull(o_custkey), EqualTo(o_custkey,42)]")
      || p.contains("EqualTo(o_custkey,42)"), s"filter not pushed:\n$p")
  }

  test("top-k queries plan TakeOrderedAndProject, not a global sort") {
    for (q <- Seq("q_top_customers", "q_top_products", "v_cosine_topk")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q lost its top-k plan")
    }
  }

  test("pairwise candidates join on keys: no nested loop in the dedup plans") {
    // string-based: under AQE the executed plan is an AdaptiveSparkPlanExec
    // LEAF, so a tree collect() sees nothing — only toString exposes the
    // inner plan. The df-capped shingle build legitimately attaches the
    // corpus-size scalar via a condition-LESS Cross of a one-row
    // broadcast aggregate; the regression this test hunts — an
    // inequality pair join falling out of the equi-key path — always
    // prints its join condition on the BroadcastNestedLoopJoin line, and
    // a non-broadcast blowup prints CartesianProduct.
    for (q <- Seq("d_minhash_lsh", "d_simhash", "d_ngram_jaccard",
        "d_ngram_jaccard_lsh", "d_embedding_neardup",
        "d_embedding_neardup_lsh", "j_range_promo")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
      val offending = p.linesIterator
        .filter(_.contains("BroadcastNestedLoopJoin"))
        .filterNot(_.trim.endsWith("Cross")) // bare scalar attach
        .toSeq
      assert(offending.isEmpty, s"$q plans:\n${offending.mkString("\n")}")
    }
  }

  test("r7 reads: SKU point lookup pushes its key, BM25 broadcasts stats and takes top-k") {
    val ps = plan("q_product_by_sku")
    assert(ps.contains("EqualTo(p_partkey,42)"), s"point-read key not pushed:\n$ps")
    val pb = plan("q_product_bm25")
    assert(pb.contains("TakeOrderedAndProject"), s"bm25 ranking lost top-k:\n$pb")
    assert(pb.contains("BroadcastExchange"), s"bm25 df/corpus stats not broadcast:\n$pb")
    assert(!pb.contains("CartesianProduct"), "product bm25 plans a cartesian")
  }

  test("DSIR sample: corpus stats broadcast, weighted draw is a top-k not a global sort") {
    val p = plan("p_dsir_sample")
    assert(p.contains("TakeOrderedAndProject"), s"Gumbel-max draw lost top-k:\n$p")
    assert(p.contains("BroadcastExchange"), s"scalar corpus stats not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), "dsir plans a cartesian")
  }

  test("projection pruning: q1 scans only the columns it aggregates") {
    val p = plan("q1_pricing_summary")
    // ReadSchema must not include the wide comment/address columns
    assert(!p.contains("l_comment"), s"q1 reads l_comment:\n$p")
  }

  test("r4 operators: decontaminate joins on the shingle key, no nested loop") {
    val p = plan("d_decontaminate")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"d_decontaminate plans a non-equi join:\n$p")
    // the broadcast hint is gated on the optimizer's size estimate (a
    // hard hint would break at scale when the bench slice outgrows the
    // driver); at this SF the estimate fits the threshold, so the gate
    // must fire and the training corpus must not shuffle
    assert(p.contains("BroadcastHashJoin"), s"bench side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"decontaminate shuffled the corpus:\n$p")
    // and with the threshold forced to 0 the gate must NOT hint — AQE is
    // free to plan a shuffle join (scale safety: no hard broadcast)
    val sess = spark
    val old = sess.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      graft.Caches.clearAll()
      val gated = graft.operators.Dedup.decontaminate(sess, sfDir)
        .queryExecution.executedPlan.toString
      assert(!gated.contains("BroadcastHashJoin"),
        s"broadcast hint ignored the disabled threshold:\n$gated")
    } finally {
      sess.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
      graft.Caches.clearAll()
    }
  }

  test("q_catalog_page: seek predicate reaches the scan, page is TakeOrdered") {
    val p = plan("q_catalog_page")
    assert(p.contains("GreaterThan(p_partkey,100)"), s"seek not pushed:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"page lost its top-k plan:\n$p")
  }

  test("q_fuzzy_search: in-row scoring, top-k page, no shuffle, no aggregate") {
    val p = plan("q_fuzzy_search")
    assert(p.contains("TakeOrderedAndProject"), s"ranking lost its top-k plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy search plans a non-equi join:\n$p")
    assert(!p.contains("Exchange"), s"fuzzy search shuffles:\n$p")
    assert(!p.contains("Aggregate"), s"fuzzy search aggregates:\n$p")
  }

  test("v_chunk_recursive: joins stay keyed by doc_id, no nested loop") {
    val p = plan("v_chunk_recursive")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"chunking plans a non-equi join:\n$p")
  }

  test("v_quantize_int8: no interpreted higher-order lambda survives in the plan") {
    val p = plan("v_quantize_int8")
    assert(!p.contains("aggregate("), s"interpreted aggregate() HOF in plan:\n$p")
    assert(!p.contains("transform("), s"interpreted transform() HOF in plan:\n$p")
    assert(p.contains("vec_quant_abs_sum") && p.contains("vec_quant_self_dot"),
      s"quant kernels missing from plan:\n$p")
  }

  test("r4 operators: maxsim broadcasts the query set; mmr prefilter is TakeOrdered") {
    // maxsim: the only join is the query-set cross join, which must be a
    // broadcast (the stream side never shuffles for it)
    val pm = plan("v_maxsim")
    assert(pm.contains("BroadcastExchange"), s"maxsim query set not broadcast:\n$pm")
    assert(!pm.contains("SortMergeJoin"), "maxsim shuffled for the query join")
    // mmr: the candidate prefilter must be per-partition top-N + single
    // reduce, not a global sort of the corpus
    val pr = plan("v_mmr_rerank")
    assert(pr.contains("TakeOrderedAndProject"), s"mmr prefilter lost top-N:\n$pr")
  }

  test("r4 operators: vocab and bm25 rank via TakeOrdered, bm25 stats broadcast") {
    val pv = plan("t_vocab")
    assert(pv.contains("TakeOrderedAndProject"), s"vocab top-K lost:\n$pv")
    val pb = plan("t_bm25")
    assert(pb.contains("TakeOrderedAndProject"), s"bm25 ranking lost:\n$pb")
    assert(pb.contains("BroadcastExchange"), s"bm25 df/corpus stats not broadcast:\n$pb")
    assert(!pb.contains("CartesianProduct"), "bm25 plans a cartesian")
  }

  test("r6 extras: node similarity and more-like-this stay keyed + top-k") {
    // node similarity: candidates from the shared-neighbor inverted index —
    // never an all-pairs join; ranking is per-partition heaps
    val ns = plan("g_node_similarity")
    assert(!ns.contains("CartesianProduct") && !ns.contains("BroadcastNestedLoopJoin"),
      s"node similarity plans a non-equi join:\n$ns")
    assert(ns.contains("TakeOrderedAndProject"), s"node similarity lost top-k:\n$ns")
    // more-like-this: the query doc's set/shingles attach as broadcasts
    // (condition-less Cross), candidates ride the shingle equi-join
    val ml = plan("t_more_like_this")
    assert(!ml.contains("CartesianProduct"), s"MLT plans a cartesian:\n$ml")
    assert(ml.contains("TakeOrderedAndProject"), s"MLT ranking lost top-k:\n$ml")
    assert(ml.contains("BroadcastExchange"), s"MLT query set not broadcast:\n$ml")
  }

  test("r6 extras: semantic decontamination broadcasts eval, never shuffles the corpus") {
    val p = plan("d_decontaminate_semantic")
    // the exact scan IS a broadcast nested loop over the bounded eval set —
    // what must never appear is a shuffle (or cartesian) of the train side
    assert(p.contains("BroadcastExchange"), s"eval side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"train corpus shuffled:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
  }

  test("r4 operators: scd2 shuffles once by entity key") {
    // both window passes run off ONE hash exchange on user_id (the final
    // presentation orderBy adds a range exchange, which is not a reshuffle
    // of the fold key)
    val p = plan("s_scd2_dim")
    val byUser = p.split("Exchange hashpartitioning\\(user_id").length - 1
    assert(byUser == 1, s"expected one user_id hash exchange in:\n$p")
  }

  test("r8 operators: all-orders keyed join, shuffle-shards single fold shuffle, dup-spans no gram window") {
    // q_all_orders: the unbounded fact-fact listing must join on the key —
    // never a cartesian/nested-loop — and sort distributed (range), not
    // collapse to a single partition
    val po = plan("q_all_orders")
    assert(!po.contains("CartesianProduct") && !po.contains("BroadcastNestedLoopJoin"),
      s"all-orders plans a non-equi join:\n$po")
    assert(po.contains("rangepartitioning"), s"listing sort not distributed:\n$po")
    // p_shuffle_shards: pure layout op — no join anywhere, the pos rank
    // rides ONE hash exchange on the shard key (plus the presentation
    // range sort), and the window is the only fold
    val ps = plan("p_shuffle_shards")
    assert(!ps.contains("Join"), s"shuffle-shards grew a join:\n$ps")
    assert(ps.contains("Window"), s"per-shard rank lost its window:\n$ps")
    val byShard = ps.split("Exchange hashpartitioning\\(shard").length - 1
    assert(byShard == 1, s"expected one shard hash exchange in:\n$ps")
    // d_dup_spans: the design choice under test — gram counts aggregate
    // (map-side combine) and NEVER ride a window over the gram key, where
    // a hot boilerplate gram would pile every occurrence on one reducer
    val pd = plan("d_dup_spans")
    assert(!pd.contains("Window"), s"dup-spans counts gram occurrences via a window:\n$pd")
    assert(!pd.contains("CartesianProduct") && !pd.contains("BroadcastNestedLoopJoin"),
      s"dup-spans plans a non-equi join:\n$pd")
  }

  test("r8 retrieval composites: recommend broadcasts the owned set, hybrid fuses two top-k legs") {
    // g_recommend_user: one customer's history is tiny — both the semi
    // (src ∈ owned) and anti (dst ∉ owned) legs must broadcast it, and
    // the plan must not grow a cartesian
    val pr = plan("g_recommend_user")
    assert(pr.contains("BroadcastHashJoin"), s"owned set not broadcast:\n$pr")
    assert(!pr.contains("CartesianProduct"), s"recommend plans a cartesian:\n$pr")
    // v_hybrid_search: each leg ends in a bounded top-k (TakeOrdered)
    // before its rank window, so the rrf windows never see the corpus
    val ph = plan("v_hybrid_search")
    assert(ph.contains("TakeOrderedAndProject"), s"hybrid legs lost their top-k:\n$ph")
    assert(!ph.contains("CartesianProduct"), s"hybrid plans a cartesian:\n$ph")
  }

  test("r8d operators: bq-ann budgets via top-k, AA wedges equi-join, quotas broadcast") {
    // v_bq_ann: the Hamming candidate budget and the final ranking must
    // both be TakeOrdered (never a global sort of the sig scan), the
    // query row a broadcast
    val pb = plan("v_bq_ann")
    assert(pb.contains("TakeOrderedAndProject"), s"bq-ann lost its top-k:\n$pb")
    assert(pb.contains("BroadcastExchange"), s"bq-ann query sig not broadcast:\n$pb")
    assert(!pb.contains("CartesianProduct"), s"bq-ann plans a cartesian:\n$pb")
    // g_adamic_adar: the wedge self-join stays on the neighbor equi-key
    val pa = plan("g_adamic_adar")
    assert(!pa.contains("CartesianProduct"), s"AA plans a cartesian:\n$pa")
    val off = pa.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .filterNot(_.trim.endsWith("Cross")).toSeq
    assert(off.isEmpty, s"AA plans:\n${off.mkString("\n")}")
    // p_temperature_sample: the #sources quota frame rides a broadcast
    // join, never a shuffle of the corpus against it
    val pt = plan("p_temperature_sample")
    assert(pt.contains("BroadcastExchange"), s"quota frame not broadcast:\n$pt")
    assert(!pt.contains("CartesianProduct"), s"temperature plans a cartesian:\n$pt")
  }

  test("r8g-j operators: bloom probes before the exchange, one-pass checks, k-bounded overlap") {
    // d_decontaminate_bloom: the codegen'd probe must sit on the train
    // side BEFORE any exchange — that IS the operator's scale claim
    val pb = plan("d_decontaminate_bloom")
    assert(pb.contains("bloom_probe"), s"probe not in the plan:\n$pb")
    // tree-walked, not line-ordered (ADVICE r8): the probe Filter must be
    // a DESCENDANT of a hash exchange — i.e. it feeds the confirm join's
    // train-side shuffle from below. An exchange printing earlier on a
    // sibling branch (e.g. the bench aggregate) no longer satisfies this;
    // a probe migrated post-shuffle has the exchange as its descendant,
    // not ancestor, and fails.
    val anc = ancestorsOf(pb, _.contains("bloom_probe"))
    assert(anc.exists(_.contains("Exchange hashpartitioning")),
      s"probe is not below a train-side hash exchange:\n$pb")
    // p_quality_checks: one aggregate pass over the corpus scan — the
    // only keyed exchange allowed is countDistinct's doc_id expansion
    // (high-cardinality, scale-safe); the unpivot must be a Generate
    // over the 1-row metrics frame, and nothing joins
    val pq = plan("p_quality_checks")
    val keyedAggExchanges = pq.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(keyedAggExchanges.forall(_.contains("doc_id")),
      s"expectations shuffle on more than the distinct key:\n$pq")
    assert(pq.contains("Generate stack"), s"unpivot lost its Generate:\n$pq")
    assert(!pq.contains("Join"), s"expectations plan a join:\n$pq")
    // s_audience_overlap: the pair legs run on k-bounded frames; the only
    // corpus-sized work is the distinct + ranged rank, so no cartesian
    val pa = plan("s_audience_overlap")
    assert(!pa.contains("CartesianProduct"), s"overlap plans a cartesian:\n$pa")
    // q_mv_incremental: both partial legs keep the part dim broadcast
    val pm = plan("q_mv_incremental")
    assert(pm.contains("BroadcastHashJoin"), s"dim join lost broadcast:\n$pm")
    assert(!pm.contains("SortMergeJoin"), s"partial leg fell to SMJ:\n$pm")
  }

  test("r9 iterative loops: checkpointed arc frame keeps hashpartitioning(src), joins re-shuffle only state") {
    val s = spark
    import s.implicits._
    import graft.operators.GraphOps
    // the LPA/walk/Brandes loops all source their arcs from loopArcs —
    // this pins the two properties their per-round cost model rests on
    val edges = GraphOps.copurchaseEdges(spark, sfDir).select("src", "dst", "weight")
    val arcs = GraphOps.loopArcs(edges, withWeight = true)
    // 1. the checkpoint preserves the repartition: the scan's output
    //    partitioning is hashpartitioning(src)
    val part = arcs.queryExecution.executedPlan.outputPartitioning.toString
    assert(part.contains("hashpartitioning(src"),
      s"checkpoint dropped the arc partitioning: $part")
    // 2. one LPA round body, planned with broadcast off so the join is a
    //    SortMergeJoin (broadcasting the label frame would hide the arc
    //    side's layout): the nodes between the arc scan and the join
    val labels = arcs.select($"src".as("v")).distinct()
      .select($"v", $"v".as("lbl")).localCheckpoint(true)
    val arcScan = (l: String) =>
      l.contains("Scan ExistingRDD") && l.contains("src") && l.contains("weight")
    def arcSide(a: org.apache.spark.sql.DataFrame): (Seq[String], String) = {
      val pv = a.join(labels, $"src" === $"v")
        .groupBy($"dst", $"lbl").agg(org.apache.spark.sql.functions.sum($"weight").as("vote"))
        .queryExecution.executedPlan.toString
      assert(pv.linesIterator.exists(arcScan), s"no arc scan in plan:\n$pv")
      val anc = ancestorsOf(pv, arcScan)
      assert(anc.find(_.contains("Join")).exists(_.contains("SortMergeJoin")),
        s"arc scan not under a SortMergeJoin:\n$pv")
      (anc.takeWhile(!_.contains("Join")), pv)
    }
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.foreach(spark.conf.set(_, "-1"))
      // sorted (loopArcs): neither an Exchange nor a Sort on the arc side
      val (below, pv) = arcSide(arcs)
      assert(below.forall(l => !l.contains("Exchange") && !l.contains("Sort")),
        s"sorted arc side re-shuffles or re-sorts before the join:\n$pv")
      // control, unsorted: the layout still saves the Exchange, but the
      // join must sort the arc side itself
      val base = edges.select($"src", $"dst", $"weight")
        .unionAll(edges.select($"dst".as("src"), $"src".as("dst"), $"weight"))
      val (belowU, pu) = arcSide(GraphOps.partitionedCheckpoint(base, "src"))
      assert(belowU.forall(!_.contains("Exchange")),
        s"unsorted arc side re-shuffles before the join:\n$pu")
      assert(belowU.exists(_.contains("Sort")),
        s"unsorted arc side joined without a Sort:\n$pu")
    } finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("r9b operators: winnow shuffles only for the output sort; line-dedup and the text gates never window or nest-loop") {
    // t_winnow's claim is ZERO data-dependent shuffle: the only
    // Exchanges in the whole plan are the output sort's range partition
    // and the under-split-scan widening (Tables.documents round-robin)
    val pw = plan("t_winnow")
    val ex = pw.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(ex.nonEmpty && ex.forall(l =>
      l.contains("rangepartitioning") || l.contains("RoundRobinPartitioning")),
      s"unexpected shuffle in the winnow plan:\n$pw")
    // d_line_dedup reassembles positionally via array_sort-of-struct in
    // an AGG — a row_number window would funnel each doc through one
    // task slot per partition boundary; and both its joins are keyed
    val pl = plan("d_line_dedup")
    assert(!pl.contains("CartesianProduct") &&
      !pl.contains("BroadcastNestedLoopJoin"), s"non-keyed join:\n$pl")
    assert(!pl.contains("Window"), s"positional window crept in:\n$pl")
    for (q <- Seq("t_entropy", "t_gopher_rules")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q non-keyed join:\n$p")
      assert(!p.contains("Window"), s"$q uses a window:\n$p")
    }
  }

  test("request path: a Tables read runs no job; sku, search and stock run one each") {
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings"))
      assert(jobsOf(Tables.table(spark, sfDir, t)) == 0, s"reading $t ran a job")
    val calls = Seq(
      "productBySku" -> (() => Relational.productBySku(spark, sfDir).collect()),
      "productSearch" -> (() => Relational.productSearch(spark, sfDir).collect()),
      "checkStock" -> (() => Relational.checkStock(spark, sfDir).collect()))
    for ((name, call) <- calls) {
      val jobs = jobsOf(call())
      assert(jobs == 1, s"$name ran $jobs jobs")
    }
  }

  test("request path: fuzzy search and cancel run one job each, orders two") {
    val calls = Seq(
      ("fuzzySearch", 1, () => Relational.fuzzySearch(spark, sfDir).collect()),
      ("cancelEligible", 1, () => Relational.cancelEligible(spark, sfDir).collect()),
      // the filtered orders' broadcast, then the lineitem scan and sort
      ("userOrders", 2, () => Relational.userOrders(spark, sfDir).collect()))
    for ((name, expected, call) <- calls) {
      val jobs = jobsOf(call())
      assert(jobs == expected, s"$name ran $jobs jobs, not $expected")
    }
  }

  test("q_check_stock: one scan — no aggregate, no broadcast exchange") {
    val p = plan("q_check_stock")
    assert(p.contains("TakeOrderedAndProject"), s"stock lookup lost its top-1:\n$p")
    assert(!p.contains("Aggregate"), s"stock lookup aggregates:\n$p")
    assert(!p.contains("BroadcastExchange"), s"stock lookup broadcasts:\n$p")
  }
}
