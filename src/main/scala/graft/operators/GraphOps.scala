package graft.operators

import org.apache.spark.graphx.{Edge, Graph, PartitionStrategy}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.GraftCheckpoint
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{Caches, Tables}
import graft.functions.Param

/** Graph surface of the reference's Neo4j product/category graph
  * (backend/src/api/services/neo4j_service.py: IN_CATEGORY traversals,
  * MERGE-built product graph).
  *
  * Two graphs over the test schema:
  *  - co-purchase: nodes = parts, edge (a,b) iff both appear in one order,
  *    weight = #co-occurring orders — built by per-order part-list
  *    aggregation + in-row pair expansion. Per-order part lists are
  *    bounded (≤ ~13), so the expansion is constant work per order and
  *    the build stays linear in row count at any scale (SURVEY §5).
  *  - hierarchy: supplier → nation → region (IN_CATEGORY rollup shape).
  *
  * Traversal-shaped queries (edges, degree, 2-hop) stay in DataFrames —
  * Catalyst plans them better than Pregel for bounded hops. Whole-graph
  * analytics (PageRank, components, triangles) hand the pre-aggregated
  * edge list to GraphX.
  */
object GraphOps {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Canonical co-purchase edges (src < dst, weight = #co-occurring
    * orders), built in ONE pass: per-order sorted distinct part list →
    * in-row pair expansion → pair count. Two shuffles total (by orderkey,
    * then by pair), both with map-side partial aggregation. The r1
    * distinct + self-join formulation shuffled the fact table four times
    * and raced both join sides over the same cached input; per-order part
    * lists are bounded (≤ ~7 lines/order at any TPC-H scale), so the
    * in-row expansion is constant work per order — the same bounded-fanout
    * argument that made the self-join safe makes the list build safe. */
  private[graft] def edgesUnsorted(s: SparkSession, dir: String): DataFrame =
    Caches.cached(s"copurchase-edges:$dir") { // degree/GraphX re-read it
      import s.implicits._
      Tables.lineitem(s, dir)
        .select($"l_orderkey".as("ok"), $"l_partkey".as("pk"))
        .groupBy($"ok").agg(sort_array(collect_set($"pk")).as("pks"))
        .select(explode(expr(
          "flatten(transform(pks, (x, i) -> " +
          "transform(slice(pks, i + 2, size(pks) - i - 1), " +
          "y -> struct(x AS src, y AS dst))))")).as("e"))
        .select($"e.src", $"e.dst")
        .groupBy($"src", $"dst")
        .agg(count(lit(1)).as("weight"))
    }

  // G1 — co-purchase edge construction (canonical src < dst).
  def copurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    edgesUnsorted(s, dir).orderBy($"src", $"dst")
  }

  // G2 — node degree profile (GraphX `degrees` semantics, computed as a
  // DataFrame aggregation over the canonical edge list).
  def degree(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = edgesUnsorted(s, dir)
    e.select($"src".as("part")).unionAll(e.select($"dst"))
      .groupBy($"part")
      .agg(count(lit(1)).as("degree"))
      .orderBy($"part")
  }

  // G3 — 2-hop traversal: category → its products → co-purchased products
  // outside the category (the Cypher MATCH (c)<-[:IN_CATEGORY]-(p)…
  // neighbourhood shape).
  def twoHop(s: SparkSession, dir: String, category: String = "PROMO"): DataFrame = {
    import s.implicits._
    // both directions: neighbour sets are symmetric, so mirror the
    // canonical edge list instead of re-joining the fact table
    val e = edgesUnsorted(s, dir)
    val nbrs = e.select($"src", $"dst")
      .unionAll(e.select($"dst".as("src"), $"src".as("dst")))
    val p = Tables.part(s, dir)
    val seeds = p.filter($"p_type" === category).select($"p_partkey")
    nbrs
      .join(broadcast(seeds), $"src" === $"p_partkey")
      .select($"dst".as("part"))
      .distinct()
      .join(broadcast(seeds).withColumnRenamed("p_partkey", "part"), Seq("part"), "left_anti")
      .join(broadcast(p), $"part" === $"p_partkey")
      .select($"part", $"p_name", $"p_type")
      .orderBy($"part")
  }

  // G4 — hierarchy rollup: revenue up supplier → nation → region.
  def hierarchyRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(Relational.dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy($"r_name", $"n_name")
  }

  /** Undirected GraphX graph from a canonical (src, dst, weight) edge
    * frame: both arcs materialized (GraphX repartitions anyway).
    * Parameterized so the fixture specs can run the same analytics on
    * planted graphs with known ranks/triangles.
    *
    * Edge partitions are sized by ARC COUNT (~300k arcs each, floor 4):
    * GraphX schedules several stages per Pregel/PageRank iteration, so
    * with near-empty partitions per-task overhead dominates the iteration
    * loop — measured 5× on staticPageRank at sf0.1 (32 partitions ≈ 11 s,
    * 8 partitions ≈ 2 s, same graph). Coalesce only ever narrows (no
    * shuffle); a cluster-scale edge list keeps its full parallelism
    * because count/300k exceeds the input partitioning. */
  private[graft] def graphOf(edges: DataFrame): Graph[Int, Long] = {
    val cur = edges.rdd.getNumPartitions
    val target = math.max(4, math.ceil(2.0 * edgeRows(edges) / 300000).toInt)
    val df = if (target < cur) edges.coalesce(target) else edges
    val arcs = df.rdd.flatMap { r =>
      val (src, dst, w) = (r.getLong(0), r.getLong(1), r.getLong(2))
      Iterator(Edge(src, dst, w), Edge(dst, src, w))
    }
    Graph.fromEdges(arcs, 0, StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK)
  }

  /** Row count of an edge frame, read from plan statistics when the
    * frame is a materialized cache (InMemoryRelation reports an exact
    * rowCount — no job), else one count(), which also materializes a
    * cached frame so later calls read it for free. Never memoized across
    * calls: the answer always reflects the frame as it is now. */
  private[graft] def edgeRows(edges: DataFrame): Long =
    edges.queryExecution.optimizedPlan.stats.rowCount
      .map(_.toLong).getOrElse(edges.count())

  /** Static PageRank ranks for an arbitrary canonical edge frame. */
  private[graft] def pageRankOf(edges: DataFrame, iters: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val ranks = graphOf(edges).staticPageRank(iters).vertices
    s.createDataFrame(ranks).toDF("part", "rank_raw")
      .select($"part", round($"rank_raw", 6).as("rank"))
  }

  // G5 — PageRank centrality over the co-purchase graph (GraphX). Hash-
  // matched since r6: the fixed-iteration update replays as a DuckDB
  // recursive CTE (window-SUM aggregation in the recursive term), 6dp
  // rounding both sides; GraphSpec additionally pins exact fixpoints on
  // planted fixture graphs.
  def pageRank(s: SparkSession, dir: String, iters: Int = 10, k: Int = 20): DataFrame = {
    import s.implicits._
    pageRankOf(edgesUnsorted(s, dir), iters)
      .orderBy($"rank".desc, $"part")
      .limit(k)
  }

  /** Weighted static PageRank over an arbitrary canonical (src, dst,
    * weight) edge frame: rank mass follows edge weight — msg = rank ·
    * w/wdeg(src) instead of rank/deg(src) — so a product co-purchased
    * 50× pulls proportionally more rank than a one-off pairing. Runs on
    * GraphX (measured faster than a DataFrame fixpoint loop, SURVEY §5).
    * Mirrors PageRank.runWithOptions' caching discipline; expression
    * shapes (rank·(w/wdeg), 0.15 + (1.0-0.15)·Σ) match the recursive-CTE
    * oracle bit-for-bit modulo 6dp-absorbed sum order. */
  private[graft] def pageRankWeightedGX(edges: DataFrame, iters: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val g = graphOf(edges) // edge attr = weight, both arcs materialized
    val wdeg = g.aggregateMessages[Long](
      ctx => ctx.sendToSrc(ctx.attr), _ + _,
      org.apache.spark.graphx.TripletFields.EdgeOnly)
    var rank: Graph[Double, Double] = g
      .outerJoinVertices(wdeg) { (_, _, d) => d.getOrElse(0L) }
      .mapTriplets(e => e.attr.toDouble / e.srcAttr.toDouble,
        org.apache.spark.graphx.TripletFields.Src)
      .mapVertices((_, _) => 1.0)
    rank.cache()
    for (_ <- 0 until iters) {
      val msgs = rank.aggregateMessages[Double](
        ctx => ctx.sendToDst(ctx.srcAttr * ctx.attr), _ + _,
        org.apache.spark.graphx.TripletFields.Src)
      val prev = rank
      rank = rank.outerJoinVertices(msgs) { (_, _, m) =>
        0.15 + (1.0 - 0.15) * m.getOrElse(0.0)
      }.cache()
      rank.edges.foreachPartition(_ => ()) // materialize before unpersisting prev
      prev.unpersistVertices(blocking = false)
      prev.edges.unpersist(blocking = false)
    }
    s.createDataFrame(rank.vertices).toDF("part", "rank_raw")
      .select($"part", round($"rank_raw", 6).as("rank"))
  }

  // G5b — weighted PageRank over the co-purchase graph (the edge weights
  // G1 computes finally drive the ranking).
  def pageRankWeighted(s: SparkSession, dir: String, iters: Int = 10, k: Int = 20): DataFrame = {
    import s.implicits._
    pageRankWeightedGX(edgesUnsorted(s, dir), iters)
      .orderBy($"rank".desc, $"part")
      .limit(k)
  }

  /** Mirrored arc frame (a, nb) shared by G9/G9b: self-loops dropped,
    * duplicate arcs collapsed. Without the distinct, an edge frame with
    * repeated (src,dst) rows would inflate the exact path's degrees and
    * common counts while the set-based LSH twin dedups — the two paths
    * would disagree on the same input (ADVICE r6). On the canonical
    * `edgesUnsorted` frame (already distinct, src < dst) the distinct is
    * a no-op folded into the one cached build per corpus. */
  private def mirroredNbrs(e: DataFrame, cacheKey: Option[String]): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    def mirror = {
      val ee = e.select($"src", $"dst").filter($"src" =!= $"dst")
      ee.select($"src".as("a"), $"dst".as("nb"))
        .unionAll(ee.select($"dst".as("a"), $"src".as("nb")))
        .distinct()
    }
    // both join sides read the mirrored arcs — cache once per corpus
    cacheKey.fold(mirror)(key => Caches.cached(key)(mirror))
  }

  /** Candidate-work probe for exact node similarity: from the degree
    * frame, the number of super-connectors (deg > maxDeg) and the
    * candidate rows the shared-neighbor self-join will emit after they
    * are dropped — Σ_{deg(n) ≤ maxDeg} deg(n)². One scalar aggregate over
    * the cached arcs, run on every call (never memoized: the answer
    * always reflects the frame as it is now), amortized against the
    * quadratic join it sizes.
    *
    * Unfiltered degrees are the RIGHT group sizes here, not a conservative
    * proxy (ADVICE r7 re-derived): the self-join groups on the shared-
    * neighbor key `nb`, the hub filter only removes rows whose nb IS a
    * hub, and on the mirrored-symmetric arc frame the nb-group size of a
    * surviving (non-hub) key v is #{a : a→v kept} = every neighbor of v —
    * i.e. v's UNFILTERED degree. So Σ_{non-hub} deg² is exactly the
    * filtered join's candidate volume. */
  private def pairWorkOf(nbrs: DataFrame, maxDeg: Int): (Long, Long) = {
    import nbrs.sparkSession.implicits._
    val r = nbrs.groupBy($"a").agg(count(lit(1)).as("d"))
      .agg(
        coalesce(sum(when($"d" > maxDeg, 1L).otherwise(0L)), lit(0L)),
        coalesce(sum(when($"d" <= maxDeg, $"d" * $"d").otherwise(0L)), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  // G9 — node similarity: Jaccard over neighbor sets of the co-purchase
  // graph (the Neo4j GDS nodeSimilarity shape — "products bought alongside
  // the same things", the item-item collaborative-filtering primitive).
  // jacc(a,b) = |N(a)∩N(b)| / (deg(a)+deg(b)−|N(a)∩N(b)|), top-k pairs.
  // Shapes: candidates come from the inverted index on the SHARED NEIGHBOR
  // key (exactly D4's shared-shingle pattern — no all-pairs join exists in
  // the plan); common counts aggregate with map-side combine; degrees join
  // back on the pair endpoints; ranking is TakeOrderedAndProject.
  def nodeSimilarity(s: SparkSession, dir: String, k: Int = 20): DataFrame =
    nodeSimilarityOf(edgesUnsorted(s, dir), k, Some(s"nodesim-nbrs:$dir"))

  /** G9 core over an arbitrary canonical edge frame (fixture-testable).
    *
    * The Σ deg(n)² candidate term is intrinsic to EXACT node similarity;
    * what's chosen here is how it flows. The self-join on the neighbor
    * key wins over in-row pair expansion of per-neighbor adjacency lists
    * (the co-purchase edge-build shape): those lists are HUB-sized — the
    * nested transform materializes a d²-element array per hub row and
    * serializes each hub's pairs in one task, where the join streams the
    * same pairs through the count's map-side combine and AQE skew-splits
    * hot neighbor buckets across tasks (measured: 26.8 s in-row vs
    * 19.3 s join at sf0.1 — the reverse of the bounded-list case). The
    * sub-quadratic scale path is `nodeSimilarityLsh` below, D4b's move.
    *
    * Two guards bound that quadratic term (VERDICT r6 `weak`: the
    * unguarded form OOM'd a default JVM at sf1 — 2.98B candidate rows):
    *
    *  - `maxDeg` — super-connector cutoff (D4's stop-shingle move; the
    *    GDS `upperDegreeCutoff` shape). A neighbor with deg > maxDeg is
    *    adjacent to "everything": it carries no similarity signal but
    *    owns deg² of the candidate volume on a skewed graph, so it is
    *    dropped from every node's neighbor SET — degrees and common
    *    counts both come from the filtered arcs, i.e. the result is
    *    EXACT Jaccard over hub-filtered neighbor sets. The default never
    *    binds on the co-purchase graph (measured max degree ≈ 222 at
    *    sf0.01/0.1/1 — TPC-H's uniformity means NO hubs exist there).
    *
    *  - `maxPairWork` — candidate-row budget. The co-purchase blowup is
    *    uniform density, not skew (Σ deg² ≈ 28M / 298M / 2.98B at
    *    sf0.01/0.1/1 with flat per-node degree), so no degree cap can
    *    tame it without gutting every neighbor set; above budget the
    *    only sub-quadratic answer is banding, and the call reroutes to
    *    `nodeSimilarityLshOf` (15.8 s at sf1 vs OOM, r6 probe) the same
    *    way semantic decontamination size-gates its broadcast. The
    *    default (5e8) keeps every tested SF ≤ 0.1 on the exact path —
    *    oracle hashes unchanged — and reroutes sf1+. */
  private[graft] def nodeSimilarityOf(e: DataFrame, k: Int,
      cacheKey: Option[String] = None,
      maxDeg: Int = 100000,
      maxPairWork: Long = 500000000L): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val nbrs = mirroredNbrs(e, cacheKey)
    val (nHubs, cappedWork) = pairWorkOf(nbrs, maxDeg)
    if (cappedWork > maxPairWork) {
      // surfaced, not silent (ADVICE r7): above budget the exact operator
      // answers with the probabilistic banding twin — callers needing the
      // exact-Jaccard contract (and its SQL oracle) must stay below budget.
      log.warn(s"g_node_similarity: pair work $cappedWork exceeds budget " +
        s"$maxPairWork — rerouting to MinHash-LSH banding (probabilistic); " +
        "exact-Jaccard oracle parity does not hold for this run")
      return nodeSimilarityLshOf(e, k, cacheKey)
    }
    // hub filter engages only when super-connectors exist — the plan (and
    // the oracle hash) is byte-identical to the unguarded form otherwise
    val capped =
      if (nHubs == 0L) nbrs
      else {
        val hubs = nbrs.groupBy($"a").agg(count(lit(1)).as("d"))
          .filter($"d" > maxDeg).select($"a".as("nb"))
        nbrs.join(broadcast(hubs), Seq("nb"), "left_anti")
      }
    val deg = capped.groupBy($"a").agg(count(lit(1)).as("d"))
    val common = capped.as("x")
      .join(capped.as("y"), $"x.nb" === $"y.nb" && $"x.a" < $"y.a")
      .groupBy($"x.a".as("pa"), $"y.a".as("pb"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(deg.select($"a".as("pa"), $"d".as("da")), "pa")
      .join(deg.select($"a".as("pb"), $"d".as("db")), "pb")
      .withColumn("jacc", round(
        $"n_common".cast("double") / ($"da" + $"db" - $"n_common"), 6))
      .select($"pa".as("part_a"), $"pb".as("part_b"), $"n_common", $"jacc")
      .orderBy($"jacc".desc, $"part_a", $"part_b")
      .limit(k)
  }

  // G9b — sub-quadratic node similarity (the 100 TB path for G9, exactly
  // D4b's move): MinHash band signatures over each node's NEIGHBOR SET
  // (24 md5-derived permutations, 12 bands of 2) generate candidate pairs,
  // then exact Jaccard re-ranks them in-row via array_intersect of the
  // per-node adjacency arrays. Work is candidates + output, not Σ deg(n)².
  // Probabilistic by design → rows-only entry: a pair at Jaccard j escapes
  // all bands with prob (1-j²)¹² — vanishing for the high-similarity head
  // real item-item data has (j=0.9 → 6e-10), while THIS corpus's top pairs
  // sit at noise-level j≈0.11 where banding legitimately keeps almost
  // nothing (the exact twin G9 is the oracle-checked definition; the
  // planted-fixture spec pins recall 1.0 where a true near-identical
  // neighborhood exists).
  def nodeSimilarityLsh(s: SparkSession, dir: String, k: Int = 20): DataFrame =
    nodeSimilarityLshOf(edgesUnsorted(s, dir), k, Some(s"nodesim-nbrs:$dir"))

  /** G9b core over an arbitrary canonical edge frame (fixture-testable). */
  private[graft] def nodeSimilarityLshOf(e: DataFrame, k: Int,
      cacheKey: Option[String] = None, nPerm: Int = 24, bandSize: Int = 2): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val nbrs = mirroredNbrs(e, cacheKey)
    // per-node adjacency arrays: both re-rank join sides read them, and
    // each row is bounded by the node's degree (ships safely — the same
    // bound that makes docSets safe for the text Jaccard family)
    val sets = {
      def build = nbrs.groupBy($"a")
        .agg(sort_array(collect_set($"nb")).as("ns"))
        .select($"a", $"ns", size($"ns").cast("long").as("d"))
      cacheKey.fold(build)(key => Caches.cached(s"$key:sets")(build))
    }
    val sigs = {
      def build = Dedup.minhashBandSigs(
        nbrs.select($"a".as("doc_id"), $"nb".cast("string").as("s")), nPerm, bandSize)
      cacheKey.fold(build)(key => Caches.cached(s"$key:sigs:$nPerm:$bandSize")(build))
    }
    val cand = sigs.as("x")
      .join(sigs.as("y"),
        $"x.band" === $"y.band" && $"x.sig" === $"y.sig" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("pa"), $"y.doc_id".as("pb"))
      .distinct()
    cand
      .join(sets.select($"a".as("pa"), $"ns".as("na"), $"d".as("da")), "pa")
      .join(sets.select($"a".as("pb"), $"ns".as("nb2"), $"d".as("db")), "pb")
      .withColumn("n_common", size(array_intersect($"na", $"nb2")).cast("long"))
      .filter($"n_common" >= 1)
      .withColumn("jacc", round(
        $"n_common".cast("double") / ($"da" + $"db" - $"n_common"), 6))
      .select($"pa".as("part_a"), $"pb".as("part_b"), $"n_common", $"jacc")
      .orderBy($"jacc".desc, $"part_a", $"part_b")
      .limit(k)
  }

  // G13 — Adamic-Adar link prediction over the co-purchase graph (the
  // second Neo4j GDS similarity scorer next to G9's Jaccard:
  // gds.alpha.linkprediction.adamicAdar). AA(a,b) = Σ_{z ∈ N(a)∩N(b)}
  // 1/ln(deg(z)) — common neighbors weighted by how SELECTIVE they are,
  // so sharing a niche product says more than sharing a bestseller.
  // Shape: the identical wedge inverted-index as G9 (no all-pairs join),
  // except the shared neighbor's degree rides the arc row INTO the
  // self-join, so the weight needs no per-pair join afterwards. Float
  // parity: each 1/ln(d) rounds to 6dp then sums as DECIMAL(18,6) —
  // order-independent, engine-identical (V8's discipline). A degree-1
  // node is never a shared neighbor (it has one arc row — the a<b
  // self-join needs two), so ln(d) ≥ ln 2 and the division is total.
  def adamicAdar(s: SparkSession, dir: String, k: Int = 20): DataFrame =
    adamicAdarOf(edgesUnsorted(s, dir), k, Some(s"nodesim-nbrs:$dir"))

  /** G13 core over an arbitrary canonical edge frame (fixture-testable).
    *
    * Same Σ deg² candidate volume and same two guards as G9: the
    * super-connector cutoff engages only when hubs exist (and is
    * AA-principled — a hub's wedges each contribute ≤ 1/ln(maxDeg), the
    * least-valued mass in the score), and above the pair-work budget the
    * call reroutes to the banded-MinHash candidate twin below, whose
    * re-rank computes the SAME exact AA on the candidate pairs. As with
    * G9 (ADVICE r7), the reroute is surfaced via log and the SQL oracle's
    * hash check is only valid below the budget. */
  private[graft] def adamicAdarOf(e: DataFrame, k: Int,
      cacheKey: Option[String] = None,
      maxDeg: Int = 100000,
      maxPairWork: Long = 500000000L): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val nbrs = mirroredNbrs(e, cacheKey)
    val (nHubs, cappedWork) = pairWorkOf(nbrs, maxDeg)
    if (cappedWork > maxPairWork) {
      log.warn(s"g_adamic_adar: pair work $cappedWork exceeds budget " +
        s"$maxPairWork — rerouting to MinHash-LSH banded candidates " +
        "(probabilistic recall); exact-AA oracle parity does not hold " +
        "for this run")
      return adamicAdarLshOf(e, k, cacheKey)
    }
    val capped =
      if (nHubs == 0L) nbrs
      else {
        val hubs = nbrs.groupBy($"a").agg(count(lit(1)).as("d"))
          .filter($"d" > maxDeg).select($"a".as("nb"))
        nbrs.join(broadcast(hubs), Seq("nb"), "left_anti")
      }
    val deg = capped.groupBy($"a").agg(count(lit(1)).as("d"))
    // the shared neighbor's degree rides the arc row into the wedge join
    val arcs = capped.join(deg.select($"a".as("nb"), $"d".as("dnb")), "nb")
    arcs.as("x")
      .join(arcs.as("y"), $"x.nb" === $"y.nb" && $"x.a" < $"y.a")
      .groupBy($"x.a".as("pa"), $"y.a".as("pb"))
      .agg(count(lit(1)).as("n_common"),
        sum(round(lit(1.0) / org.apache.spark.sql.functions.log($"x.dnb"), 6)
          .cast("decimal(18,6)")).as("aas"))
      .withColumn("aa_score", round($"aas".cast("double"), 6))
      .select($"pa".as("part_a"), $"pb".as("part_b"), $"n_common", $"aa_score")
      .orderBy($"aa_score".desc, $"part_a", $"part_b")
      .limit(k)
  }

  // G13b — the SANCTIONED timed path for Adamic-Adar (r9, the G9b
  // precedent): the exact wedge join above is intrinsically Σ deg² —
  // at sf0.1 it sits just under the 5e8 budget and cost 23-45 s, the
  // bench's most expensive entry — so the bench times THIS banded
  // candidate twin (work = candidates + output) and the exact leg stays
  // the sf≤0.01 oracle-parity definition, exactly how G9/G9b split.
  def adamicAdarLsh(s: SparkSession, dir: String, k: Int = 20): DataFrame =
    adamicAdarLshOf(edgesUnsorted(s, dir), k, Some(s"nodesim-nbrs:$dir"))

  /** The 100 TB path for G13 (G9b's move, AA re-rank): banded-MinHash
    * candidates over neighbor sets, then the EXACT Adamic-Adar score on
    * each candidate pair — common neighbors from an in-row
    * array_intersect (bounded by degree), exploded and joined to the
    * degree frame for the 1/ln(d) weights. Work is candidates + output,
    * not Σ deg². What's probabilistic is recall (a high-overlap pair
    * escapes all 12 bands with prob (1−j²)¹²), not the scores. */
  private[graft] def adamicAdarLshOf(e: DataFrame, k: Int,
      cacheKey: Option[String] = None, nPerm: Int = 24, bandSize: Int = 2): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val nbrs = mirroredNbrs(e, cacheKey)
    val sets = {
      def build = nbrs.groupBy($"a")
        .agg(sort_array(collect_set($"nb")).as("ns"))
        .select($"a", $"ns")
      cacheKey.fold(build)(key => Caches.cached(s"$key:aasets")(build))
    }
    val sigs = {
      def build = Dedup.minhashBandSigs(
        nbrs.select($"a".as("doc_id"), $"nb".cast("string").as("s")), nPerm, bandSize)
      cacheKey.fold(build)(key => Caches.cached(s"$key:sigs:$nPerm:$bandSize")(build))
    }
    val deg = nbrs.groupBy($"a").agg(count(lit(1)).as("d"))
    val cand = sigs.as("x")
      .join(sigs.as("y"),
        $"x.band" === $"y.band" && $"x.sig" === $"y.sig" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("pa"), $"y.doc_id".as("pb"))
      .distinct()
    cand
      .join(sets.select($"a".as("pa"), $"ns".as("na")), "pa")
      .join(sets.select($"a".as("pb"), $"ns".as("nb2")), "pb")
      .select($"pa", $"pb", explode(array_intersect($"na", $"nb2")).as("z"))
      .join(deg.select($"a".as("z"), $"d".as("dz")), "z")
      .groupBy($"pa", $"pb")
      .agg(count(lit(1)).as("n_common"),
        sum(round(lit(1.0) / org.apache.spark.sql.functions.log($"dz"), 6)
          .cast("decimal(18,6)")).as("aas"))
      .withColumn("aa_score", round($"aas".cast("double"), 6))
      .select($"pa".as("part_a"), $"pb".as("part_b"), $"n_common", $"aa_score")
      .orderBy($"aa_score".desc, $"part_a", $"part_b")
      .limit(k)
  }

  /** Component sizes for an arbitrary canonical edge frame. */
  private[graft] def connectedComponentsOf(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val cc = graphOf(edges).connectedComponents().vertices
    s.createDataFrame(cc).toDF("part", "component")
      .groupBy($"component")
      .agg(count(lit(1)).as("size"))
      .orderBy($"size".desc, $"component")
  }

  // G6 — product communities: connected components + size (GraphX min-id
  // labels). Hash-matched since r6 via a min-label-propagation recursive
  // CTE oracle (labels only improve → UNION dedup drains at the fixpoint).
  def connectedComponents(s: SparkSession, dir: String): DataFrame =
    connectedComponentsOf(edgesUnsorted(s, dir))

  // G14 — k-core decomposition (Seidman 1983; Neo4j GDS gds.kcore): the
  // maximal subgraph where every node keeps ≥ k neighbors — the standard
  // "dense cohesive backbone vs peripheral fluff" cut for a co-purchase
  // graph. Computed by synchronous peeling: drop every node whose current
  // degree < k, recompute, repeat to fixpoint — order-independent, so the
  // result is a pure function of the edge list (and oracle-replayable).
  // Default k = 80 sits just under this corpus's phase transition (the
  // sf0.01 co-purchase graph peels 143 peripheral parts over 5 rounds and
  // keeps an 1857-node core; k = 85 cascades to empty — degree uniformity
  // means TPC-H cores are all-or-nothing, which is itself the point the
  // spec pins).
  def kCore(s: SparkSession, dir: String, k: Int = 80): DataFrame =
    kCoreOf(edgesUnsorted(s, dir), k)

  /** G14 core over an arbitrary canonical edge frame (fixture-testable).
    *
    * Delta-based peel: the arc frame is built once, persisted, and only
    * ever SCANNED — per round the peeled nodes' neighbors lose exactly
    * their arcs into the peeled set, so the node-degree frame (the only
    * state that mutates, node-sized) updates from one arcs⋈bad join +
    * aggregate, localCheckpoint truncating its lineage. The naive form
    * (rewrite + checkpoint the edge frame each round) paid an arc-sized
    * materialization per round — 44.8 s at sf1, where this pays
    * #rounds arc scans against a node-sized rewrite. At the fixpoint
    * the maintained degrees ARE the in-core degrees, so the output
    * needs no final arc pass. Rounds ≤ peel depth (corpus: 3–5);
    * `maxIters` bounds both the loop and the oracle's CTE replay. */
  private[graft] def kCoreOf(edges: DataFrame, k: Int, maxIters: Int = 20): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val ee = edges.select($"src", $"dst").filter($"src" =!= $"dst")
    val arcs = ee.select($"src".as("a"), $"dst".as("b"))
      .unionAll(ee.select($"dst".as("a"), $"src".as("b")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var deg = arcs.groupBy($"a").agg(count(lit(1)).as("d")).localCheckpoint()
      var it = 0
      var converged = false
      while (!converged && it < maxIters) {
        // r17: bad stays LAZY — it is a narrow filter over the already-
        // checkpointed degree frame (node-sized, no shuffle), so its
        // three consumers (emptiness probe, peel join, anti-join) re-run
        // a cheap scan instead of paying a materialization job per round
        val bad = deg.filter($"d" < k).select($"a")
        if (bad.isEmpty) converged = true
        else {
          // arcs OUT OF the peeled set, credited to the surviving endpoint
          // (AQE broadcasts the bad side while it is small)
          val delta = arcs.join(bad, "a")
            .groupBy($"b").agg(count(lit(1)).as("lost"))
          deg = deg.join(bad, Seq("a"), "left_anti")
            .join(delta.select($"b".as("a"), $"lost"), Seq("a"), "left")
            .select($"a", ($"d" - coalesce($"lost", lit(0L))).as("d"))
            .localCheckpoint()
          it += 1
        }
      }
      if (!converged)
        log.warn(s"g_kcore: peel did not reach fixpoint within $maxIters rounds" +
          " — result equals the oracle's bounded replay but is not the true core")
      deg.select($"a".as("part"), $"d".as("core_deg")).orderBy($"part")
    } finally arcs.unpersist()
  }

  /** Hop distances to landmarks for an arbitrary canonical edge frame —
    * frontier-iteration multi-source BFS (the recursive-CTE oracle
    * shape, run level-synchronously): seed each landmark (the smallest
    * nLandmarks node ids) at hop 0, then per level join the frontier
    * against the cached arc list and anti-join out (node, landmark)
    * pairs already labeled — BFS discovers each pair at its minimum hop,
    * so first discovery IS the distance. Each level is two keyed
    * shuffles of the FRONTIER (≤ V×L rows), never of the full distance
    * table; localCheckpoint truncates lineage per level (the
    * iterative-DataFrame pitfall). Levels run to the landmark
    * eccentricity (~3-4 on the co-purchase graph); `maxHops` bounds the
    * levels exactly as the oracle's `WHERE hops < maxHops` does, so
    * parity never depends on corpus eccentricity. Unreachable pairs emit
    * no row. Every structure is a flat keyed frame that spills under
    * pressure — no replicated per-vertex Map[landmark→dist] state. */
  private[graft] def shortestPathsOf(edges: DataFrame, nLandmarks: Int,
      maxHops: Int = 8): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val arcs = loopArcs(edges, withWeight = false)
    val landmarks = arcs.select($"src").distinct().as[Long]
      .orderBy($"src").limit(nLandmarks).collect().toSeq
    var dist = landmarks.toDF("part")
      .select($"part", $"part".as("landmark"), lit(0L).as("hops"))
      .localCheckpoint(eager = true)
    var frontier = dist
    var hop = 1L
    while (hop <= maxHops && !frontier.isEmpty) {
      val next = frontier.join(arcs, $"part" === $"src")
        .select($"dst".as("part"), $"landmark").distinct()
        .join(dist.select($"part", $"landmark"), Seq("part", "landmark"), "left_anti")
        .select($"part", $"landmark", Param(hop).as("hops"))
        .localCheckpoint(eager = true)
      dist = dist.unionAll(next).localCheckpoint(eager = true)
      frontier = next
      hop += 1
    }
    dist.orderBy($"part", $"landmark")
  }

  // G8 — hop distances to landmark products (the Cypher
  // shortestPath((a)-[*]-(b)) shape, batched over all nodes).
  def shortestPaths(s: SparkSession, dir: String, nLandmarks: Int = 3): DataFrame =
    shortestPathsOf(edgesUnsorted(s, dir), nLandmarks)

  // G15 — WEIGHTED shortest paths to the G8 landmarks (the Cypher
  // shortestPath with a cost accessor / GDS Dijkstra surface): traversal
  // cost of an edge is the integer inverse of its co-purchase weight
  // (heavily co-bought pairs are "close"), so the result ranks how
  // strongly each product is wired into a landmark's neighborhood, not
  // just how many hops away it sits. Computed as bounded-horizon
  // Bellman-Ford — `maxIter` synchronous relaxation rounds, the same
  // fixed-round contract as PageRank's 10 iterations: per round ONE
  // keyed join of the node-sized distance table against the cached arc
  // list and ONE min-aggregation (map-side combinable), localCheckpoint
  // truncating lineage. No per-vertex replicated maps — every structure
  // is a flat keyed frame that spills instead of dying. Costs are exact
  // BIGINTs (1e6 div w): min() over integers is order-independent, so
  // the fixed-horizon result is a pure function of the edge list and
  // hash-matches a recursive-CTE replay of the same rounds.
  def weightedPaths(s: SparkSession, dir: String, nLandmarks: Int = 3,
      maxIter: Int = 6): DataFrame = {
    import s.implicits._
    weightedPathsOf(edgesUnsorted(s, dir), nLandmarks, maxIter)
      .orderBy($"landmark", $"part")
  }

  private[graft] def weightedPathsOf(edges: DataFrame, nLandmarks: Int,
      maxIter: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val cost = expr("cast(1000000 as bigint) div weight")
    // src-partitioned (r9): each of the maxIter relaxation rounds joins
    // on src — the checkpointed layout turns those into frontier-only
    // shuffles instead of re-exchanging 2|E| arcs per round
    val arcs = partitionedCheckpoint(
      edges.select($"src", $"dst", cost.as("cost"))
        .unionAll(edges.select($"dst".as("src"), $"src".as("dst"), cost.as("cost"))),
      "src", sorted = true)
    // same landmark choice as G8: smallest nLandmarks node ids
    val landmarks = arcs.select($"src").distinct().as[Long]
      .orderBy($"src").limit(nLandmarks).collect().toSeq
    var dist = landmarks.toDF("landmark")
      .select($"landmark", $"landmark".as("part"), lit(0L).as("wcost"))
      .localCheckpoint(eager = true)
    for (_ <- 1 to maxIter) {
      val relaxed = dist.join(arcs, dist("part") === arcs("src"))
        .select(dist("landmark"), arcs("dst").as("part"),
          (dist("wcost") + arcs("cost")).as("wcost"))
      dist = dist.unionAll(relaxed)
        .groupBy($"landmark", $"part").agg(min($"wcost").as("wcost"))
        .localCheckpoint(eager = true)
    }
    dist
  }

  // G19 — sampled-source betweenness centrality (Brandes 2001; Neo4j GDS
  // gds.betweenness with samplingSize): how often a product sits ON the
  // shortest co-purchase routes between others — the brokerage score
  // degree and PageRank can't see (a low-degree node bridging two dense
  // regions outranks a clique member). Exact Brandes is all-sources
  // (O(V·E) — a non-starter at 100 TB); the standard estimator runs the
  // source loop over a sample, and here the sample is DETERMINISTIC
  // (the nSources smallest node ids — G8's landmark convention) with a
  // bounded horizon (maxDepth hops, G15's fixed-round contract), so the
  // result is a pure function of the edge list and replays in SQL.
  def betweenness(s: SparkSession, dir: String, nSources: Int = 3,
      maxDepth: Int = 8): DataFrame = {
    import s.implicits._
    betweennessOf(edgesUnsorted(s, dir), nSources, maxDepth)
      .orderBy($"bc".desc, $"part")
      .limit(20)
  }

  /** G19 core over an arbitrary canonical edge frame (fixture-testable).
    *
    * Two passes of level-synchronous frontier iteration, both shuffling
    * only level-sized frames against the ONE pre-partitioned arc
    * checkpoint (the pprOf discipline):
    *
    *  - FORWARD (the shortestPathsOf shape + path counts): per level,
    *    frontier rows (source, v, σ) join the arcs, aggregate
    *    σ(dst) = Σ σ(pred) with map-side combine, anti-join out nodes
    *    already labeled. BFS discovers each (source, node) at its
    *    minimum hop, and every predecessor row in the frontier carries
    *    the TRUE σ (induction on levels), so σ counts exactly the
    *    shortest paths. σ is BIGINT — exact, order-independent
    *    (σ grows ≤ deg per level; the horizon bounds it ≪ 2^63 at the
    *    corpus's ~222 max degree and 3-4 hop eccentricity).
    *  - BACKWARD (dependency accumulation): δ(v) = Σ_{succ w}
    *    σ(v)/σ(w)·(1+δ(w)), run from the deepest level up; each round
    *    joins the (level+1) delta frame through the arcs to the level's
    *    σ rows. Per (source, v) the δ sum is a double aggregation —
    *    G5's 6dp-absorbed association-order class; ACROSS sources each
    *    δ rounds to 6dp and sums as DECIMAL(18,6) (order-independent,
    *    the V8 discipline), so the cross-source total is exact given
    *    the per-source values.
    *
    * bc(v) = Σ_{s ∈ sample, s ≠ v} δ_s(v) — the raw sampled-source
    * Brandes sum (GDS's samplingSize semantics; no n/|S| extrapolation,
    * so the number is comparable across runs with the same sample). */
  private[graft] def betweennessOf(edges: DataFrame, nSources: Int,
      maxDepth: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val arcs = loopArcs(edges, withWeight = false)
    val sources = arcs.select($"src").distinct().as[Long]
      .orderBy($"src").limit(nSources).collect().toSeq
    // ---- forward: levels with shortest-path counts
    var frontier = sources.toDF("s")
      .select($"s", $"s".as("v"), lit(1L).as("sigma"), lit(0).as("dist"))
      .localCheckpoint(eager = true)
    var levels = Vector(frontier)
    var visited = frontier.select($"s", $"v").localCheckpoint(eager = true)
    var d = 1
    var frontierEmpty = false // seed frontier is non-empty by construction
    while (d <= maxDepth && !frontierEmpty) {
      val next = frontier.join(arcs, $"v" === $"src")
        .groupBy($"s", $"dst").agg(sum($"sigma").as("sigma"))
        .select($"s", $"dst".as("v"), $"sigma")
        .join(visited, Seq("s", "v"), "left_anti")
        .select($"s", $"v", $"sigma", Param(d).as("dist"))
        .localCheckpoint(eager = true)
      // r17: one emptiness probe per level, not two — the old loop asked
      // isEmpty here AND again at the while-condition on the same frame
      frontierEmpty = next.isEmpty
      if (!frontierEmpty) {
        levels = levels :+ next
        visited = visited.unionAll(next.select($"s", $"v"))
          .localCheckpoint(eager = true)
      }
      frontier = next
      d += 1
    }
    // ---- backward: dependency accumulation, deepest level first
    val maxLev = levels.length - 1
    var deltas = levels(maxLev)
      .select($"s", $"v", $"sigma", lit(0.0).as("delta"))
      .localCheckpoint(eager = true)
    var acc = deltas
    for (lev <- (maxLev - 1) to 0 by -1) {
      // predecessors of w: the arcs INTO w — but the frame is MIRRORED
      // (loopArcs), so {src = w}.dst is the identical neighbor set as
      // {dst = w}.src. Joining on src (r10, VERDICT r9 #3) rides the
      // checkpoint's hashpartitioning(src): only the level-sized delta
      // frame shuffles, where the dst-keyed join re-exchanged all 2|E|
      // arcs at EVERY backward level (the bulk of the 349 s sf10 cost).
      // r18: 3 joins/level → 2. The old backward level inner-joined the
      // contributions onto levels(lev) and then LEFT-joined the result
      // back onto levels(lev) to backfill delta = 0 rows. The backfill
      // now rides the SAME aggregation as a union of zero terms: every
      // real term is strictly positive (σ, σw ≥ 1, δw ≥ 0), and IEEE
      // x + 0.0 == x for finite x ≥ 0, so summing {0.0} ∪ terms in any
      // partial order is bit-identical to coalesce(Σ terms, 0.0); σ is
      // an exact BIGINT equal on every row of a (s, v) group, so
      // max(σ) ≡ the joined σ. One (s, v)-keyed join removed per level.
      val terms = deltas // rows at lev+1: (s, w, σw, δw)
        .select($"s", $"v".as("w"), $"sigma".as("sw"), $"delta".as("dw"))
        .join(arcs, $"w" === $"src")
        .select($"s", $"dst".as("v"), $"sw", $"dw")
        .join(levels(lev).select($"s", $"v", $"sigma"), Seq("s", "v"))
        .select($"s", $"v", $"sigma",
          ($"sigma".cast("double") / $"sw".cast("double") *
            (lit(1.0) + $"dw")).as("term"))
      deltas = levels(lev)
        .select($"s", $"v", $"sigma", lit(0.0).as("term"))
        .unionAll(terms)
        .groupBy($"s", $"v")
        .agg(max($"sigma").as("sigma"), sum($"term").as("delta"))
        .select($"s", $"v", $"sigma", $"delta")
        .localCheckpoint(eager = true)
      acc = acc.unionAll(deltas)
    }
    acc.filter($"v" =!= $"s")
      .groupBy($"v")
      .agg(sum(round($"delta", 6).cast("decimal(18,6)")).as("bcs"))
      .select($"v".as("part"), round($"bcs".cast("double"), 6).as("bc"))
  }

  // G20 — landmark closeness centrality (Bavelas 1950; GDS gds.closeness):
  // how near a product sits to everything else, estimated against G8's
  // deterministic landmark set (exact closeness is all-pairs — the same
  // sampling argument as G19). Emits BOTH the classic ratio
  // n_reached/Σd (0 when isolated — no row) and harmonic closeness
  // Σ 1/d (Boldi-Vigna's recommendation for disconnected graphs, where
  // the classic ratio misbehaves). Harmonic terms round to 6dp and sum
  // as DECIMAL — order-independent, engine-identical; the ratio is one
  // division of exact BIGINTs. Reuses the G8 BFS verbatim, so the
  // scan work is shared with g_shortest_paths under the session cache.
  def closeness(s: SparkSession, dir: String, nLandmarks: Int = 3): DataFrame =
    closenessOf(edgesUnsorted(s, dir), nLandmarks)

  /** G20 core over an arbitrary canonical edge frame (fixture-testable). */
  private[graft] def closenessOf(edges: DataFrame, nLandmarks: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val d = shortestPathsOf(edges, nLandmarks)
    d.filter($"hops" > 0)
      .groupBy($"part")
      .agg(count(lit(1)).as("n_reached"), sum($"hops").as("sum_hops"),
        sum(round(lit(1.0) / $"hops", 6).cast("decimal(18,6)")).as("hsum"))
      .select($"part", $"n_reached",
        round($"n_reached".cast("double") / $"sum_hops", 6).as("closeness"),
        round($"hsum".cast("double"), 6).as("harmonic"))
      .orderBy($"part")
  }

  /** GraphX leg of G7 — kept for the regime where the replicated
    * per-vertex neighbor sets fit memory (see triangleCountOf's gate). */
  private[graft] def triangleCountGraphX(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val tc = graphOf(edges)
      .partitionBy(PartitionStrategy.RandomVertexCut)
      .triangleCount().vertices
      .mapValues(_.toLong)
    s.createDataFrame(tc).toDF("part", "triangles")
      .orderBy($"part")
  }

  /** DataFrame leg of G7 — the compact-forward / degree-oriented exact
    * triangle count (Latapy 2008, the standard external-memory-friendly
    * formulation): orient every canonical edge from its (deg, id)-smaller
    * endpoint, enumerate out-wedges at each triangle's unique order-
    * minimum apex, close them against the canonical edge set. Degree
    * orientation bounds out-degrees by ~√(2m) on any graph (d/2 on
    * uniform ones), so wedge volume is Σ C(outdeg,2) streaming through
    * an ordinary keyed shuffle join — it SPILLS under pressure instead
    * of dying: GraphX's replicated VertexSets OOM'd a 64 GiB JVM on the
    * sf10 co-purchase graph (dense uniform deg ≈ 222, replication ≈
    * partition count) where this plan completes. */
  private[graft] def triangleCountDF(edges: DataFrame,
      cacheKey: Option[String] = None): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val arcs = edges.select($"src", $"dst")
      .unionAll(edges.select($"dst".as("src"), $"src".as("dst")))
    val deg = arcs.groupBy($"src".as("n")).agg(count(lit(1)).as("d"))
    val fwd = $"ds" < $"dd" || ($"ds" === $"dd" && $"src" < $"dst")
    // orient feeds BOTH wedge self-join sides — persist it (SURVEY §5
    // self-join discipline) so the two deg joins run once, not per side
    val orient = {
      def build = edges
        .join(deg.select($"n".as("src"), $"d".as("ds")), "src")
        .join(deg.select($"n".as("dst"), $"d".as("dd")), "dst")
        .select(when(fwd, $"src").otherwise($"dst").as("u"),
          when(fwd, $"dst").otherwise($"src").as("w"))
      cacheKey.fold(build)(key => Caches.cached(s"$key:orient")(build))
    }
    // wedge pair key keeps ID order so it joins the canonical (src<dst)
    // edge list directly; the apex u is the triangle's (deg,id) minimum,
    // so each triangle materializes exactly once
    val tri = orient.as("x")
      .join(orient.as("y"), $"x.u" === $"y.u" && $"x.w" < $"y.w")
      .select($"x.u".as("tu"), $"x.w".as("tv"), $"y.w".as("tw"))
      .join(edges, $"tv" === $"src" && $"tw" === $"dst")
      .select($"tu", $"tv", $"tw")
    val perNode = tri
      .select(explode(array($"tu", $"tv", $"tw")).as("part"))
      .groupBy($"part").agg(count(lit(1)).as("triangles"))
    arcs.select($"src".as("part")).distinct()
      .join(perNode, Seq("part"), "left")
      .select($"part", coalesce($"triangles", lit(0L)).as("triangles"))
      .orderBy($"part")
  }

  /** G7 core with the same gate discipline as node similarity: the two
    * legs are result-identical (fixture spec pins it), so the choice is
    * purely a memory regime. GraphX replicates each vertex's neighbor
    * SET to every edge partition that touches it; measured on the
    * co-purchase graph (r7): fatal at 12M canonical edges in a 16 GiB
    * JVM and at 120M edges in 64 GiB, while it wins over the DF leg
    * whenever it does fit (34 s vs 46 s at 12M edges / 64 GiB). The
    * default bound keeps a DEFAULT-8-GiB JVM safe (sf0.1's 1.2M edges
    * pass everywhere; 2.5× that as margin); deployments with 64 GiB
    * executors can raise it ~10× (12M measured good). Above the bound
    * the DF plan completes by spilling — 46 s at 12M edges in 16 GiB
    * where GraphX is context-fatal; at 120M dense edges its ~10B wedge
    * shuffle runs long but finishes, which is what exact per-node
    * counts cost there (an edge-sampling estimator is the cheap
    * alternative if ±ε suffices). The gate counts canonical edges
    * (`edgeRows`). */
  private[graft] def triangleCountOf(edges: DataFrame,
      cacheKey: Option[String] = None,
      maxGraphXEdges: Long = 3000000L): DataFrame = {
    if (edgeRows(edges) > maxGraphXEdges) triangleCountDF(edges, cacheKey)
    else triangleCountGraphX(edges)
  }

  // G7 — per-node triangle counts (clustering structure; GraphSpec
  // asserts exact counts on a planted fixture graph and that both legs
  // agree there).
  def triangleCount(s: SparkSession, dir: String): DataFrame =
    triangleCountOf(edgesUnsorted(s, dir), Some(s"tri-edges:$dir"))

  /** G7b — DOULION edge-sampled triangle estimate (Tsourakakis et al.,
    * KDD 2009): keep each canonical edge with probability `p` by a
    * deterministic md5 draw, count exactly on the sampled graph, scale
    * by 1/p³ (a triangle survives iff all three edges do). The ±ε
    * answer for graphs where even the compact-forward exact leg is too
    * slow — sf10's ~10B-wedge volume drops by p³ (8× fewer at p=0.5)
    * while the estimator stays unbiased per node. Deterministic
    * sampling ⇒ same estimate on any cluster, any partitioning; p=1 is
    * the exact count (spec pins both, plus the error band on a dense
    * fixture). Nodes whose every edge was dropped emit no row. */
  def triangleCountSampled(edges: DataFrame, p: Double): DataFrame = {
    require(p > 0.0 && p <= 1.0, s"sampling probability $p outside (0,1]")
    val s = edges.sparkSession
    import s.implicits._
    val keep = edges.filter(
      graft.operators.TextOps.h64(
        concat(lit("tri:"), $"src", lit(":"), $"dst")) % 1000000L
        < math.round(p * 1000000).toLong)
    triangleCountDF(keep)
      .select($"part",
        round($"triangles" / (p * p * p)).cast("long").as("triangles_est"))
  }

  // G10 — "also bought" recommendations as association rules over the
  // co-purchase graph (the market-basket classic — Agrawal & Srikant
  // 1994's measures, computed directly on G1's edge list rather than
  // via frequent-itemset mining since the pairs already exist):
  //   support(a,b)    = w(a,b) / N        N = orders with ≥1 item
  //   confidence(a→b) = w(a,b) / n(a)     n(x) = orders containing x
  //   lift(a→b)       = w·N / (n(a)·n(b))
  // top-k consequents per antecedent by (lift desc, dst). Shapes: edges
  // mirror once (rules are directional), the item-order counts join rides
  // the product key, N is a single-row broadcast, and the per-antecedent
  // top-k window partitions by product — bounded by co-purchase degree,
  // never a whole-corpus group. Floats: lift = one IEEE division of two
  // exact BIGINT products, rounded to 6dp, and the ranking orders by the
  // ROUNDED value (+ dst tiebreak) so both engines break ties identically.
  def alsoBought(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val lp = Tables.lineitem(s, dir)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    val nOrders = lp.agg(countDistinct($"ok").as("n_orders"))
    val itemCnt = lp.groupBy($"pk").agg(count(lit(1)).as("n_ord"))
    val e = edgesUnsorted(s, dir)
    val rules = e.select($"src", $"dst", $"weight")
      .unionAll(e.select($"dst".as("src"), $"src".as("dst"), $"weight"))
    rules
      .join(itemCnt.select($"pk".as("src"), $"n_ord".as("n_src")), "src")
      .join(itemCnt.select($"pk".as("dst"), $"n_ord".as("n_dst")), "dst")
      .crossJoin(broadcast(nOrders))
      .withColumn("support", round($"weight".cast("double") / $"n_orders", 6))
      .withColumn("confidence", round($"weight".cast("double") / $"n_src", 6))
      .withColumn("lift", round(($"weight" * $"n_orders").cast("double")
        / ($"n_src" * $"n_dst").cast("double"), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"src").orderBy($"lift".desc, $"dst")).cast("long"))
      .filter($"rk" <= k)
      .select($"src", $"dst", $"weight", $"support", $"confidence", $"lift", $"rk")
      .orderBy($"src", $"rk")
  }

  /** `df` hash-partitioned by `c` into `spark.sql.shuffle.partitions`
    * partitions and checkpointed with that layout recorded, so a join or
    * aggregation on `c` planned later (AQE on) reuses it: no Exchange on
    * this side, only the other side shuffles (PlanInvariantSpec pins it).
    * With `sorted`, each partition is also sorted by `c` and the recorded
    * ordering drops the Sort a SortMergeJoin would put on this side. The
    * sort runs over the same rows in the same order as that per-join
    * Sort, so downstream results are bit-identical; only frames consumed
    * by key joins or exact aggregations opt in, while per-round state
    * frames stay unsorted so double sums over them keep their order. No
    * session, conf or catalog side effects (`GraftCheckpoint`). */
  private[graft] def partitionedCheckpoint(df: DataFrame, c: String,
      sorted: Boolean = false): DataFrame = {
    val rep = df.repartition(col(c))
    GraftCheckpoint.localCheckpoint(if (sorted) rep.sortWithinPartitions(col(c)) else rep)
  }

  /** Mirrored arc frame for the iterative-DF loops, src-partitioned via
    * partitionedCheckpoint: every per-round equi-join on src reuses the
    * layout and shuffles ONLY the node-sized state frame — the loop's
    * scale contract. */
  private[graft] def loopArcs(edges: DataFrame, withWeight: Boolean): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val base =
      if (withWeight) edges.select($"src", $"dst", $"weight")
        .unionAll(edges.select($"dst".as("src"), $"src".as("dst"), $"weight"))
      else edges.select($"src", $"dst")
        .unionAll(edges.select($"dst".as("src"), $"src".as("dst")))
    partitionedCheckpoint(base, "src", sorted = true)
  }

  /** Synchronous weighted label propagation (Raghavan et al. 2007's LPA,
    * made deterministic): every node starts as its own label; each round,
    * every node adopts the label with the largest incident edge-weight
    * mass among its neighbors, ties broken by the SMALLEST label. Fixed
    * round count + deterministic tie-break = a pure function of the edge
    * list (the async/random variant converges faster but is a coin flip —
    * useless for an auditable pipeline or a SQL oracle). Per round: one
    * join of the label table against the cached mirrored arcs, one
    * (node, label) count-sum with map-side partials, and a per-node
    * argmax window whose groups are bounded by the node's distinct
    * neighbor-label count (≤ degree) — never a whole-graph group.
    * localCheckpoint truncates lineage like the PageRank loop. Votes are
    * BIGINT weight sums — no float drift between engines.
    *
    * The arc frame is repartitioned by `src` BEFORE the checkpoint (the
    * pprOf/hitsOf join-order lesson): every per-round join then reuses
    * that hashpartitioning and shuffles only the node-sized label frame,
    * never the 2|E| mirrored arcs (at sf10 that per-round arc shuffle
    * was 240M rows × 5 rounds — the r8 bench's heavy tail). The argmax
    * is a hash AGGREGATION, not a sort window: min(struct(-vote, lbl))
    * has the identical (vote DESC, lbl ASC) ordering but combines
    * map-side, so the second shuffle carries one row per (dst, lbl)
    * rather than sorting whole per-node vote groups. */
  private[graft] def communitiesOf(edges: DataFrame, iters: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val arcs = loopArcs(edges, withWeight = true)
    var labels = arcs.select($"src".as("v")).distinct()
      .select($"v", $"v".as("lbl")).localCheckpoint(eager = true)
    // checkpoint every SECOND round: the label frame is consumed exactly
    // once per round (the next vote join), so chaining two rounds into
    // one lazy plan is bit-identical and drops one node-sized
    // materialization job per skipped round. Plan depth is bounded at two
    // rounds per checkpoint, so neither planning time nor the
    // checkpoint-stats compounding hazard (checkpointFlat scaladoc: it
    // needs state referenced >1× per round to bite) can grow.
    for (i <- 0 until iters) {
      val votes = arcs.join(labels, $"src" === $"v")
        .groupBy($"dst", $"lbl").agg(sum($"weight").as("vote"))
      labels = votes
        .groupBy($"dst")
        .agg(min(struct((-$"vote").as("nv"), $"lbl".as("lbl"))).as("m"))
        .select($"dst".as("v"), $"m.lbl".as("lbl"))
      if (i % 2 == 1 || i == iters - 1)
        labels = labels.localCheckpoint(eager = true)
    }
    labels
  }

  // G11 — co-purchase communities via deterministic synchronous LPA
  // (the modularity-free community primitive next to G6's connectivity:
  // CC answers "reachable at all", LPA answers "densely co-purchased").
  // Reference scope: the Neo4j product graph is the natural home of a
  // community query (neo4j_service.py builds the graph; GDS labelPropagation
  // is the standard call on such a store).
  // One leg, communitiesOf's checkpointed-DF loop: labels are a pure
  // function of (edges, iters).
  def communities(s: SparkSession, dir: String, iters: Int = 5): DataFrame = {
    import s.implicits._
    communitiesOf(edgesUnsorted(s, dir), iters)
      .select($"v".as("part"), $"lbl".as("community"))
      .orderBy($"part")
  }

  /** G12 core on any canonical edge list + owned-item set: mirror the
    * edges (recommendation mass flows both ways), keep arcs leaving the
    * owned set, drop candidates already owned (left_anti), and score each
    * candidate by its total co-purchase weight into the owned set. */
  private[graft] def recommendOn(edges: DataFrame, owned: DataFrame,
      k: Int): DataFrame = {
    import edges.sparkSession.implicits._
    val arcs = edges.select($"src", $"dst", $"weight")
      .unionAll(edges.select($"dst".as("src"), $"src".as("dst"), $"weight"))
    arcs.join(broadcast(owned), arcs("src") === owned("pk")).drop("pk")
      .join(broadcast(owned.select($"pk".as("dst"))), Seq("dst"), "left_anti")
      .groupBy($"dst")
      .agg(sum($"weight").as("score"), count(lit(1)).as("n_links"))
      .select($"dst".as("part"), $"score", $"n_links")
      .orderBy($"score".desc, $"part")
      .limit(k)
  }

  // G12 — personalized recommendations for ONE customer: candidates =
  // parts co-purchased with anything in the customer's order history,
  // minus the history itself; score = total co-purchase weight into the
  // history (classic item-based collaborative filtering — Sarwar et al.
  // 2001 — with co-occurrence counts as the item-item similarity; G10 is
  // the global rule table, this is its per-user application; reference:
  // the agent's product-suggestion surface over the Neo4j graph +
  // db_service.py:155 order history). Shapes: the owned set is one
  // customer's history ⇒ broadcast on both sides (semi + anti), so the
  // only shuffle is the candidate groupBy — bounded by the history's
  // co-purchase degree sum, never corpus-wide. Scores are exact BIGINT
  // sums: no float to disagree with the oracle on.
  def recommendForUser(s: SparkSession, dir: String,
      custKey: Long = 1L, k: Int = 10): DataFrame = {
    import s.implicits._
    val owned = Tables.orders(s, dir).filter($"o_custkey" === custKey)
      .join(Tables.lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
      .select($"l_partkey".as("pk")).distinct()
    recommendOn(edgesUnsorted(s, dir), owned, k)
  }

  /** PPR core over an arbitrary canonical edge frame and a seed-id frame
    * (`pk` rows): r ← 0.15·pv + 0.85·Σ r_u/deg(u), where the
    * personalization vector pv puts 1/|S| on each in-graph seed and 0
    * elsewhere — teleport mass returns to the SEED SET, not uniformly, so
    * rank measures topology-weighted proximity to the seeds. Fixed
    * synchronous rounds (G5's contract) ⇒ the result is a pure function
    * of (edges, seeds) and replays as a recursive CTE. Per iteration: one
    * shuffle of the node-sized rank frame against the cached
    * degree-annotated arc list, localCheckpoint lineage truncation. |S|
    * is the one driver scalar (a count — the k-means-centroid argument);
    * 1.0/|S| and 0.15·pv are single IEEE divisions/products written
    * identically by the oracle. */
  private[graft] def pprOf(edges: DataFrame, seedIds: DataFrame,
      iters: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val arcs = edges.select($"src", $"dst")
      .unionAll(edges.select($"dst".as("src"), $"src".as("dst")))
    val deg = arcs.groupBy($"src").agg(count(lit(1)).as("deg"))
    val seeds = deg.select($"src".as("v"))
      .join(broadcast(seedIds.select($"pk".as("v"))), Seq("v"), "semi")
      .localCheckpoint(eager = true)
    val nSeeds = seeds.count()
    if (nSeeds == 0) // no in-graph seed (or empty graph): empty relation,
      return deg.select($"src".as("part"), lit(0.0).as("ppr")).limit(0)
    val pv = 1.0 / nSeeds
    val verts = deg.select($"src".as("v"))
      .join(seeds.withColumn("sd", lit(true)), Seq("v"), "left")
      .select($"v", when($"sd", lit(pv)).otherwise(lit(0.0)).as("pv"))
      .localCheckpoint(eager = true)
    // Per round: ONE keyed join + ONE narrow-key agg + a BROADCAST
    // teleport attach. The teleport term 0.15·pv is nonzero only on the
    // seed set (≈ one customer's parts), so it never needs a vertex-wide
    // join or a widened group key — the tiny seed frame broadcasts and
    // the add happens map-side. Bitwise identical to the oracle's
    // 0.15·pv + 0.85·Σ: non-seeds compute 0.15·0.0 + x ≡ 0.0 + x there
    // and coalesce(null→0.0) + x here — the same IEEE sum. Every vertex
    // of the mirrored graph has in-arcs, so the message agg covers the
    // whole vertex set each round (no left-join backfill). The arc
    // frame goes through partitionedCheckpoint (r9: a bare
    // localCheckpoint under AQE records UnknownPartitioning and every
    // round re-shuffled the arcs — the join-order comment here used to
    // claim otherwise) so per-round joins shuffle only the node-sized
    // rank frame. rdeg = 1.0/deg is PRECOMPUTED on the arc frame (r9,
    // ADVICE r8): the oracle's darcs carries rdeg = 1.0/COUNT(...) and
    // sums r * rdeg, so the loop below multiplies by the same
    // reciprocal — term-for-term IEEE-identical, no division-vs-
    // reciprocal ulp gap (and one divide per arc per round becomes a
    // multiply).
    val arcsD = partitionedCheckpoint(
      arcs.join(deg, "src")
        .select($"src", $"dst", (lit(1.0) / $"deg").as("rdeg")), "src",
      sorted = true)
    val tp = 0.15 * pv // one IEEE product, the oracle's 0.15 * pv.pv
    val seedTp = seeds.select($"v".as("dst"), lit(tp).as("tp"))
    var ranks = verts.select($"v", $"pv".as("rank"))
      .localCheckpoint(eager = true)
    // r17: rank state is consumed once per round, so checkpoint every
    // SECOND round (the communitiesOf cadence argument) — bit-identical,
    // one node-sized materialization job saved per skipped round.
    for (i <- 0 until iters) {
      ranks = arcsD.join(ranks, $"src" === $"v")
        .groupBy($"dst")
        .agg(sum($"rank" * $"rdeg").as("msg"))
        .join(broadcast(seedTp), Seq("dst"), "left")
        .select($"dst".as("v"),
          (coalesce($"tp", lit(0.0)) + lit(0.85) * $"msg").as("rank"))
      if (i % 2 == 1 || i == iters - 1)
        ranks = ranks.localCheckpoint(eager = true)
    }
    ranks.select($"v".as("part"), round($"rank", 6).as("ppr"))
  }

  /** GraphX aggregateMessages twin of pprOf (r9): PPR is PageRank with
    * a seed-biased teleport — primitive-double messages, ONE
    * send/reduce per round — exactly the regime where GraphX beats the
    * checkpointed-DF loop (the r9 control measurement: PageRank GX
    * 16.5 s vs DF 25.9 s at sf1, 77-104 s vs 326 s at sf10). Identical
    * update arithmetic: edge attr rdeg = 1.0/deg(src), vertex update
    * tp + 0.85·Σ(rank·rdeg) with tp = 0.15·pv folded once (the pprOf
    * broadcast-teleport shape — the seed set rides a broadcast
    * variable, bounded at one customer's parts). Differs from the DF
    * leg only in fp association order — G5's 6dp-absorbed class
    * (GraphSpec pins leg identity). */
  private[graft] def pprGX(edges: DataFrame, seedIds: DataFrame,
      iters: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val seedSet = seedIds.select($"pk").as[Long].collect().toSet
    val g = graphOf(edges)
    val bSeeds = s.sparkContext.broadcast(seedSet)
    val nSeeds = g.vertices.filter { case (vid, _) => bSeeds.value(vid) }.count()
    if (nSeeds == 0)
      return Seq.empty[(Long, Double)].toDF("part", "ppr")
    val pv = 1.0 / nSeeds
    val tp = 0.15 * pv // one IEEE product, the pprOf/oracle shape
    var rank: Graph[Double, Double] = g
      .outerJoinVertices(g.outDegrees) { (_, _, d) => d.getOrElse(0) }
      .mapTriplets(e => 1.0 / e.srcAttr,
        org.apache.spark.graphx.TripletFields.Src)
      .mapVertices((vid, _) => if (bSeeds.value(vid)) pv else 0.0)
    rank.cache()
    for (_ <- 0 until iters) {
      val msgs = rank.aggregateMessages[Double](
        ctx => ctx.sendToDst(ctx.srcAttr * ctx.attr), _ + _,
        org.apache.spark.graphx.TripletFields.Src)
      val prev = rank
      rank = rank.outerJoinVertices(msgs) { (vid, _, m) =>
        (if (bSeeds.value(vid)) tp else 0.0) + 0.85 * m.getOrElse(0.0)
      }.cache()
      rank.edges.foreachPartition(_ => ()) // materialize before unpersist
      prev.unpersistVertices(blocking = false)
      prev.edges.unpersist(blocking = false)
    }
    s.createDataFrame(rank.vertices).toDF("part", "raw")
      .select($"part", round($"raw", 6).as("ppr"))
  }

  /** Gate for G16 (r9): GraphX in the primitive-message at-memory
    * regime (the default budget admits sf10), the checkpointed-DF loop
    * beyond it (spills instead of dying). Legs 6dp-identical. */
  private[graft] def pprGated(edges: DataFrame, seedIds: DataFrame,
      iters: Int, maxGraphXEdges: Long = 150000000L): DataFrame = {
    if (edgeRows(edges) > maxGraphXEdges) pprOf(edges, seedIds, iters)
    else pprGX(edges, seedIds, iters)
  }

  /** Walk core over a canonical edge frame: `nWalks` DETERMINISTIC
    * uniform random walks of `steps` hops from every vertex. "Random"
    * = at each hop pick the r-th smallest neighbor, r = md5-derived
    * h64(start, walk, step) mod degree — a uniform choice that is a
    * pure FUNCTION of the graph (TextOps.h64, the repo's replay
    * convention), so the corpus hash-matches a recursive-CTE replay and
    * re-runs are reproducible without seeds-in-files.
    *
    * INDEXED SELECTION, not candidate scoring (r9): the r8 form hashed
    * every (walk, neighbor) pair and aggregated an argmin — |frontier|
    * × deg rows of md5 per hop (888M at sf10 — the measured 355 s
    * bound was hashing, not shuffling). Picking by index needs ONE
    * hash per (walk, step) and ZERO candidate expansion: the frontier
    * joins the per-node sorted adjacency array (src-partitioned, built
    * once beside the arcs) and `element_at` reads the chosen neighbor
    * in place. Per hop: one frontier-sized shuffle, |frontier| hashes.
    * A pathological hub's array is one long row (degree-bounded, same
    * bound the old expansion paid deg times over). localCheckpoint per
    * hop (iterative-DF discipline). */
  private[graft] def randomWalksOf(edges: DataFrame, nWalks: Int,
      steps: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    // r17: the mirrored arc frame is consumed ONCE (building adj), so the
    // loopArcs checkpoint bought no reuse — one arc-sized materialization
    // + exchange removed; the adjacency checkpoint is the loop's layout.
    val base = edges.select($"src", $"dst")
      .unionAll(edges.select($"dst".as("src"), $"src".as("dst")))
    // sorted adjacency arrays, partitioned like the arcs: the per-hop
    // join shuffles only the frontier
    val adj = partitionedCheckpoint(
      base.groupBy($"src")
        .agg(sort_array(collect_list($"dst")).as("nbrs"),
          count(lit(1)).as("deg")), "src", sorted = true)
    val verts = adj.select($"src".as("v"))
    var cur = verts
      .select($"v".as("start"),
        explode(sequence(lit(0), lit(nWalks - 1))).as("walk"),
        lit(0).as("step"), $"v".as("node"))
      .select($"start", $"walk".cast("long").as("walk"), $"step", $"node")
      .localCheckpoint(eager = true)
    var acc = cur
    for (st <- 1 to steps) {
      cur = cur.join(adj, $"node" === $"src")
        .withColumn("r", graft.operators.TextOps.h64(concat(
          lit("w:"), $"start".cast("string"), lit(":"),
          $"walk".cast("string"), lit(":"), lit(st).cast("string"))) % $"deg")
        .select($"start", $"walk", lit(st).as("step"),
          element_at($"nbrs", ($"r" + 1).cast("int")).as("node"))
        .localCheckpoint(eager = true)
      acc = acc.unionByName(cur)
    }
    acc
  }

  /** G18b core — node2vec SECOND-ORDER biased walks (Grover & Leskovec
    * 2016, p/q ≠ 1): the transition out of `node` depends on the
    * PREVIOUS hop, so the frontier row carries `prev` and each
    * candidate neighbor is classed return (dst = prev, weight 1/p),
    * common (dst ∈ N(prev), weight 1) or outward (weight 1/q). The
    * class weights arrive as INTEGERS (wReturn, wCommon, wOut) — any
    * common scaling of (1/p, 1, 1/q) — so the whole choice stays in
    * BIGINT: the picked neighbor is the one whose cumulative-weight
    * interval [cum−w, cum) over the dst-ordered candidates contains
    * r = h64(start, walk, step) mod Σw. That is EXACTLY proportional
    * sampling (r is a uniform function of the walk coordinates) with
    * none of the ln/pow transcendentals an exponential-race argmin
    * would need — which is what keeps the DuckDB replay bit-identical
    * (libm ulp differences can flip an argmin; integer compares
    * cannot). Dead ends (a pendant reached with wReturn = 0 ⇒ Σw = 0)
    * fall back to uniform weights — the walk never strands. prev
    * seeds as the start node itself, which classes every first-hop
    * candidate `common` (dst ∈ N(start) by construction) — uniform,
    * node2vec's first-step contract, with no special case.
    *
    * IN-ROW KERNEL, not candidate expansion (r9): the first form
    * expanded |frontier|·deg candidate rows per hop and paid two
    * (start, walk)-keyed sort windows plus a (prev, dst) membership
    * shuffle over them — 134.8 s at sf1. Here each frontier row picks
    * in place via the codegen'd Node2VecPick merge-walk over the two
    * sorted adjacency arrays (N(node) scanned, N(prev) co-walked for
    * the common test — both ascending, one O(deg) pass, identical
    * cumulative-interval semantics, SAME ORACLE). Per hop: two
    * node-keyed frontier-sized joins against the src-partitioned
    * adjacency frame, |frontier| hashes, no window, no expansion. */
  private[graft] def node2vecWalksOf(edges: DataFrame, nWalks: Int,
      steps: Int, wReturn: Long, wCommon: Long, wOut: Long): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    // r17: same single-consumer argument as randomWalksOf — skip the
    // loopArcs checkpoint, aggregate the lazy mirror straight into adj.
    val base = edges.select($"src", $"dst")
      .unionAll(edges.select($"dst".as("src"), $"src".as("dst")))
    val adj = partitionedCheckpoint(
      base.groupBy($"src")
        .agg(sort_array(collect_list($"dst")).as("nbrs")), "src",
      sorted = true)
    val verts = adj.select($"src".as("v"))
    var cur = verts
      .select($"v".as("start"),
        explode(sequence(lit(0), lit(nWalks - 1))).as("walk"),
        lit(0).as("step"), $"v".as("node"), $"v".as("prev"))
      .select($"start", $"walk".cast("long").as("walk"), $"step",
        $"node", $"prev")
      .localCheckpoint(eager = true)
    var acc = cur.select($"start", $"walk", $"step", $"node")
    for (st <- 1 to steps) {
      val h = graft.operators.TextOps.h64(concat(
        lit("n2v:"), $"start".cast("string"), lit(":"),
        $"walk".cast("string"), lit(":"), lit(st).cast("string")))
      cur = cur
        .join(adj, $"node" === $"src").drop("src")
        .join(adj.select($"src".as("pv2"), $"nbrs".as("nprev")),
          $"prev" === $"pv2")
        .select($"start", $"walk", lit(st).as("step"),
          graft.functions.GraftFunctions.node2vecPick(
            $"nbrs", $"nprev", $"prev", h, wReturn, wCommon, wOut).as("node"),
          $"node".as("prev"))
        .localCheckpoint(eager = true)
      acc = acc.unionByName(cur.select($"start", $"walk", $"step", $"node"))
    }
    acc
  }

  // G18b — node2vec biased walk corpus over the co-purchase graph. The
  // default (wReturn, wCommon, wOut) = (1, 4, 16) is (1/p, 1, 1/q)·4
  // for p = 4, q = 0.25 — the outward-exploring (DFS-like) regime the
  // node2vec paper shows captures community structure; (16, 4, 1)
  // would be the BFS-like structural-role regime. Same output contract
  // as G18 (the walk corpus feeds skip-gram), hash-replayable.
  def node2vecWalks(s: SparkSession, dir: String, nWalks: Int = 2,
      steps: Int = 4, wReturn: Long = 1L, wCommon: Long = 4L,
      wOut: Long = 16L): DataFrame = {
    import s.implicits._
    node2vecWalksOf(edgesUnsorted(s, dir), nWalks, steps, wReturn, wCommon, wOut)
      .orderBy($"start", $"walk", $"step")
  }

  // G18 — DeepWalk/node2vec walk-corpus generation (Perozzi et al. 2014;
  // p=q=1 uniform regime): the training-data stage of graph-embedding
  // pipelines — skip-gram learns node vectors from these walks exactly
  // as word2vec learns from sentences. Emitting the corpus (not the
  // embedding) is the data-pipeline contract; the hash-derived choice
  // makes the corpus a reproducible fact of the graph.
  def randomWalks(s: SparkSession, dir: String, nWalks: Int = 2,
      steps: Int = 4): DataFrame = {
    import s.implicits._
    randomWalksOf(edgesUnsorted(s, dir), nWalks, steps)
      .orderBy($"start", $"walk", $"step")
  }

  /** HITS core over a bipartite (u, p) arc frame: max-normalized hubs &
    * authorities, SIMULTANEOUS (Jacobi) update — a_{t+1} from h_t and
    * h_{t+1} from a_t, both normalized by their round maximum. Max (not
    * the L1/L2 norm) keeps the normalizer ORDER-INDEPENDENT — a single
    * comparison-reduction, no global fp sum whose partition order could
    * disagree with the oracle; the per-node raw sums are deg-bounded
    * windows, G5's accepted 6dp-absorbed risk class. Fixed rounds ⇒
    * recursive-CTE replay (arc frame pre-expanded to (qkind,qid) →
    * (okind,oid) so the CTE's one self-reference is an equi-join).
    * Per round: two keyed shuffles of node-sized frames against the
    * cached arc list + two 1-row max aggs broadcast back;
    * localCheckpoint truncates lineage (the iterative-DF discipline). */
  private[graft] def hitsOf(ed: DataFrame, iters: Int): DataFrame = {
    val s = ed.sparkSession
    import s.implicits._
    // one arc copy PER JOIN KEY, each pre-partitioned and checkpointed
    // via partitionedCheckpoint (r9: a bare repartition+localCheckpoint
    // loses its partitioning under AQE): the per-round joins then
    // shuffle only the node-sized score frames, never the arc list
    val edU = partitionedCheckpoint(ed.select($"u", $"p"), "u", sorted = true)
    val edP = partitionedCheckpoint(ed.select($"u", $"p"), "p", sorted = true)
    var hub = edU.select($"u".as("id")).distinct()
      .withColumn("v", lit(1.0)).localCheckpoint(eager = true)
    var auth = edP.select($"p".as("id")).distinct()
      .withColumn("v", lit(1.0)).localCheckpoint(eager = true)
    for (_ <- 0 until iters) {
      // r17 (guide §2.6): the Jacobi update's two legs are independent —
      // rawA reads only hub_t, rawH only auth_t — so their eager
      // materializations are submitted concurrently instead of back to
      // back; the scheduler backfills the second job into the first
      // job's straggler tail. Results are the exact same frames (each
      // job's internal reduction order is untouched), only the driver's
      // submission order changes.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val (hubT, authT) = (hub, auth)
      val fA = Future {
        edU.join(hubT.select($"id".as("u"), $"v"), "u")
          .groupBy($"p").agg(sum($"v").as("raw"))
          .localCheckpoint(eager = true) // feeds the max agg AND the divide
      }
      val fH = Future {
        edP.join(authT.select($"id".as("p"), $"v"), "p")
          .groupBy($"u").agg(sum($"v").as("raw"))
          .localCheckpoint(eager = true)
      }
      val rawA = Await.result(fA, Duration.Inf)
      val rawH = Await.result(fH, Duration.Inf)
      // r17: the normalized frames stay LAZY — each is consumed exactly
      // once (the next round's join; the final round's auth by the
      // contract projection), so an eager checkpoint here bought no
      // reuse and cost one materialization job per frame per round
      // (2 × iters jobs, measured 88 jobs → 52 at sf0.1). Lineage stays
      // bounded: the division hangs one broadcast-scalar node off the
      // ALREADY-checkpointed raw frame, so plan depth per round is
      // constant and the BigInt stats hazard (checkpointFlat scaladoc)
      // cannot compound — rawA/rawH reset the chain every round.
      auth = rawA.crossJoin(broadcast(rawA.agg(max($"raw").as("mx"))))
        .select($"p".as("id"), ($"raw" / $"mx").as("v"))
      hub = rawH.crossJoin(broadcast(rawH.agg(max($"raw").as("mx"))))
        .select($"u".as("id"), ($"raw" / $"mx").as("v"))
    }
    auth.select($"id".as("part"), round($"v", 6).as("authority"))
  }

  // G17 — HITS hubs & authorities (Kleinberg 1999; GDS gds.alpha.hits)
  // over the bipartite customer→part purchase graph: authoritative
  // products are the ones bought by strong hub customers, and hub
  // strength comes from buying authoritative products — the mutual
  // recursion degree counts can't see. The co-purchase projection would
  // be HITS-degenerate (undirected ⇒ hubs ≡ authorities); the bipartite
  // purchase graph is where the two roles genuinely differ.
  // One leg, hitsOf's checkpointed-DF loop: authorities are a pure
  // function of (arcs, iters) at 6dp.
  def hits(s: SparkSession, dir: String, iters: Int = 6, k: Int = 20): DataFrame = {
    import s.implicits._
    val ed = Caches.cached(s"hits-ed:$dir") {
      Tables.orders(s, dir).select($"o_custkey".as("u"), $"o_orderkey")
        .join(Tables.lineitem(s, dir).select($"l_orderkey", $"l_partkey".as("p")),
          $"o_orderkey" === $"l_orderkey")
        .select($"u", $"p").distinct()
    }
    hitsOf(ed, iters)
      .orderBy($"authority".desc, $"part")
      .limit(k)
  }

  // G16 — personalized PageRank from one customer's purchase history
  // (GDS gds.pageRank with sourceNodes; the reference's Neo4j product
  // graph serves per-user suggestions — G12 is the one-hop CF score,
  // this is its multi-hop generalization: mass diffuses through the
  // whole co-purchase topology instead of stopping at direct
  // neighbors). Seeds = the customer's distinct in-graph parts (G12's
  // owned-set convention, custKey=1).
  def personalizedPageRank(s: SparkSession, dir: String, custKey: Long = 1L,
      iters: Int = 10, k: Int = 20): DataFrame = {
    import s.implicits._
    val owned = Tables.orders(s, dir).filter($"o_custkey" === custKey)
      .join(Tables.lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
      .select($"l_partkey".as("pk")).distinct()
    pprGated(edgesUnsorted(s, dir), owned, iters)
      .orderBy($"ppr".desc, $"part")
      .limit(k)
  }

  // G21 — neighborhood function / effective diameter (HyperANF — Boldi,
  // Rosa & Vigna, WWW 2011): N(t) = # ordered pairs (u,v) with
  // dist(u,v) ≤ t — the distance CDF behind effective-diameter and
  // closeness dashboards (the algorithm that measured Facebook's "four
  // degrees of separation"). Exact all-pairs BFS is O(n·m) — dead at
  // scale; HyperANF keeps ONE constant-size HLL sketch per node (the
  // ball B_t(v)) and grows it by unioning neighbors' sketches each
  // round: B_t(v) = B_{t−1}(v) ∪ ⋃_{(v,u)∈arcs} B_{t−1}(u) — O(m)
  // register-merges per round regardless of ball size. Spark-native:
  // the sketch column is a datasketches HLL binary via the codegen'd
  // hll_sketch_agg / hll_union_agg built-ins; each node's ball flows
  // OUT along its arcs (join on src — the key the loopArcs checkpoint
  // is partitioned on, so only the node-sized ball frame shuffles per
  // round, the same contract as every iterative loop here); per-round
  // total = one sum over node rows. lgConfigK=8 (256 registers,
  // ~6.5% per-node rel. err — errors average out in the sum; HyperANF
  // itself ran coarser) keeps the shuffled sketch payload ~300 B/arc (HLL_8 updatable form: 2^lgK register bytes + header).
  // Register merge is per-register max — commutative/associative — so
  // the profile is deterministic under any partitioning; estimates are
  // floats ⇒ rows-only (spec: exact on a coupon-mode fixture, ≡ exact
  // BFS closure within tolerance on the sf graph, monotone, n²
  // fixpoint on a connected graph).
  private[graft] def reachProfileOf(edges: DataFrame, iters: Int,
      lgConfigK: Int = 8): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val arcs = loopArcs(edges, withWeight = false)
    var balls = partitionedCheckpoint(
      arcs.select($"src".as("v")).distinct()
        .groupBy($"v").agg(hll_sketch_agg($"v", lgConfigK).as("sk")), "v")
    // per-round scalars in ONE pass: the pair-count estimate plus an
    // exact register-state checksum — sketch binaries are deterministic,
    // so checksum equality across rounds means every ball is literally
    // unchanged (a true fixpoint, not an estimate coincidence)
    // bit_xor, not sum: a long SUM of per-node hashes overflows ANSI-mode
    // BIGINT; XOR is order-independent, closed on longs, and equality is
    // all the fixpoint test needs
    def scalars(b: DataFrame): (Double, Long) = {
      val r = b.agg(sum(hll_sketch_estimate($"sk")).cast("double"),
        expr("bit_xor(xxhash64(v, sk))")).first()
      (r.getDouble(0), r.getLong(1))
    }
    val (est0, chk0) = scalars(balls)
    val rows = scala.collection.mutable.ArrayBuffer((0, est0, est0))
    var prev = est0
    var prevChk = chk0
    var t = 1
    var converged = false
    while (t <= iters && !converged) {
      val nxt = partitionedCheckpoint(
        arcs.join(balls.select($"v".as("src"), $"sk"), "src")
          .select($"dst".as("v"), $"sk")
          .unionAll(balls.select($"v", $"sk"))
          .groupBy($"v").agg(graft.functions.GraftFunctions.hllRegMaxUnion($"sk", lgConfigK).as("sk")), "v")
      GraftCheckpoint.release(balls) // loop discipline: one live frame
      balls = nxt
      val (est, chk) = scalars(balls)
      rows += ((t, est, est - prev))
      // HyperANF's own stopping rule: past the diameter every union is a
      // no-op — once the register state repeats, all later rounds are
      // bit-identical, so emit them as rows WITHOUT paying the joins
      // (at sf10 the graph converges by t≈3 while the contract asks 6:
      // the skipped rounds were ~1/3 of the 411 s first measurement)
      converged = chk == prevChk
      prev = est
      prevChk = chk
      t += 1
    }
    while (t <= iters) { rows += ((t, prev, 0.0)); t += 1 }
    GraftCheckpoint.release(balls)
    GraftCheckpoint.release(arcs)
    s.createDataFrame(rows.toSeq).toDF("t", "est_pairs", "delta_pairs")
      .select($"t", round($"est_pairs", 3).as("est_pairs"),
        round($"delta_pairs", 3).as("delta_pairs"))
      .orderBy($"t")
  }

  def reachProfile(s: SparkSession, dir: String, iters: Int = 6): DataFrame =
    reachProfileOf(edgesUnsorted(s, dir), iters)

  // G22 — HyperBall all-node harmonic centrality (Boldi & Vigna 2013,
  // "In-Core Computation of Geometric Centralities with HyperBall"):
  // H(v) = Σ_{u≠v reachable} 1/dist(u,v) for EVERY node — the
  // full-graph metric G20 only estimates from landmarks. The ball
  // sketches G21 already grows contain the whole answer: the number of
  // nodes at distance exactly t from v is |B_t(v)| − |B_{t−1}(v)|, so
  // H(v) = Σ_t (|B_t(v)| − |B_{t−1}(v)|)/t accumulates DURING the
  // HyperANF loop — same arcs, same union agg, same round count; the
  // only additions are two node-sized columns (previous estimate +
  // running sum) carried through the per-round state frame and one
  // partitioning-aligned join of the new balls against it (both sides
  // hash-partitioned by v, so no extra exchange — the loop still
  // shuffles exactly one node-sized frame per round along the
  // src-partitioned arc checkpoint).
  // Per-node estimates are HLL floats (lgK=8 ⇒ ~6.5% per node; exact in
  // coupon mode) ⇒ rows-only. The per-round delta is clamped at 0: the
  // register state only grows, and the datasketches estimator is
  // monotone in it up to estimator-regime transitions whose sub-ulp
  // wobble the clamp absorbs — in coupon mode (the fixture regime) the
  // deltas are integer-exact and the clamp never fires.
  // Register-checksum early-exit = G21's: past the diameter every union
  // is a no-op and every delta is 0, so converged rounds add nothing
  // and the loop stops paying for them.
  private[graft] def harmonicAllOf(edges: DataFrame, iters: Int,
      lgConfigK: Int = 8): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val arcs = loopArcs(edges, withWeight = false)
    var balls = partitionedCheckpoint(
      arcs.select($"src".as("v")).distinct()
        .groupBy($"v").agg(hll_sketch_agg($"v", lgConfigK).as("sk"))
        .select($"v", $"sk",
          hll_sketch_estimate($"sk").cast("double").as("est"),
          lit(0.0).as("h")), "v")
    def chk(b: DataFrame): Long =
      b.agg(expr("bit_xor(xxhash64(v, sk))")).first().getLong(0)
    var prevChk = chk(balls)
    var t = 1
    var converged = false
    while (t <= iters && !converged) {
      val nxt = partitionedCheckpoint(
        arcs.join(balls.select($"v".as("src"), $"sk"), "src")
          .select($"dst".as("v"), $"sk")
          .unionAll(balls.select($"v", $"sk"))
          .groupBy($"v").agg(graft.functions.GraftFunctions
            .hllRegMaxUnion($"sk", lgConfigK).as("sk"))
          .join(balls.select($"v", $"est".as("pe"), $"h"), "v")
          .select($"v", $"sk",
            hll_sketch_estimate($"sk").cast("double").as("est"), $"pe", $"h")
          .select($"v", $"sk", $"est",
            ($"h" + greatest(($"est" - $"pe") / t, lit(0.0))).as("h")), "v")
      GraftCheckpoint.release(balls) // loop discipline: one live frame
      balls = nxt
      val c = chk(balls)
      converged = c == prevChk
      prevChk = c
      t += 1
    }
    GraftCheckpoint.release(arcs)
    // the final checkpoint stays persisted — the returned frame reads it
    // (the iterative-loop contract everywhere here; harnesses clearAll)
    balls.select($"v",
        round($"est" - 1.0, 3).as("reach"), // ball minus self
        round($"h", 6).as("harmonic"))
      .orderBy($"harmonic".desc, $"v")
  }

  def harmonicAll(s: SparkSession, dir: String, iters: Int = 6): DataFrame =
    harmonicAllOf(edgesUnsorted(s, dir), iters)

  // G23 — modularity of a community labeling (Newman & Girvan 2004;
  // the `modularity` readout GDS returns from labelPropagation/louvain):
  // Q = Σ_c [ w_in(c)/m − (k_tot(c)/(2m))² ] over the weighted graph,
  // where m = total edge weight, w_in(c) = intra-community edge weight,
  // k_tot(c) = Σ weighted degree over c's nodes. G11 hands out labels
  // with no statement of how cohesive they are — this is the quality
  // gate a pipeline runs before acting on them (and the score Louvain
  // would climb). Emitted per community so the dashboard can rank
  // communities by cohesion; Q itself is SUM(q_term).
  //
  // Shape: the labeling is node-sized, the edge frame is the big one —
  // two hash joins tag each edge's endpoints (edge frame shuffles by
  // src then dst; at dimension-like label sizes AQE broadcasts the
  // label side), then everything collapses to community-sized
  // aggregates. No per-pair work, no windows: Q is three aggregations
  // over frames the co-purchase family already builds.
  //
  // Float discipline (the T11/G13 rule): w_in, k_tot, n_nodes stay
  // exact BIGINTs; q_term is computed in one double expression shared
  // verbatim with the oracle — a/m − (k/(2m))·(k/(2m)) — and rounded
  // once at 6dp, so the only FP ops are division/multiply/subtract in
  // the same order on both engines.
  private[graft] def modularityScoreOf(edges: DataFrame,
      labels: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val deg = edges.select($"src".as("v"), $"weight")
      .unionAll(edges.select($"dst".as("v"), $"weight"))
      .groupBy($"v").agg(sum($"weight").as("k"))
    val m = edges.agg(sum($"weight").cast("double").as("m"))
    val win = edges
      .join(labels.select($"v".as("src"), $"lbl".as("la")), "src")
      .join(labels.select($"v".as("dst"), $"lbl".as("lb")), "dst")
      .filter($"la" === $"lb")
      .groupBy($"la").agg(sum($"weight").as("w_in"))
      .select($"la".as("community"), $"w_in")
    labels.join(deg, "v")
      .groupBy($"lbl")
      .agg(count(lit(1)).as("n_nodes"), sum($"k").as("k_tot"))
      .select($"lbl".as("community"), $"n_nodes", $"k_tot")
      .join(win, Seq("community"), "left")
      .na.fill(0L, Seq("w_in"))
      .crossJoin(broadcast(m))
      .select($"community", $"n_nodes", $"w_in", $"k_tot",
        round(
          $"w_in".cast("double") / $"m" -
            ($"k_tot".cast("double") / (lit(2.0) * $"m")) *
            ($"k_tot".cast("double") / (lit(2.0) * $"m")),
          6).as("q_term"))
      .orderBy($"community")
  }

  def modularity(s: SparkSession, dir: String, iters: Int = 5): DataFrame = {
    val e = edgesUnsorted(s, dir)
    modularityScoreOf(e, communitiesOf(e, iters))
  }

  // G24 — one-level deterministic Louvain (Blondel et al. 2008, "Fast
  // unfolding of communities in large networks"; gds.louvain is the
  // flagship GDS community call): CLIMB the modularity score G23 made
  // measurable. Each sweep every node evaluates, synchronously from the
  // CURRENT labeling, the gain of placing itself (after removal from its
  // own community) into each neighboring community c:
  //   gain(v→c) = k_{v,c}/m − Σ_tot(c\v)·k_v/(2m²)
  // and adopts the argmax — the standard local-move rule, run
  // synchronously with a fixed sweep count so the labeling is a pure
  // function of the edge list (the G11 determinism discipline) and
  // replays as an unrolled CTE chain (the G19 precedent: per-sweep state
  // needs the label frame three ways, which a single recursive
  // self-reference can't express).
  //
  // Determinism & oscillation control: argmax tie-breaks (gain desc,
  // stay-first, smallest community label); gains are 6dp-rounded doubles
  // computed in ONE expression shared verbatim with the oracle and
  // normalized (+0.0) so no −0.0 can order differently across engines.
  // Synchronous local moves admit swap 2-cycles — two nodes adopting
  // each other's community in the same sweep, forever (the design notes
  // traced both the singleton-singleton form AND a community-level form
  // on the bridged-triangle fixture; the Lu-Halappanavar-Kalyanaraman
  // 2015 "minimum labeling" guard kills only the first). The fix here
  // is DIRECTION ALTERNATION: even sweeps may only adopt communities
  // with SMALLER labels, odd sweeps only LARGER (stay is always
  // allowed). A swap needs two opposite-direction moves in ONE sweep,
  // so no 2-cycle of any class can form; every merge is still reachable
  // (down-moves one sweep, up-moves the next), and the restriction is a
  // pure per-candidate predicate — deterministic, oracle-replayable,
  // free. Measured on the bridged-triangle fixture: the guarded
  // single-direction variant oscillated {5,6} forever; alternation
  // reaches the ideal two-triangle partition at sweep 4 and holds it.
  //
  // Scale shape per sweep (= LPA's contract): k_{v,c} is the vote join —
  // node-sized labels shuffled to the src-partitioned arc checkpoint,
  // aggregated by (dst, community); the Σ_tot frame is community-sized;
  // the candidate argmax is one keyed aggregation; m is a 1-row
  // broadcast. Nothing driver-side, no per-pair work beyond the arc
  // list itself.
  /** degOverride/mOverride exist for the COARSENED levels of
    * louvainLevelsOf: a supernode's degree must include its
    * self-loop mass (2·w_in of the community it contracts — passed as
    * the community's summed ORIGINAL degrees) and m stays the original
    * total edge weight across levels (the Newman-Girvan normalizer is
    * level-invariant). Self-arcs themselves are EXCLUDED from the
    * coarsened edge frame: a self-loop adds the same +s(v)/m to every
    * candidate's gain, so it cancels in the argmax and only the degree
    * correction is load-bearing. */
  private[graft] def louvainOf(edges: DataFrame, sweeps: Int,
      degOverride: Option[DataFrame] = None,
      mOverride: Option[Double] = None): DataFrame =
    louvainCounted(edges, sweeps, degOverride, mOverride)._1

  /** The G24 sweep loop, returning (labels, sweeps actually executed).
    *
    * Early exit (r16, VERDICT r15 #4): general EVEN-PERIOD cycle
    * detection with exact fast-forward. The synchronous update is a
    * deterministic map of (labeling, sweep parity), so if the state
    * after sweep i equals the state after sweep j with i−j EVEN (same
    * parity phase), every later sweep replays the window [j, i) forever
    * — the budget's final state is state(j + ((budget − j) mod (i−j))),
    * which the loop already holds. Returning exactly that frame keeps
    * the truncated loop bit-identical to the full chain, so the oracle
    * keeps replaying the full fixed chain and hash-match is preserved
    * by construction. This subsumes the converged case (s_{i} = s_{i−1}
    * = s_{i−2} is a period-2 cycle) AND the oscillation class a plain
    * no-move rule misses: measured at sf0.001, the corpus labeling
    * never reaches a fixpoint — from sweep ~20 a ~6-node limit cycle
    * keeps moved > 0 forever (budgets 40 and 100 both ran to the end)
    * — so a fixpoint-only exit would never fire on real
    * corpora. Odd-period matches are ignored: the parity phase differs,
    * so recurrence is not implied.
    *
    * State identity is the G21 register-checksum pattern: one
    * bit_xor(xxhash64(v, lbl)) scan of the eager-checkpointed label
    * frame per sweep (node-sized, order-independent, no long-SUM
    * ANSI-overflow risk); the detection window keeps the last
    * `cycleWindow` checkpointed frames alive, which is the loop's
    * existing memory profile (every sweep's checkpoint lives until the
    * session clears anyway). `earlyExit = false` runs every sweep — the
    * full-chain reference the specs hold the exit to. */
  private[graft] def louvainCounted(edges: DataFrame, sweeps: Int,
      degOverride: Option[DataFrame] = None,
      mOverride: Option[Double] = None,
      earlyExit: Boolean = true, cycleWindow: Int = 12): (DataFrame, Int) = {
    val st = louvainSetup(edges, degOverride, mOverride)
    var labels = st.init
    def chkOf(df: DataFrame): Long = {
      val r = df.agg(expr("bit_xor(xxhash64(v, lbl))")).first()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    // (post-sweep index, checksum, frame) for the last `cycleWindow` sweeps
    var hist = Vector.empty[(Int, Long, DataFrame)]
    var result: Option[DataFrame] = None
    var executed = 0
    var i = 0
    while (i < sweeps && result.isEmpty) {
      labels = louvainSweep(st, labels, i)
      // periodic stats reset (see flatStats) — bounds the checkpoint
      // stats compounding without paying the Row round-trip every sweep
      if ((i + 1) % flatEvery == 0) labels = flatStats(labels)
      executed += 1
      if (earlyExit) {
        val chk = chkOf(labels)
        hist.find { case (j, cj, fj) =>
          // r17 (ADVICE r16 #1): checksum equality is 64-bit evidence,
          // not proof — CONFIRM the matched pair exactly before
          // committing the fast-forward. Both frames carry exactly one
          // row per node, so equal cardinality + empty one-way exceptAll
          // ⇔ identical labelings. Fires at most once per run (and only
          // on the first true match), so the extra scan is negligible;
          // on a collision the loop just keeps sweeping — the oracle's
          // full-chain behavior.
          cj == chk && (executed - j) % 2 == 0 &&
            labels.exceptAll(fj).isEmpty
        }.foreach { case (j, _, _) =>
          val p = executed - j
          // s_budget = s_{j + ((budget − j) mod p)}; the target index is
          // always in [j, executed), i.e. inside the retained window
          val target = j + ((sweeps - j) % p)
          result = Some(hist.find(_._1 == target).get._3)
        }
        hist = (hist :+ ((executed, chk, labels))).takeRight(cycleWindow)
      }
      i += 1
    }
    (result.getOrElse(labels), executed)
  }

  /** localCheckpoint + STATS RESET (r16). Dataset.localCheckpoint copies
    * the optimized plan's statistics into the checkpointed LogicalRDD,
    * so an iterative loop whose next round references its state frame k
    * times COMPOUNDS sizeInBytes k-fold per round: the stat is a BigInt
    * of ~k^round digits, and past ~12 Louvain sweeps (k≈4) the DRIVER
    * livelocks in BigInteger.multiply during planning — measured:
    * digits 57→262→1080→4351→17438 across budgets 2→10, and a
    * budget-40 run burned 18 CPU-min inside ToomCook3 without finishing
    * sweep ~15. Rebuilding the frame
    * from the checkpointed RDD resets stats to the scan default; result
    * frames are plan-independent (hash-match unaffected), runtime
    * broadcast decisions stay with AQE, and the node-sized Row
    * conversion is noise next to the sweep's arc join. The fixed-budget
    * loops (5 sweeps, k^5 digits) never tripped this — the r16
    * early-exit makes LARGE budgets meaningful, so the loop now has to
    * survive them. */
  private[graft] def checkpointFlat(df: DataFrame): DataFrame =
    flatStats(df.localCheckpoint(eager = true))

  /** Stats reset on an ALREADY-checkpointed frame (no second
    * checkpoint): rebuild from the checkpointed RDD. The Row round-trip
    * is paid once per consumption of THIS frame, so the loops apply it
    * every [[flatEvery]] sweeps rather than every sweep — digit growth
    * between flattens is bounded (≤ 4^flatEvery × base ≈ a few hundred
    * digits, BigInt-cheap) and the conversion overhead amortizes to
    * ~1/flatEvery of the r16-initial every-sweep form (which cost the
    * 5-sweep entry ~16%: builder g_louvain 13.0 → 15.1 s before this
    * amortization). */
  private[graft] def flatStats(ck: DataFrame): DataFrame =
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)

  private[graft] val flatEvery = 4

  /** Shared per-level frames for the sweep loop. `m` is the total edge
    * weight as ONE driver double (r17): it is a single scalar consumed
    * only inside gain expressions, so collecting it once at setup and
    * inlining `lit(m)` removes the per-sweep broadcast-aggregate subquery
    * (2 AQE stages × sweeps) the old 1-row `crossJoin(broadcast(mDf))`
    * form paid — same IEEE double, same expression shape, bit-identical
    * gains (guide §2.4: the cheapest exchange is the one not planned). */
  private[graft] case class LouvainFrames(arcs: DataFrame, deg: DataFrame,
      m: Double, init: DataFrame)

  private def louvainSetup(edges: DataFrame,
      degOverride: Option[DataFrame],
      mOverride: Option[Double]): LouvainFrames = {
    val s = edges.sparkSession
    import s.implicits._
    val arcs = loopArcs(edges, withWeight = true)
    val deg = partitionedCheckpoint(
      degOverride.map(_.select($"v", $"kv")).getOrElse(
        arcs.groupBy($"src".as("v")).agg(sum($"weight").as("kv"))), "v",
      sorted = true)
    val m = mOverride.getOrElse {
      val r = edges.agg(sum($"weight").cast("double").as("m")).first()
      if (r.isNullAt(0)) 0.0 else r.getDouble(0) // empty graph: no gain row ever evaluates
    }
    val init = checkpointFlat(deg.select($"v", $"v".as("lbl")))
    LouvainFrames(arcs, deg, m, init)
  }

  /** ONE synchronous ΔQ sweep (parity `i` sets the direction-alternation
    * predicate) — the body documented at G24 above, unchanged by the r16
    * refactor (extracted so the trace monitor reuses it verbatim). */
  private def louvainSweep(st: LouvainFrames, labels: DataFrame,
      i: Int): DataFrame = {
    val s = labels.sparkSession
    import s.implicits._
    val kt = labels.join(st.deg, "v").groupBy($"lbl")
      .agg(sum($"kv").as("ktot"))
    val kvc = st.arcs.join(labels, $"src" === $"v")
      .groupBy($"dst", $"lbl").agg(sum($"weight").as("kvc"))
      .select($"dst".as("v"), $"lbl".as("c"), $"kvc")
    // r17: no (v, c) dedup before the argmax. The only duplicate the
    // union can create is the stay row (v, cur, 0) colliding with a real
    // (v, cur, kvc ≥ 1) vote; gain is strictly increasing in kvc with
    // (v, c) fixed, and both rows carry the same (nc, c) tie-break, so
    // the min-struct argmax below already selects exactly the row the
    // old groupBy(v, c).agg(max(kvc)) kept — bit-identical labels, one
    // exchange per sweep removed (guide §2.4).
    val cand = kvc
      .unionByName(labels.select($"v", $"lbl".as("c"), lit(0L).as("kvc")))
    val m = lit(st.m)
    val sc = cand
      .join(labels.select($"v", $"lbl".as("cur")), "v")
      .join(st.deg, "v")
      .join(kt.select($"lbl".as("c"), $"ktot"), "c")
      .filter(if (i % 2 == 0) $"c" <= $"cur" else $"c" >= $"cur")
      .select($"v", $"c",
        (round(
          $"kvc".cast("double") / m -
            (($"ktot" - when($"c" === $"cur", $"kv").otherwise(0L))
              .cast("double") / (lit(2.0) * m)) *
            ($"kv".cast("double") / m), 6) + lit(0.0)).as("gain"),
        when($"c" === $"cur", 0).otherwise(1).as("nc"))
    sc.groupBy($"v")
      .agg(min(struct((-$"gain").as("ng"), $"nc".as("nc"), $"c".as("c")))
        .as("b"))
      .select($"v", $"b.c".as("lbl"))
      .localCheckpoint(eager = true)
  }

  // G24c — per-sweep Louvain convergence readout (`g_louvain_trace`,
  // r16, VERDICT r15 #4's second half): the monitor a user gates sweep
  // budgets on. One row per BUDGETED sweep (no early exit — the monitor
  // exists to SHOW the fixpoint, so it always runs the full chain):
  //   moved = #nodes whose label changed in this sweep (exact BIGINT);
  //   q     = Newman-Girvan modularity of the post-sweep labeling.
  // Float discipline: every per-sweep statistic collected off the
  // cluster is an exact BIGINT (moved, Σ intra-community weight,
  // Σ k_tot² — the G23 q_term sum reassociates under double addition,
  // so the trace sums the EXACT integer pieces instead and forms
  //   q = sw/m − sk2/(4m²)
  // in ONE engine-side double expression, 6dp-rounded, +0.0-normalized).
  // Cost: each sweep pays its vote join plus two tag joins for the
  // statistics — ~2-3× louvainOf, which is why the monitor is its own
  // entry and not a default column. Σ k_tot² needs DECIMAL(38,0) sums
  // past ~10¹⁸ total weighted degree (≈100 TB corpus scale); BIGINT is
  // exact through sf10's 2m ≈ 2.4·10⁸.
  private[graft] def louvainTraceOf(edges: DataFrame,
      sweeps: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val st = louvainSetup(edges, None, None)
    var labels = st.init
    val stats = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
    for (i <- 0 until sweeps) {
      val prev = labels
      labels = louvainSweep(st, labels, i)
      if ((i + 1) % flatEvery == 0) labels = flatStats(labels)
      val moved = labels
        .join(prev.select($"v", $"lbl".as("plbl")), "v")
        .filter($"lbl" =!= $"plbl").count()
      val sw = edges
        .join(labels.select($"v".as("src"), $"lbl".as("la")), "src")
        .join(labels.select($"v".as("dst"), $"lbl".as("lb")), "dst")
        .filter($"la" === $"lb")
        .agg(coalesce(sum($"weight"), lit(0L))).first().getLong(0)
      val sk2 = labels.join(st.deg, "v")
        .groupBy($"lbl").agg(sum($"kv").as("kt"))
        .agg(coalesce(sum($"kt" * $"kt"), lit(0L))).first().getLong(0)
      stats += ((i + 1, moved, sw, sk2))
    }
    val m = lit(st.m)
    stats.toSeq.toDF("sweep", "moved", "sw", "sk2")
      .select($"sweep".cast("long").as("sweep"), $"moved",
        (round($"sw".cast("double") / m -
          $"sk2".cast("double") / (lit(4.0) * m * m), 6) + lit(0.0))
          .as("q"))
      .orderBy($"sweep")
  }

  def louvainTrace(s: SparkSession, dir: String, sweeps: Int = 5): DataFrame =
    louvainTraceOf(edgesUnsorted(s, dir), sweeps)

  def louvain(s: SparkSession, dir: String, sweeps: Int = 5): DataFrame = {
    import s.implicits._
    louvainOf(edgesUnsorted(s, dir), sweeps)
      .select($"v".as("part"), $"lbl".as("community"))
      .orderBy($"part")
  }

  // G24b — MULTI-LEVEL Louvain (the full Blondel et al. 2008 shape, and
  // what gds.louvain actually runs): after the local-move sweeps
  // converge a level, CONTRACT each community to a supernode and sweep
  // again on the coarsened graph — the move class a flat sweep can't
  // express (whole communities relocating at once), which is where
  // Louvain's real modularity gains over one-level local search come
  // from. Deterministic: every level runs the same fixed-sweep
  // synchronous update, coarsening is a pure aggregation, so the final
  // labeling is still a pure function of the edge list and replays as
  // SQL (the level-2 chain appended to the level-1 chain).
  //
  // Coarsening rules (the textbook ones, restated for the oracle):
  //  - supernode = level-k community; inter-community edge weights sum;
  //    self-loops are DROPPED from the edge frame (they shift every
  //    candidate's gain equally — constant in the argmax) but their
  //    mass stays in the supernode DEGREE (deg2 = the community's
  //    summed original degrees), which is what the Σ_tot penalty needs;
  //  - m is the ORIGINAL total edge weight at every level.
  //
  // Scale shape per level: the contraction is two node-sized hash joins
  // on the FULL edge frame + one keyed aggregation (the G23 tagging
  // shape) — linear in arcs, same class as one sweep's vote join — and
  // the level-2 sweeps then run on the strictly smaller coarse graph.
  // Measured (sf10, the entry timed alone, min-of-2): one level 441.7 s,
  // two levels 1233.5 s — the added level costs ~1.8× level 1, dominated
  // by the contraction joins and checkpoints over the 119M-arc frame, NOT by
  // the coarse sweeps. Final mapping composes the per-level labelings
  // with community-keyed joins (node-sized).
  private[graft] def louvainLevelsOf(edges: DataFrame, sweeps: Int,
      levels: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val mRow = edges.agg(sum($"weight").cast("double").as("m")).first()
    val m = if (mRow.isNullAt(0)) 0.0 else mRow.getDouble(0)
    // r17: louvainOf already returns a CHECKPOINTED frame (every sweep's
    // labels come out of localCheckpoint), so the extra eager checkpoints
    // the r15 shape stacked on assign/l2 were pure re-materializations;
    // and e2 / the level composition are each consumed exactly once per
    // level (e2 only feeds the next level's louvainSetup, whose loopArcs
    // checkpoint materializes it inside its own arc layout), so their
    // eager checkpoints bought no reuse either. Four materialization
    // jobs removed per level; chain verified bit-identical at sf0.01.
    var assign = louvainOf(edges, sweeps)
    var curEdges = edges
    var curDeg = edges.select($"src".as("v"), $"weight")
      .unionAll(edges.select($"dst".as("v"), $"weight"))
      .groupBy($"v").agg(sum($"weight").as("kv"))
    var curLbl = assign
    for (_ <- 2 to levels) {
      val e2 = curEdges
        .join(curLbl.select($"v".as("src"), $"lbl".as("ls")), "src")
        .join(curLbl.select($"v".as("dst"), $"lbl".as("ld")), "dst")
        .filter($"ls" =!= $"ld")
        .select(least($"ls", $"ld").as("src"),
          greatest($"ls", $"ld").as("dst"), $"weight")
        .groupBy($"src", $"dst").agg(sum($"weight").as("weight"))
      val deg2 = curLbl.join(curDeg, "v").groupBy($"lbl")
        .agg(sum($"kv").as("kv")).select($"lbl".as("v"), $"kv")
      val l2 = louvainOf(e2, sweeps, Some(deg2), Some(m))
      assign = assign
        .join(l2.select($"v".as("c0"), $"lbl".as("c2")), $"lbl" === $"c0")
        .select($"v", $"c2".as("lbl"))
      curEdges = e2
      curDeg = deg2
      curLbl = l2
    }
    assign
  }

  def louvainMulti(s: SparkSession, dir: String, sweeps: Int = 5,
      levels: Int = 2): DataFrame = {
    import s.implicits._
    louvainLevelsOf(edgesUnsorted(s, dir), sweeps, levels)
      .select($"v".as("part"), $"lbl".as("community"))
      .orderBy($"part")
  }

  // G25 — FastRP node embeddings (Chen, Sultan, Tian, Chen, Skiena 2019,
  // "Fast and Accurate Network Embeddings via Very Sparse Random
  // Projection"; gds.fastRP is Neo4j GDS's default embedder): the bridge
  // the VERDICT r15 frontier list named — G18/G18b emit walk CORPORA,
  // but nothing materialized graph structure into VECTORS the V-family
  // can index. FastRP does it in closed form: a very sparse random
  // projection of the adjacency structure (init entries {+1, −1, 0}
  // with density 1/s, signs from a hash of (node, dim)), then a fixed
  // number of neighbor-averaging rounds, summed with per-round weights.
  //
  // Hash-match discipline (the G18b playbook): every quantity is a
  // BIGINT. Init = sign(h64('frp:'||v||':'||k) mod 6) · SCALE — a
  // fixed-point representation at SCALE = 10⁶, density 1/3 (s = 3, the
  // paper's very-sparse choice; the √s magnitude constant is a global
  // scalar, irrelevant to cosine geometry, so the integer lattice
  // absorbs it). Each round is x_r(v) = ⌊Σ_{u∈N(v)} x_{r−1}(u) /
  // deg(v)⌋ — the floor keeps the state integer; both engines compute
  // the SAME IEEE-double quotient (exact: numerator < 2⁵³) and the same
  // floor, so the replay is bit-identical with no 6dp rounding anywhere.
  // Final embedding = x₁ + x₂ + … + x_r (unit iteration weights;
  // per-round L2 normalization is dropped — it rescales rows by a
  // scalar, and every consumer here is cosine-based).
  //
  // Scale shape per round: ONE equi-join of the node-sized state frame
  // against the src-partitioned arc checkpoint (arcs never re-shuffle),
  // then ONE groupBy(dst) carrying `dim` columnar SUM aggregates —
  // map-side combined, so the exchange is node-sized × dim regardless
  // of arc count. The state rides as dim COLUMNS, not dim rows: the
  // join ships one row per arc and the aggregation stays in whole-stage
  // codegen — no explode on the hot path. localCheckpoint per round
  // truncates lineage (the LPA/Louvain loop discipline).
  /** Column-form FastRP state: (v, x0 … x{dim−1}) all BIGINT. */
  private[graft] def fastRpCols(edges: DataFrame, dim: Int, rounds: Int,
      scale: Long = 1000000L): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    // r17: ONE arc-sized checkpoint instead of two. The old shape built
    // loopArcs (checkpoint #1: mirror + repartition + materialize) and
    // then re-checkpointed the same arcs joined with degree (#2). The
    // mirror is a cheap union of two cached-edge scans, so derive both
    // deg and the degree-annotated checkpoint straight from it — the
    // only arc-sized materialization left is arcsD itself. Same rows,
    // same partitioning, bit-identical chain.
    val base = edges.select($"src", $"dst")
      .unionAll(edges.select($"dst".as("src"), $"src".as("dst")))
    val deg = base.groupBy($"src").agg(count(lit(1)).as("deg"))
    // destination degree rides the arc checkpoint so the per-round agg
    // needs no post-agg join back to the degree frame
    val arcsD = partitionedCheckpoint(
      base.join(deg.select($"src".as("dst"), $"deg".as("dd")), "dst"), "src",
      sorted = true)
    def initCol(k: Int) = {
      val h = TextOps.h64(concat(
        lit("frp:"), $"src".cast("string"), lit(":"), lit(k).cast("string")))
      when(h % 6 === 0, lit(scale)).when(h % 6 === 1, lit(-scale))
        .otherwise(lit(0L)).as(s"x$k")
    }
    // node set = distinct mirrored sources ≡ the old deg keys, read off
    // the already-materialized checkpoint instead of a second deg pass
    var x = arcsD.select($"src").distinct()
      .select($"src".as("v") +: (0 until dim).map(initCol): _*)
      .localCheckpoint(eager = true)
    val levels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (_ <- 1 to rounds) {
      val sums = (0 until dim).map(k => sum(col(s"x$k")).as(s"s$k"))
      x = arcsD.join(x, $"src" === $"v")
        .groupBy($"dst", $"dd")
        .agg(sums.head, sums.tail: _*)
        .select($"dst".as("v") +: (0 until dim).map(k =>
          floor(col(s"s$k").cast("double") / $"dd".cast("double"))
            .cast("long").as(s"x$k")): _*)
        .localCheckpoint(eager = true)
      levels += x
    }
    levels.reduce(_ unionByName _)
      .groupBy($"v")
      .agg(sum(col("x0")).as("x0"),
        (1 until dim).map(k => sum(col(s"x$k")).as(s"x$k")): _*)
  }

  /** G25 contract entry: the embedding unpivoted to driver-comparable
    * scalars — one (part, dim, val) row per coordinate, fully
    * oracle-replayable (the integer chain replays as a MATERIALIZED-CTE
    * round chain in DuckDB — see SparkEntry.fastRpOracle). */
  def fastRp(s: SparkSession, dir: String, dim: Int = 8,
      rounds: Int = 3): DataFrame = {
    import s.implicits._
    fastRpCols(edgesUnsorted(s, dir), dim, rounds)
      .select($"v".as("part"), explode(array((0 until dim).map(k =>
        struct(lit(k).cast("long").as("dim"), col(s"x$k").as("val"))): _*))
        .as("e"))
      .select($"part", $"e.dim".as("dim"), $"e.val".as("val"))
      .orderBy($"part", $"dim")
  }

  /** Array-form embeddings for the vector surface: (part, vec) with the
    * fixed-point lattice rescaled to O(1) doubles — the frame the
    * V-family consumes (LSH banding, cosine top-k, recall panels; the
    * Wave16 spec drives bandSigs + exact re-rank over this frame). */
  def fastRpVectors(s: SparkSession, dir: String, dim: Int = 8,
      rounds: Int = 3, scale: Long = 1000000L): DataFrame = {
    import s.implicits._
    fastRpCols(edgesUnsorted(s, dir), dim, rounds, scale)
      .select($"v".as("part"), array((0 until dim).map(k =>
        col(s"x$k").cast("double") / lit(scale.toDouble)): _*).as("vec"))
  }
}
