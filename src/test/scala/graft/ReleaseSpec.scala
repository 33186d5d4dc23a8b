package graft

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}
import org.apache.spark.sql.functions._
import graft.operators.{Bpe, Dedup, GraphOps}

/** The release rule of every iterative operator: a call returns holding
  * only the storage its answer reads — storage after the call equals
  * storage before plus the local checkpoints in the answer's lineage and
  * the persisted RDDs computing it would reach. Nothing of a concurrent
  * call or of a cached input is freed, and the per-round probes of the
  * Louvain and closure loops ride the round's checkpoint pass. */
class ReleaseSpec extends SparkSpecBase {
  import spark.implicits._

  /** Two weighted 4-cliques joined by a light bridge, plus a pendant. */
  private lazy val g: DataFrame = {
    def clique(ids: Seq[Long], w: Long) =
      for (a <- ids; b <- ids if a < b) yield (a, b, w)
    (clique(Seq(1L, 2L, 3L, 4L), 5L) ++ clique(Seq(5L, 6L, 7L, 8L), 4L) ++
      Seq((4L, 5L, 1L), (8L, 9L, 2L))).toDF("src", "dst", "weight")
  }
  private def seeds = Seq(1L, 6L).toDF("pk")

  /** The RDD ids the rule lets `answer` keep: local checkpoints in its
    * lineage, and persisted RDDs no fully cached RDD hides from it. */
  private def allowed(answer: DataFrame): Set[Int] = {
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val cached = spark.sparkContext.getRDDStorageInfo
      .filter(i => i.numCachedPartitions == i.numPartitions).map(_.id).toSet
    val keep = mutable.HashSet.empty[Int]
    val visited = mutable.HashSet.empty[(Int, Boolean)]
    def walk(r: RDD[_], shadowed: Boolean): Unit =
      if (visited.add((r.id, shadowed))) {
        val ck = r.isCheckpointed && r.getCheckpointFile.isEmpty
        if (persisted(r.id) && (ck || !shadowed)) keep += r.id
        r.dependencies.foreach(d => walk(d.rdd, shadowed || cached(r.id)))
      }
    answer.queryExecution.logical.collectWithSubqueries {
      case r: LogicalRDD => r.rdd
      case r: ExternalRDD[_] => r.rdd
    }.foreach(walk(_, shadowed = false))
    keep.toSet
  }

  /** Runs `call`, returns its answer and what it left holding blocks. */
  private def grown(call: => DataFrame): (DataFrame, Map[Int, StorageDump.Held]) = {
    val before = heldRdds.keySet
    val answer = call
    (answer, heldRdds -- before)
  }

  private val calls: Seq[(String, () => DataFrame)] = Seq(
    "communitiesOf" -> (() => GraphOps.communitiesOf(g, 5)),
    "louvainOf" -> (() => GraphOps.louvainOf(g, 5)),
    "louvainLevelsOf" -> (() => GraphOps.louvainLevelsOf(g, 3, 2)),
    "louvainTraceOf" -> (() => GraphOps.louvainTraceOf(g, 4)),
    "pprOf" -> (() => GraphOps.pprOf(g, seeds, 5)),
    "pprGX" -> (() => GraphOps.pprGX(g, seeds, 5)),
    "shortestPathsOf" -> (() => GraphOps.shortestPathsOf(g, 2)),
    "closenessOf" -> (() => GraphOps.closenessOf(g, 2)),
    "weightedPathsOf" -> (() => GraphOps.weightedPathsOf(g, 2, 3)),
    "betweennessOf" -> (() => GraphOps.betweennessOf(g, 2, 4)),
    "kCoreOf" -> (() => GraphOps.kCoreOf(g, 3)),
    "reachProfileOf" -> (() => GraphOps.reachProfileOf(g, 3)),
    "harmonicAllOf" -> (() => GraphOps.harmonicAllOf(g, 3)),
    "fastRpCols" -> (() => GraphOps.fastRpCols(g, 4, 2)),
    "randomWalksOf" -> (() => GraphOps.randomWalksOf(g, 2, 3)),
    "node2vecWalksOf" -> (() => GraphOps.node2vecWalksOf(g, 2, 3, 1L, 4L, 16L)),
    "hitsOf" -> (() => GraphOps.hitsOf(g.select($"src".as("u"), $"dst".as("p")), 3)),
    "dupClustersOf" -> (() => Dedup.dupClustersOf(Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id"),
      Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b"))),
    "bpeMergesOf" -> (() => Bpe.bpeMergesOf(
      Seq("low lower lowest", "new newer newest").toDF("text"), 5)),
    "pageRankOf" -> (() => GraphOps.pageRankOf(g, 5)),
    "pageRankWeightedGX" -> (() => GraphOps.pageRankWeightedGX(g, 5)),
    "connectedComponentsOf" -> (() => GraphOps.connectedComponentsOf(g)),
    "triangleCountGraphX" -> (() => GraphOps.triangleCountGraphX(g)))

  test("every loop and GraphX leg returns holding only what its answer reads") {
    val bad = calls.flatMap { case (name, call) =>
      val (answer, left) = grown(call())
      val extra = left.keySet -- allowed(answer)
      val rows = answer.collect().length // the answer still reads
      assert(rows > 0, s"$name returned no rows")
      if (extra.isEmpty) None
      else Some(s"$name left ${extra.toSeq.sorted.map(left).mkString(", ")}")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("a second identical call leaves no growth beyond its own answer") {
    val bad = calls.flatMap { case (name, call) =>
      val (a1, left1) = grown(call())
      val (a2, left2) = grown(call())
      val ok = left2.size == left1.size &&
        left2.values.map(_.bytes).sum == left1.values.map(_.bytes).sum &&
        left2.keySet.subsetOf(allowed(a2))
      assert(a1.collect().toSet == a2.collect().toSet, s"$name: calls disagree")
      if (ok) None else Some(s"$name: first call left $left1, second $left2")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("two loop calls on two threads both return their correct rows") {
    def lpa = GraphOps.communitiesOf(g, 5).collect().toSet
    def louvain = GraphOps.louvainOf(g, 6).collect().toSet
    val (wantLpa, wantLouvain) = (lpa, louvain)
    for (_ <- 0 until 3) {
      val fa = Future(GraphOps.communitiesOf(g, 5))
      val fb = Future(GraphOps.louvainOf(g, 6))
      val (a, b) = (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf))
      assert(a.collect().toSet == wantLpa)
      assert(b.collect().toSet == wantLouvain)
    }
  }

  test("a loop called on a Caches frame leaves that frame cached") {
    val key = s"release-spec:${java.util.UUID.randomUUID}"
    val cached = Caches.cached(key)(g.select($"src", $"dst", $"weight"))
    try {
      val before = heldRdds.keySet
      assert(cached.count() == g.count())
      val mine = heldRdds.keySet -- before // the frame's cached buffers
      assert(mine.nonEmpty)
      GraphOps.communitiesOf(cached, 5).collect()
      GraphOps.pageRankOf(cached, 5).collect()
      GraphOps.louvainOf(cached, 5).collect()
      assert(cached.storageLevel.useMemory, "the Caches frame lost its cache entry")
      assert(mine.subsetOf(heldRdds.keySet), "a loop freed storage it did not make")
    } finally cached.unpersist(blocking = true)
  }

  test("louvain and the closure loop: the per-round probe rides the checkpoint pass") {
    // AQE off: a round is its checkpoint job plus its broadcasts, a count
    // that does not depend on the order the stages finish in
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(aqe)
    spark.conf.set(aqe, "false")
    try {
      // no early exit can fire before a third sweep
      def sweeps(n: Int) = jobsOf(GraphOps.louvainCounted(g, n))
      def path(n: Long) = jobsOf(Dedup.dupClustersOf((1L to n).toDF("doc_id"),
        (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")))
      // a path of n nodes takes n rounds: n − 1 change a label, one confirms
      val (perSweep, perRound) = (sweeps(2) - sweeps(1), (path(8) - path(4)) / 4.0)
      // the checkpoint and three broadcasts; the checksum scan cost one more
      assert(perSweep == 4, s"$perSweep jobs per Louvain sweep")
      // the checkpoint and one broadcast; the changed-label count cost one more
      assert(perRound == 2.0, s"$perRound jobs per closure round")
    } finally prev.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
  }

  test("louvain: every sweep's label schema equals the initial labeling's") {
    val first = GraphOps.louvainCounted(g, 0)._1.schema
    val later = GraphOps.louvainCounted(g, 3, earlyExit = false)._1.schema
    assert(later == first, s"$later vs $first") // StructField equality holds nullability
  }
}
