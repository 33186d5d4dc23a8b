package org.apache.spark.sql.execution

import scala.collection.mutable
import org.apache.spark.graphx.Graph
import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ClassicConversions._

/** Bridge to a non-adaptive `QueryExecution` on the caller's own session
  * (`QueryExecution.preparations` and the Dataset-from-QueryExecution
  * constructor are sql-package-private in Spark 4, so the bridge lives in
  * the package — the `GraftColumn` pattern), and the checkpoint scope
  * every iterative operator runs in. */
object GraftCheckpoint {
  /** `df` over a `QueryExecution` prepared with the rules Spark runs
    * when AQE is off: an action on the returned frame itself runs as one
    * job (its shuffle stages are not split into jobs of their own), and
    * its `queryExecution` is the one that executed. A frame derived from
    * it plans as usual. The session and its conf are untouched. */
  def nonAdaptive(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val qe = new QueryExecution(s, df.logicalPlan) {
      override protected def preparations: Seq[Rule[SparkPlan]] =
        QueryExecution.preparations(s, None, subquery = false)
    }
    new classic.Dataset[Row](qe, ExpressionEncoder(qe.analyzed.schema))
  }

  /** Eager `localCheckpoint` of `df`, executed without AQE.
    * `localCheckpoint` records the executed plan's `outputPartitioning`,
    * `outputOrdering` and stats on the resulting `LogicalRDD`; under AQE
    * that plan is an unexecuted `AdaptiveSparkPlanExec` reporting
    * `UnknownPartitioning`, so the layout would be lost. Named like
    * Spark's method so the checkpoint RDD's call site reads the same
    * (`localCheckpoint at <caller>`). */
  def localCheckpoint(df: DataFrame): DataFrame = nonAdaptive(df).localCheckpoint(true)

  /** Frees the storage of every checkpoint `df` reads, which
    * `Dataset.unpersist` leaves until a GC. Call it after the frame's
    * last use: a later read of `df` fails. */
  def release(df: DataFrame): Unit =
    df.logicalPlan.foreach {
      case r: LogicalRDD => r.rdd.sparkContext.unpersistRDD(r.rdd.id, blocking = true)
      case _ =>
    }

  /** Frees `r`'s blocks. A local checkpoint goes through the context:
    * `RDD.unpersist` would log a warning that its lineage is truncated. */
  def unpersist(r: RDD[_], blocking: Boolean): Unit =
    if (r.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]]))
      r.sparkContext.unpersistRDD(r.id, blocking)
    else r.unpersist(blocking)

  private val current = new ThreadLocal[Scope]

  /** Runs `body` in a checkpoint scope, whose invariants are:
    *  - it frees only RDDs it recorded: checkpoints made through it and
    *    the persisted RDDs of graphs registered with it. It never diffs
    *    the context's persisted RDDs, so a concurrent call in the same
    *    session, a `Caches` frame or a caller's cached input is untouched;
    *  - on return it keeps a recorded local checkpoint in the answer's
    *    lineage (its blocks are its only copy) and another recorded RDD
    *    only if computing the answer can reach it (no fully cached RDD lies
    *    between them); it frees the rest, all of it if `body` throws;
    *  - what it keeps moves to the scope enclosing it on this thread. */
  def scoped[T](body: Scope => Dataset[T]): Dataset[T] = {
    val (outer, scope) = (Option(current.get), new Scope)
    current.set(scope)
    var answer: Option[Dataset[T]] = None
    try { answer = Some(body(scope)); answer.get }
    finally { current.set(outer.orNull); scope.close(answer, outer) }
  }

  /** `checkpoint` makes an eager (adaptive) local checkpoint through the
    * scope; `hold` takes one made elsewhere, such as `localCheckpoint`'s. */
  sealed abstract class Ledger {
    protected def scope: Scope
    protected def add(ids: Seq[Int]): Unit
    def checkpoint[T](ds: Dataset[T]): Dataset[T] = hold(ds.localCheckpoint(eager = true))
    def hold[T](ck: Dataset[T]): Dataset[T] = ck.logicalPlan match {
      case r: LogicalRDD if isLocalCheckpoint(r.rdd) => add(scope.record(Seq(r.rdd))); ck
      case p => throw new IllegalArgumentException(s"not a local checkpoint: ${p.nodeName}")
    }
  }

  /** One loop call's ledger; what it holds lives until the close.
    * Thread-safe: a loop may checkpoint from several threads. */
  final class Scope private[GraftCheckpoint] extends Ledger {
    private val held = mutable.LinkedHashMap.empty[Int, RDD[_]]
    private val seen = mutable.HashSet.empty[Int]
    protected def scope: Scope = this
    protected def add(ids: Seq[Int]): Unit = ()

    /** Records the persisted RDDs in the lineage of `g`'s vertices and
      * edges above the SQL execution it was read from. */
    def graph[G <: Graph[_, _]](g: G): G = { recordGraph(g); g }

    /** Loop state whose rounds, once materialized, free the rounds
      * older than the newest `keep`. */
    def rounds(keep: Int = 1): Rounds = new Rounds(this, keep)

    private[GraftCheckpoint] def record(rdds: Seq[RDD[_]]): Seq[Int] = synchronized {
      rdds.filter(r => seen.add(r.id)).map { r => held(r.id) = r; r.id }
    }

    private[GraftCheckpoint] def free(ids: Seq[Int]): Unit =
      synchronized(ids.flatMap(held.remove)).foreach(unpersist(_, blocking = true))

    private[GraftCheckpoint] def recordGraph(g: Graph[_, _]): Seq[Int] = {
      val persisted = g.vertices.sparkContext.getPersistentRDDs.keySet
      val (visited, out) = (mutable.HashSet.empty[Int], mutable.ArrayBuffer.empty[RDD[_]])
      def walk(r: RDD[_]): Unit =
        if (!r.isInstanceOf[SQLExecutionRDD] && visited.add(r.id) && !synchronized(seen(r.id))) {
          if (persisted(r.id)) out += r
          r.dependencies.foreach(d => walk(d.rdd))
        }
      walk(g.vertices)
      walk(g.edges)
      record(out.toSeq)
    }

    private[GraftCheckpoint] def close(answer: Option[Dataset[_]], outer: Option[Scope]): Unit = {
      val mine = synchronized(held.values.toVector)
      val cached = mine.headOption.fold(Set.empty[Int])(_.sparkContext.getRDDStorageInfo
        .filter(i => i.numCachedPartitions == i.numPartitions).map(_.id).toSet)
      val (ids, keep) = (mine.map(_.id).toSet, mutable.HashSet.empty[Int])
      val visited = mutable.HashSet.empty[(Int, Boolean)]
      // `shadowed`: a fully cached RDD lies between the answer and r
      def walk(r: RDD[_], shadowed: Boolean): Unit =
        if (visited.add((r.id, shadowed))) {
          if (ids(r.id) && (isLocalCheckpoint(r) || !shadowed)) keep += r.id
          r.dependencies.foreach(d => walk(d.rdd, shadowed || cached(r.id)))
        }
      answer.toSeq.flatMap(_.logicalPlan.collectWithSubqueries {
        case r: LogicalRDD => r.rdd
        case r: ExternalRDD[_] => r.rdd
      }).foreach(walk(_, shadowed = false))
      outer.foreach(_.record(mine.filter(r => keep(r.id))))
      free(ids.toSeq.filterNot(keep))
    }
  }

  /** See [[Scope.rounds]]. A round is one checkpoint or one graph. */
  final class Rounds private[GraftCheckpoint] (protected val scope: Scope, keep: Int)
      extends Ledger {
    private var live = Vector.empty[Seq[Int]]

    /** Caches `g` as a round, materialized first if it frees one. */
    def graph[V, E](g: Graph[V, E]): Graph[V, E] = {
      g.cache()
      if (synchronized(live.size >= keep)) g.edges.foreachPartition(_ => ()) // and the vertices
      add(scope.recordGraph(g))
      g
    }

    protected def add(ids: Seq[Int]): Unit = scope.free(synchronized {
      val (old, young) = (live :+ ids).splitAt(math.max(0, live.size + 1 - keep))
      live = young
      old.flatten
    })
  }

  /** A materialized checkpoint with no file: its blocks are its only copy. */
  private def isLocalCheckpoint(r: RDD[_]): Boolean =
    r.isCheckpointed && r.getCheckpointFile.isEmpty
}
