package org.apache.spark.sql.execution

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ClassicConversions._

/** Bridge to a non-adaptive `QueryExecution` on the caller's own session
  * (`QueryExecution.preparations` and the Dataset-from-QueryExecution
  * constructor are sql-package-private in Spark 4, so the bridge lives in
  * the package — the `GraftColumn` pattern). */
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

  /** Frees the storage of every checkpoint `df` reads. A checkpointed
    * frame is a `LogicalRDD` over an RDD whose blocks hold its rows;
    * `Dataset.unpersist` only drops cache-manager entries, so it leaves
    * those blocks in storage until the RDD is garbage-collected. Call it
    * after the frame's last use: a later read of `df` fails. The blocks
    * go through `SparkContext.unpersistRDD`, which `RDD.unpersist` calls
    * after warning that a local checkpoint cannot be recomputed — here
    * that is the intent, so each release logs nothing. */
  def release(df: DataFrame): Unit =
    df.logicalPlan.foreach {
      case r: LogicalRDD => r.rdd.sparkContext.unpersistRDD(r.rdd.id, blocking = true)
      case _ =>
    }
}
