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
  /** Eager `localCheckpoint` of `df`, executed with the rules Spark runs
    * when AQE is off. `localCheckpoint` records the executed plan's
    * `outputPartitioning`, `outputOrdering` and stats on the resulting
    * `LogicalRDD`; under AQE that plan is an unexecuted
    * `AdaptiveSparkPlanExec` reporting `UnknownPartitioning`, so the
    * layout would be lost. The session and its conf are untouched. Named
    * like Spark's method so the checkpoint RDD's call site reads the same
    * (`localCheckpoint at <caller>`). */
  def localCheckpoint(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val qe = new QueryExecution(s, df.logicalPlan) {
      override protected def preparations: Seq[Rule[SparkPlan]] =
        QueryExecution.preparations(s, None, subquery = false)
    }
    new classic.Dataset[Row](qe, ExpressionEncoder(qe.analyzed.schema)).localCheckpoint(true)
  }
}
