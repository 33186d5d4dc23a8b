package perfbench

import scala.collection.mutable
import org.apache.spark.{PerfbenchBridge, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler and planner counters of one benchmark op. */
final class OpStats {
  var jobs, stages, tasks, failedTasks = 0L
  var taskMs, cpuNs, gcMs = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var inputBytes, inputRecords, outputBytes, outputRecords = 0L
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
}

/** Attributes Spark listener events to the benchmark op that caused them.
  *
  * The runner sets the local property [[Tracer.OpKey]] around each op;
  * Spark copies local properties into every job it submits from that
  * thread, so a job (and through it its stages and tasks) names its op.
  * Planning time comes from each query's QueryPlanningTracker, read by a
  * QueryExecutionListener and given to the op during which its planning
  * began. Events arrive on the asynchronous listener bus, so callers must
  * [[drain]] before reading [[stats]] or [[planMs]]. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val stageOp = mutable.Map.empty[Int, Int]
  private val byOp = mutable.Map.empty[Int, OpStats]
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)] // (start epoch ms, ms)

  private def of(op: Int): OpStats = byOp.getOrElseUpdate(op, new OpStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.OpKey))).map(_.toInt).foreach { op =>
      val st = of(op)
      st.jobs += 1
      e.stageIds.foreach(stageOp(_) = op)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOp.get(info.stageId).foreach { op =>
      val st = of(op)
      st.stages += 1
      st.tasks += info.numTasks
      for (a <- info.submissionTime; b <- info.completionTime) st.stageSpans += ((a, b))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val st = of(op)
      if (e.reason != Success) st.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        st.taskMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        st.inputBytes += m.inputMetrics.bytesRead
        st.inputRecords += m.inputMetrics.recordsRead
        st.outputBytes += m.outputMetrics.bytesWritten
        st.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  private def recordPlan(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      plans += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs.toDouble).sum))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)

  def drain(sc: org.apache.spark.SparkContext): Unit = PerfbenchBridge.drainListeners(sc)

  def stats(op: Int): OpStats = synchronized(byOp.getOrElse(op, new OpStats))

  /** Planning milliseconds of the queries whose planning began in the
    * epoch-millisecond window [from, to]: ops run one at a time, so that
    * window is one op's. */
  def planMs(from: Long, to: Long): Double = synchronized {
    plans.collect { case (start, ms) if start >= from && start <= to => ms }.sum
  }
}

object Tracer {
  val OpKey = "perfbench.op"
}
