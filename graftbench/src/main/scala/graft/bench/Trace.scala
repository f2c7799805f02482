package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw layer events of a traced sweep, recorded by a SparkListener
  * (jobs, stages and their task metrics) and a QueryExecutionListener
  * (Catalyst phases), kept in memory and written out once at the end.
  *
  * Jobs and stages carry the query label the harness sets as a local
  * property before each call, so they join to their query directly.
  * Catalyst phases carry no properties; they are joined to the query
  * whose interval holds their start time, which is exact under the
  * single closed-loop client thread.
  */
final class Trace {
  private val events = new ConcurrentLinkedQueue[String]()
  private val stageLabel = new java.util.concurrent.ConcurrentHashMap[Int, (String, String)]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, String, Long, Int)]()

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  private def q(s: String) = graft.tools.DriverSession.jsonQuote(s)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, (prop(e.properties, Harness.QueryProp),
        prop(e.properties, Harness.PhaseProp), e.time, e.stageIds.size))

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (label, phase, t0, nStages) =>
        events.add(s"""{"kind":"job","id":${e.jobId},"label":${q(label)},""" +
          s""""phase":${q(phase)},"start_ms":$t0,"end_ms":${e.time},"stages":$nStages}""")
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageLabel.put(e.stageInfo.stageId, (prop(e.properties, Harness.QueryProp),
        prop(e.properties, Harness.PhaseProp)))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val (label, phase) = Option(stageLabel.remove(si.stageId)).getOrElse(("", ""))
      val tm = si.taskMetrics
      val sr = tm.shuffleReadMetrics
      val sw = tm.shuffleWriteMetrics
      events.add(s"""{"kind":"stage","id":${si.stageId},"attempt":${si.attemptNumber()},""" +
        s""""label":${q(label)},"phase":${q(phase)},""" +
        s""""start_ms":${si.submissionTime.getOrElse(0L)},"end_ms":${si.completionTime.getOrElse(0L)},""" +
        s""""tasks":${si.numTasks},"run_ms":${tm.executorRunTime},"cpu_ns":${tm.executorCpuTime},""" +
        s""""deser_ms":${tm.executorDeserializeTime},"gc_ms":${tm.jvmGCTime},""" +
        s""""shuffle_write_b":${sw.bytesWritten},"shuffle_read_b":${sr.totalBytesRead},""" +
        s""""fetch_wait_ms":${sr.fetchWaitTime},""" +
        s""""spill_b":${tm.memoryBytesSpilled + tm.diskBytesSpilled},""" +
        s""""input_b":${tm.inputMetrics.bytesRead},"input_rows":${tm.inputMetrics.recordsRead},""" +
        s""""output_rows":${tm.outputMetrics.recordsWritten}}""")
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        events.add(s"""{"kind":"catalyst","phase":${q(phase)},""" +
          s""""start_ms":${s.startTimeMs},"end_ms":${s.endTimeMs}}""")
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  def lines: Iterator[String] = events.iterator().asScala
}
