package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Records every Spark job (its call stack, `callSite.long`, and the
  * op span that ran it) and per-stage task totals. Attribution of a
  * job to a program layer happens in `run.py`, from the recorded stack.
  */
final class JobListener extends SparkListener {
  @volatile var enabled = true

  private final class StageAgg(val job: Int) {
    var tasks, runMs, cpuNs, gcMs, input, output, shuffleRead, shuffleWrite, spill, peakMem = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, String]]
  private val executionSite = mutable.Map.empty[String, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  private var ended = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (enabled) {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      jobs(e.jobId) = mutable.Map(
        "span" -> prop(JobListener.SpanKey).toLongOption.getOrElse(0L).toString,
        "start_us" -> (e.time * 1000L).toString,
        // A SQL execution's jobs may start on other threads (AQE stage
        // materialization), so the stack that ran the query is the one
        // its execution recorded; other jobs carry it on their final stage.
        "callsite" -> Json.str(executionSite.getOrElse(prop("spark.sql.execution.id"),
          if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details)))
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executionSite(s.executionId.toString) = s.details
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j("end_us") = (e.time * 1000L).toString
      j("ok") = (e.jobResult == JobSucceeded).toString
      ended += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { job =>
      val s = stages.getOrElseUpdate(e.stageId, new StageAgg(job))
      val m = e.taskMetrics
      s.tasks += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.taskMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.input += m.inputMetrics.bytesRead
        s.output += m.outputMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      }
    }
  }

  /** Waits (bounded) until the bus has delivered every job end. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (synchronized(ended < jobs.size) && System.nanoTime() < deadline) Thread.sleep(20)
  }

  def jobsJson: String = synchronized {
    jobs.map { case (id, f) =>
      (("id" -> id.toString) +: f.toSeq).map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    }.mkString("[", ",", "]")
  }

  def stagesJson: String = synchronized {
    stages.map { case (id, s) =>
      val sorted = s.taskMs.sorted
      val median = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
      val max = if (sorted.isEmpty) 0L else sorted.last
      s"""{"id":$id,"job":${s.job},"tasks":${s.tasks},"run_ms":${s.runMs},"cpu_ns":${s.cpuNs},""" +
        s""""gc_ms":${s.gcMs},"input":${s.input},"output":${s.output},"shuffle_read":${s.shuffleRead},""" +
        s""""shuffle_write":${s.shuffleWrite},"spill":${s.spill},"peak_mem":${s.peakMem},""" +
        s""""median_task_ms":$median,"max_task_ms":$max}"""
    }.mkString("[", ",", "]")
  }
}

object JobListener {
  /** Local property carrying the id of the op span a job runs under. */
  val SpanKey = "perfbench.span"
}
