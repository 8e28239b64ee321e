package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** The benchmark's own SparkListener (installed only on traced runs):
  * one record per Spark job with the harness span that started it, the
  * streaming batch it belongs to, and the task metrics summed over its
  * stages. SQL executions are kept too, as the unit of one dataset
  * write. Listener events arrive asynchronously; [[settle]] waits until
  * every started job has ended. */
final class EngineListener extends SparkListener {
  private final class Job(val id: Int, val start: Long,
      val props: java.util.Properties) {
    var end = 0L
    var ok = true
    var stagesDone = 0
    var tasks = 0L
    var runNs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var deserMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var peakMem = 0L
    var output = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val sqlStart = mutable.HashMap.empty[Long, Long]
  private val sqlDone = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  private def ms2ns(ms: Long): Long = ms * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new Job(e.jobId, ms2ns(e.time),
      Option(e.properties).getOrElse(new java.util.Properties))
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = ms2ns(e.time)
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.stagesDone += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runNs += ms2ns(m.executorRunTime)
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.deserMs += m.executorDeserializeTime
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
      j.output += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStart(s.executionId) = ms2ns(s.time)
      case s: SparkListenerSQLExecutionEnd =>
        sqlStart.remove(s.executionId).foreach { t0 =>
          sqlDone += ((s.executionId, t0, ms2ns(s.time)))
        }
      case _ =>
    }
  }

  /** Wait (bounded) until every started job has an end event. */
  def settle(timeoutMs: Long = 15000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def open = synchronized(jobs.values.count(_.end == 0L))
    Thread.sleep(100)
    while (open > 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
  }

  def jobRecords: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map { j =>
      def prop(k: String) = Option(j.props.getProperty(k))
      Map(
        "job_id" -> j.id, "start_ns" -> j.start, "end_ns" -> j.end,
        "ok" -> j.ok, "stages" -> j.stagesDone, "tasks" -> j.tasks,
        "run_ns" -> j.runNs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
        "deser_ms" -> j.deserMs, "shuffle_read_bytes" -> j.shuffleRead,
        "shuffle_write_bytes" -> j.shuffleWrite, "spill_bytes" -> j.spill,
        "peak_exec_mem_bytes" -> j.peakMem, "output_bytes" -> j.output,
        "span" -> prop(Tracer.SpanProperty).map(_.toLong),
        "stream_batch" -> prop("streaming.sql.batchId").map(_.toLong),
        "stream_query" -> prop("sql.streaming.queryId"),
        "sql_exec" -> prop("spark.sql.execution.id").map(_.toLong))
    }
  }

  def sqlRecords: Seq[Map[String, Any]] = synchronized {
    sqlDone.toSeq.map { case (id, s, e) =>
      Map("sql_exec" -> id, "start_ns" -> s, "end_ns" -> e)
    }
  }
}
