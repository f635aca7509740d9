package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One Spark job as the benchmark sees it: the query execution that caused
  * it (from the thread-local tags the harness sets around each call), the
  * call site that names its kind, and the work its tasks did. */
final class JobSpan(val jobId: Int, val start: Long, val tags: Map[String, String],
    val method: String, val frames: Seq[String]) {
  var end = 0L
  var firstLaunch = Long.MaxValue
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var input = 0L
  var result = 0L
  var output = 0L
}

/** SparkListener that records a [[JobSpan]] per job while `enabled`.
  *
  * A job's call site comes from the SQL execution it belongs to when it
  * has one: AQE submits shuffle-stage jobs from a pool thread, whose own
  * call site is `CompletableFuture`, but the execution id and the
  * harness's tags are thread-local properties that follow the job there.
  * Jobs outside any SQL execution (RDD-level actions) use their own call
  * site. */
final class JobTracer extends SparkListener {
  @volatile var enabled = false
  private final case class Origin(method: String, frames: Seq[String])
  private val executions = new ConcurrentHashMap[Long, Origin]()
  private val jobs = new ConcurrentHashMap[Int, JobSpan]()
  private val stageJob = new ConcurrentHashMap[Int, JobSpan]()

  private def origin(short: String, long: String): Origin = Origin(
    short.takeWhile(_ != ' '),
    long.linesIterator.map(_.trim).filter(_.startsWith("graft."))
      .map(_.takeWhile(_ != '(')).take(8).toSeq)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart if enabled =>
      executions.put(e.executionId, origin(e.description, e.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val props = Option(e.properties)
    val tags = props.toSeq.flatMap(_.stringPropertyNames().asScala
      .filter(_.startsWith(Harness.TagPrefix))
      .map(k => k.stripPrefix(Harness.TagPrefix) -> e.properties.getProperty(k))).toMap
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(executions.get(id.toLong)))
    val o = exec.getOrElse {
      val s = e.stageInfos.minBy(_.stageId)
      origin(s.name, s.details)
    }
    val span = new JobSpan(e.jobId, e.time, tags, o.method, o.frames)
    jobs.put(e.jobId, span)
    e.stageIds.foreach(stageJob.putIfAbsent(_, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks += 1
      j.firstLaunch = math.min(j.firstLaunch, e.taskInfo.launchTime)
      if (e.reason != Success) j.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.input += m.inputMetrics.bytesRead
        j.result += m.resultSize
        j.output += m.outputMetrics.bytesWritten
      }
    }

  /** Every recorded job, in job-id order. Call after the listener bus
    * has drained. */
  def spans: Seq[JobSpan] = jobs.values.asScala.toSeq.sortBy(_.jobId)
}
