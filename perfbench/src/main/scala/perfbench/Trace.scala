package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval with its cause. Times are epoch milliseconds, the
  * clock Spark's listener events carry. */
final case class Span(name: String, start: Long, end: Long, parent: String,
    query: String)

object Tracer {
  /** The local property that ties a Spark job to the query that ran it. */
  val QueryKey = "perfbench.query"
}

/** The traced run's instrumentation, attached from outside the engine:
  * a SparkListener (jobs, stages, tasks, block updates, SQL executions),
  * a QueryExecutionListener (planning phase times) and a
  * StreamingQueryListener (epoch progress). Everything stays in memory
  * until the run ends. Jobs are tied to the query that launched them
  * through the `perfbench.query` local property the client sets; SQL
  * executions and planning phases carry no such tag and are tied to a
  * query by time, in run.py. */
final class Tracer {
  import Tracer.QueryKey

  final class Counters {
    var jobs, stages, tasks, failedTasks = 0L
    var inputBytes, inputRows, shuffleWrite, shuffleRead, spill = 0L
    var fetchWaitMs, runMs, cpuNs, gcMs = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val counters = new ConcurrentHashMap[String, Counters]()
  private val stageQuery = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, String)]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val execStart = new ConcurrentHashMap[Long, Long]()
  private val execs = mutable.ArrayBuffer.empty[(Long, Long)]
  private val blockBytes = new ConcurrentHashMap[String, Long]()
  @volatile private var cachedNow = 0L
  @volatile var cachedPeak = 0L
  val epochs = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def acc(q: String): Counters =
    counters.computeIfAbsent(q, _ => new Counters)

  def span(s: Span): Unit = spans.synchronized { spans += s }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val q = Option(e.properties).map(_.getProperty(QueryKey)).orNull
      if (q != null) {
        jobStart.put(e.jobId, (e.time, q))
        e.stageIds.foreach(stageQuery.put(_, q))
        val c = acc(q); c.synchronized { c.jobs += 1 }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, q) =>
        val c = acc(q); c.synchronized { c.jobSpans += ((t0, e.time)) }
        span(Span(s"dispatch.job.${e.jobId}", t0, e.time, q, q))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageQuery.get(e.stageInfo.stageId)).foreach { q =>
        val c = acc(q); c.synchronized { c.stages += 1 }
        val si = e.stageInfo
        for (s <- si.submissionTime; t <- si.completionTime)
          span(Span(s"dispatch.stage.${si.stageId}.${si.attemptNumber()}",
            s, t, q, q))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageQuery.get(e.stageId)).foreach { q =>
        val c = acc(q)
        val i = e.taskInfo
        c.synchronized {
          c.tasks += 1
          if (!i.successful) c.failedTasks += 1
          c.taskSpans += ((i.launchTime, i.finishTime))
          Option(e.taskMetrics).foreach { m =>
            c.inputBytes += m.inputMetrics.bytesRead
            c.inputRows += m.inputMetrics.recordsRead
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            c.spill += m.diskBytesSpilled + m.memoryBytesSpilled
            c.runMs += m.executorRunTime
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
          }
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execStart.put(s.executionId, s.time)
      case x: SparkListenerSQLExecutionEnd =>
        Option(execStart.remove(x.executionId)).foreach { t0 =>
          execs.synchronized { execs += ((t0, x.time)) }
          span(Span(s"driver.execution.${x.executionId}", t0, x.time, null,
            null))
        }
      case _ =>
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val now = b.memSize + b.diskSize
        val before = Option(blockBytes.put(b.blockId.name, now)).getOrElse(0L)
        synchronized {
          cachedNow += now - before
          cachedPeak = math.max(cachedPeak, cachedNow)
        }
      }
    }
  }

  /** The planning phases `qe` has timed so far. The listener below sees
    * the query execution of each action; the client calls this for the
    * DataFrame it built, whose analysis ran eagerly at construction. */
  def recordPhases(qe: QueryExecution): Unit = {
    val ps = qe.tracker.phases.toSeq.map { case (name, p) =>
      (name, p.startTimeMs, p.endTimeMs) }
    phases.synchronized { phases ++= ps }
  }

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      recordPhases(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = recordPhases(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val rec = Stream.progressRecord(e.progress)
      epochs.synchronized { epochs += rec }
      val start = rec("start_ms").asInstanceOf[Long]
      span(Span(s"streaming.epoch.${e.progress.batchId}", start,
        start + rec("trigger_ms").asInstanceOf[Long], e.progress.name,
        e.progress.name))
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Per-query counters and intervals, for run.py to aggregate. */
  def queries: Map[String, Map[String, Any]] =
    counters.asScala.toMap.map { case (q, c) => q -> c.synchronized {
      Map("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "failed_tasks" -> c.failedTasks, "input_bytes" -> c.inputBytes,
        "input_rows" -> c.inputRows, "shuffle_write" -> c.shuffleWrite,
        "shuffle_read" -> c.shuffleRead, "spill" -> c.spill,
        "fetch_wait_ms" -> c.fetchWaitMs, "run_ms" -> c.runMs,
        "cpu_ns" -> c.cpuNs, "gc_ms" -> c.gcMs,
        "job_spans" -> c.jobSpans.toSeq, "task_spans" -> c.taskSpans.toSeq)
    } }

  /** Spans for the client's timed queries: the query, its construction
    * (operators.build) and its action, plus each planning phase that
    * started inside the query. One client runs the queries one after
    * another, so a phase belongs to the query whose window holds it. */
  def spanQueries(runs: Seq[QueryRun]): Unit = {
    runs.foreach { r =>
      span(Span("query", r.startMs, r.endMs, null, r.id))
      span(Span("operators.build", r.startMs, r.buildEndMs, "query", r.id))
      span(Span("action", r.buildEndMs, r.endMs, "query", r.id))
    }
    planPhases.foreach { case (name, s, e) =>
      runs.find(r => r.startMs <= s && s <= r.endMs).foreach { r =>
        span(Span(s"plans.$name", s, e,
          if (s < r.buildEndMs) "operators.build" else "action", r.id))
      }
    }
  }

  def planPhases: Seq[(String, Long, Long)] =
    phases.synchronized { phases.toSeq }

  /** (start, end) of every SQL execution seen while attached. */
  def executions: Seq[(Long, Long)] = execs.synchronized { execs.toSeq }

  def allSpans: Seq[Span] = spans.synchronized { spans.toSeq }
}
