package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge

/** The listener behind `Layers.measure`: one per SparkContext, counting
  * every job, stage and task the context ran since the last `measure`
  * began. Callbacks run on the listener-bus thread; reads synchronize. */
final class Layers private () extends SparkListener {
  private var jobs, stages, tasks, failedTasks = 0L
  private var inputBytes, inputRows, shuffleWrite, shuffleRead, spill = 0L
  private var runMs, cpuNs, gcMs, from, to = 0L
  private val taskSpans = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    tasks += 1
    if (!i.successful) failedTasks += 1
    taskSpans += ((i.launchTime, i.finishTime))
    Option(e.taskMetrics).foreach { m =>
      inputBytes += m.inputMetrics.bytesRead
      inputRows += m.inputMetrics.recordsRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled + m.memoryBytesSpilled
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
    }
  }

  private def open(ms: Long): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; failedTasks = 0; inputBytes = 0
    inputRows = 0; shuffleWrite = 0; shuffleRead = 0; spill = 0; runMs = 0
    cpuNs = 0; gcMs = 0; from = ms; to = ms; taskSpans.clear()
  }

  private def close(ms: Long): Unit = synchronized { to = ms }

  /** The counts of the last `measure`d window, as they stand now. */
  def record: Layers.Record = synchronized {
    val window = to - from
    // milliseconds of the window covered by at least one task span
    val covered = taskSpans.toSeq
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
        if (b <= end) (sum, end) else (sum + b - math.max(a, end), b)
      }._1
    Layers.Record(jobs, stages, tasks, failedTasks,
      (window - covered) / 1e3,
      if (window > 0) covered.toDouble / window else 0.0,
      inputBytes, inputRows, shuffleWrite, shuffleRead, spill,
      runMs / 1e3, cpuNs / 1e9, gcMs / 1e3)
  }
}

/** One query's cost split by layer: the batch counterpart of the
  * per-epoch progress record a stream reports (streaming/Metrics.scala).
  * Bench writes one per query into bench_full.json; BenchOne prints one
  * per query. */
object Layers {

  /** Field names are the benchmark's per-layer metric names
    * (BENCHMARK.json). `schedGapS` is the time inside the query's window
    * when no task was running — a floor on driver and scheduler time,
    * since dispatch inside a task's own span counts as coverage — and
    * `coverageShare` the rest of the window, as a share of it. */
  final case class Record(jobs: Long, stages: Long, tasks: Long,
      failedTasks: Long, schedGapS: Double, coverageShare: Double,
      inputBytes: Long, inputRows: Long, shuffleWriteBytes: Long,
      shuffleReadBytes: Long, spillBytes: Long, taskRunS: Double,
      taskCpuS: Double, gcS: Double) {
    def json: String = Names.zip(productIterator.map {
        case d: Double => f"$d%.3f"; case v => v.toString })
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }

  /** `Record`'s fields in order, under their BENCHMARK.json names. */
  private val Names = Seq("dispatch.jobs", "dispatch.stages",
    "dispatch.tasks", "dispatch.failed_tasks", "dispatch.sched_gap_s",
    "dispatch.coverage_share", "scan.input_bytes", "scan.input_rows",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes",
    "compute.task_run_s", "compute.task_cpu_s", "compute.gc_s")

  private var attached: Option[(SparkContext, Layers)] = None

  /** The listener of `sc`, added on first use. Spark runs one context
    * per JVM, so one slot suffices; a new context replaces it. */
  def of(sc: SparkContext): Layers = synchronized {
    attached.collect { case (c, l) if c eq sc => l }.getOrElse {
      val l = new Layers
      sc.addSparkListener(l)
      attached = Some(sc -> l)
      l
    }
  }

  /** Runs `body` and returns its wall seconds and the layer record of
    * everything the context ran meanwhile. The bus is drained before the
    * counters are zeroed, so a previous query's late events stay out,
    * and again after `body`, so the record is complete when it is read.
    * Measure one query at a time per context: a concurrent query's tasks
    * would be counted too. */
  def measure(spark: SparkSession)(body: => Unit): (Double, Record) = {
    val sc = spark.sparkContext
    val l = of(sc)
    Bridge.drainListeners(sc)
    l.open(System.currentTimeMillis())
    val t0 = System.nanoTime()
    try body finally l.close(System.currentTimeMillis())
    val wall = (System.nanoTime() - t0) / 1e9
    Bridge.drainListeners(sc)
    (wall, l.record)
  }
}
