package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Processor observability (SURVEY.md §2.1 row 10) — the reference wraps
  * each recv/handle/send step in OTel spans named
  * `kawa.processor.{full,src.recv,handler.handle,dst.send}` with
  * per-message timing (processor.go:91-120). On Spark the unit of work
  * is the epoch, and the engine already measures each stage; this
  * listener projects every `StreamingQueryProgress` onto the reference's
  * span vocabulary:
  *
  *   - `src.recv`       → numInputRows + source latestOffset/getBatch ms
  *   - `handler.handle` → addBatch duration (the transform+write stage)
  *   - `dst.send`       → sink numOutputRows + commitOffsets ms
  *   - `full`           → triggerExecution ms
  *
  * Beside `dst.send` each epoch also carries its state commit, the other
  * half of the durable write that acks it: the summed `commitTimeMs` of
  * the state operators, and the part of it RocksDB spent syncing
  * checkpoint files (0 when the provider does not report it).
  *
  * Spans are appended to an in-memory ring (inspectable by tests /
  * dashboards) and logged at INFO. At 100 TB this is driver-side
  * metadata only — a few hundred bytes per epoch, never touching the
  * data path.
  */
class ProcessorMetrics(maxSpans: Int = 4096) extends StreamingQueryListener {
  import ProcessorMetrics.EpochSpans

  private val ring = new ConcurrentLinkedQueue[EpochSpans]()

  def spans: Seq[EpochSpans] = {
    import scala.jdk.CollectionConverters._
    ring.asScala.toSeq
  }

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryIdle(event: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    def dur(k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue()).getOrElse(0L)
    val span = EpochSpans(
      queryName = Option(p.name).getOrElse(p.id.toString),
      batchId = p.batchId,
      srcRecvRows = p.numInputRows,
      srcRecvMs = dur("latestOffset") + dur("getBatch"),
      handlerHandleMs = dur("addBatch"),
      dstSendRows = Option(p.sink).map(_.numOutputRows).getOrElse(-1L),
      dstSendMs = dur("commitOffsets") + dur("walCommit"),
      fullMs = dur("triggerExecution"),
      stateCommitMs = p.stateOperators.map(_.commitTimeMs).sum,
      stateFileSyncMs = p.stateOperators.map(o => Option(o.customMetrics
        .get("rocksdbCommitFileSyncLatencyMs")).fold(0L)(_.longValue)).sum)
    ring.add(span)
    while (ring.size() > maxSpans) ring.poll()
    log.info(s"graft.processor.full name=${span.queryName} batch=${span.batchId} " +
      s"ms=${span.fullMs} | src.recv rows=${span.srcRecvRows} ms=${span.srcRecvMs} " +
      s"| handler.handle ms=${span.handlerHandleMs} " +
      s"| dst.send rows=${span.dstSendRows} ms=${span.dstSendMs} " +
      s"| state.commit ms=${span.stateCommitMs} " +
      s"file_sync_ms=${span.stateFileSyncMs}")
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(classOf[ProcessorMetrics])
}

/** Data-quality observability via `Dataset.observe` — the record-level
  * monitoring the span vocabulary above can't carry: row counts, null
  * counts, and domain violations computed INSIDE the running job's own
  * pass (an accumulator-backed aggregate — zero extra scans, zero extra
  * shuffles) and harvested from the engine's observed-metrics channel:
  * `QueryExecution.observedMetrics` in batch,
  * `StreamingQueryProgress.observedMetrics` per epoch in streaming.
  * At 100 TB this is the only affordable quality gate shape — a
  * separate validation query would double the scan bill. */
object QualityMetrics {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  /** Wrap an event-shaped frame with the standard quality observation.
    * The returned frame is the SAME data; metrics ride the job. */
  def observed(df: DataFrame, name: String = "graft_quality"): DataFrame =
    df.observe(name,
      count(lit(1)).as("n_rows"),
      sum(when(col("ts").isNull, 1L).otherwise(0L)).as("n_null_ts"),
      sum(when(col("value") < 0.0, 1L).otherwise(0L)).as("n_neg_value"),
      sum(when(col("user_id").isNull || col("user_id") < 0L, 1L)
        .otherwise(0L)).as("n_bad_user"))

  /** Batch-side harvest: attach before running, read after. */
  class BatchHarvest
      extends org.apache.spark.sql.util.QueryExecutionListener {
    private val got =
      new java.util.concurrent.ConcurrentHashMap[String,
        org.apache.spark.sql.Row]()
    def metrics(name: String): Option[org.apache.spark.sql.Row] =
      Option(got.get(name))
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (k, v) => got.put(k, v) }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = ()
  }
}

object ProcessorMetrics {
  final case class EpochSpans(
      queryName: String,
      batchId: Long,
      srcRecvRows: Long,
      srcRecvMs: Long,
      handlerHandleMs: Long,
      dstSendRows: Long,
      dstSendMs: Long,
      fullMs: Long,
      stateCommitMs: Long,
      stateFileSyncMs: Long)

  /** Attach a fresh listener to the session (Metrics(true) option,
    * processor.go:54-58); returns it for inspection. */
  def attach(spark: SparkSession, maxSpans: Int = 4096): ProcessorMetrics = {
    val m = new ProcessorMetrics(maxSpans)
    spark.streams.addListener(m)
    m
  }
}
