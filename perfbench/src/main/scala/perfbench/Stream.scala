package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.{SparkEntry, Tables}
import graft.connectors.MessageBus
import graft.streaming.Stateful

/** The stream_stateful workload: the events table as JSON envelopes on
  * one MessageBus topic, read through MqttLikeSource by one twin per
  * state family (RocksDB state store). An open-loop phase publishes at a
  * fixed rate from one generator thread; a closed-loop phase publishes
  * the whole feed up front and times the drain. */
object Stream {
  private val Envelope =
    "user_id BIGINT, ts BIGINT, event_id BIGINT, event_type STRING, value DOUBLE"
  private val DayUs = 86400000000L

  final case class Twin(name: String, op: DataFrame => Dataset[_])

  /** One twin per state family, as StreamBench groups them: commutative
    * grid, reorder buffer, sketch bytes, map state with timers. */
  def twins(endDay: Long): Seq[Twin] = Seq(
    Twin("dailyRevenueStream", df =>
      Stateful.dailyRevenueStream(df.select(col("event_type"), col("ts"),
        expr("cast(round(value * 100) as bigint)").as("cents")), endDay)),
    Twin("scd2StreamOoo", df => Stateful.scd2StreamOoo(df, "2 hours")),
    Twin("kllQuantileStream", df =>
      Stateful.kllQuantileStream(df, endDay + 1L)),
    Twin("dailyMeansTws", df => Stateful.dailyMeansTws(df)))

  /** The feed in publish order: event-time order displaced by a seeded
    * jitter below 30 minutes (inside the twins' 2 h watermark slack, so
    * no row is ever late), then one sentinel that closes every window. */
  def feed(events: Array[Stateful.Ev], seed: Long): Array[Stateful.Ev] = {
    val rng = new scala.util.Random(seed)
    val jitter = events.map(_ => rng.nextInt(1800000).toLong)
    val order = events.indices.sortBy(i =>
      (events(i)._2.getTime + jitter(i), events(i)._3))
    val sentinel: Stateful.Ev = (-1L, new java.sql.Timestamp(
      events.map(_._2.getTime).max + 30L * 86400 * 1000), -1L,
      "zz_sentinel", 0.0)
    order.map(events(_)).toArray :+ sentinel
  }

  def envelope(e: Stateful.Ev): Array[Byte] = {
    val micros = e._2.getTime * 1000L + (e._2.getNanos / 1000) % 1000
    val json = s"""{"user_id":${e._1},"ts":$micros,"event_id":${e._3},""" +
      s""""event_type":${Main.json.writeValueAsString(e._4)},""" +
      s""""value":${e._5}}"""
    json.getBytes("UTF-8")
  }

  def progressRecord(p: StreamingQueryProgress): Map[String, Any] = {
    def dur(k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    def offset(s: String): Long =
      Option(s).flatMap("""\d+""".r.findFirstIn(_)).map(_.toLong).getOrElse(0L)
    val src = p.sources.headOption
    val ops = p.stateOperators.toSeq
    Map("query" -> p.name, "batch" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "trigger_ms" -> dur("triggerExecution"),
      "add_batch_ms" -> dur("addBatch"),
      "src_ms" -> (dur("latestOffset") + dur("getBatch")),
      "rows" -> p.numInputRows,
      "output_rows" -> Option(p.sink).map(_.numOutputRows).getOrElse(0L),
      "start_offset" -> src.map(s => offset(s.startOffset)).getOrElse(0L),
      "end_offset" -> src.map(s => offset(s.endOffset)).getOrElse(0L),
      "latest_offset" -> src.map(s => offset(s.latestOffset)).getOrElse(0L),
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> ops.map(_.commitTimeMs).sum)
  }

  final class Phase(val name: String, val queries: Seq[(Twin, StreamingQuery)])

  /** One go through the workload. `tag` keeps the checkpoints of the
    * traced run's goes apart; a go that is not `full` stops after the
    * closed loop and returns only its drain time. */
  def run(spark: SparkSession, a: Args, tracer: Option[Tracer], tag: String,
      full: Boolean = true): Map[String, Any] = {
    import spark.implicits._
    // wall time per phase, for the run's timing line
    val marks = mutable.LinkedHashMap[String, Double]()
    var last = System.nanoTime()
    def mark(name: String): Unit = {
      val now = System.nanoTime(); marks(name) = (now - last) / 1e9; last = now
    }
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // the feed is the first `days` days of the events table; the twins'
    // batch references run over the same rows, written out once
    val all = Tables.events(spark, a.sf)
    val day0 = all.select(expr(s"min(unix_micros(ts)) div ${DayUs}L"))
      .head().getLong(0)
    val subset = s"${a.scratch}/feed"
    if (!new java.io.File(s"$subset/events.parquet").exists)
      all.filter(expr(s"unix_micros(ts) < ${(day0 + a.days) * DayUs}L"))
        .write.parquet(s"$subset/events.parquet")
    val events = Tables.events(spark, subset)
      .select("user_id", "ts", "event_id", "event_type", "value")
      .as[Stateful.Ev].collect()
    val endDay = events.map(e => Math.floorDiv(
      e._2.getTime * 1000L, DayUs)).max
    val rows = feed(events, a.seed)
    val payloads = rows.map(envelope)
    val tw = twins(endDay)
    mark("feed")

    def start(phase: String, topic: String): Phase =
      new Phase(phase, tw.map { t =>
        val parsed = spark.readStream
          .format("graft.connectors.MqttLikeSource")
          .option("topic", topic)
          .option("maxRowsPerTrigger", a.maxRowsPerTrigger.toString).load()
          .select(from_json(col("value").cast("string"),
            org.apache.spark.sql.types.StructType.fromDDL(Envelope)).as("e"))
          .select("e.*")
          .withColumn("ts", expr("timestamp_micros(ts)"))
        // the query's thread inherits this, so its jobs are traceable
        val sc = spark.sparkContext
        sc.setLocalProperty(Tracer.QueryKey, s"${phase}_${t.name}")
        try t -> t.op(parsed).writeStream.format("memory")
          .queryName(s"${phase}_${t.name}")
          .option("checkpointLocation",
            s"${a.scratch}/ckpt/$tag/$phase/${t.name}")
          .start()
        finally sc.setLocalProperty(Tracer.QueryKey, null)
      })

    def finish(p: Phase): Seq[Map[String, Any]] = {
      p.queries.foreach(_._2.processAllAvailable())
      val progress = p.queries.flatMap(_._2.recentProgress.toSeq)
      p.queries.foreach(_._2.stop())
      progress.map(progressRecord)
    }

    // warm-up: a short prefix and the sentinel through fresh twins, so
    // the timed phases do not pay for code generation and class loading
    val warmTopic = "perfbench_warm"
    MessageBus.reset(warmTopic)
    (payloads.take(a.warmRows) :+ payloads.last).zipWithIndex.foreach {
      case (b, i) => MessageBus.publish(warmTopic, i.toString, b) }
    finish(start("warm", warmTopic))
    MessageBus.reset(warmTopic)
    mark("warm")

    // closed loop: the whole feed is on the topic before the twins start;
    // the drain is timed from the first query's start to the last catch-up
    val closedTopic = "perfbench_closed"
    MessageBus.reset(closedTopic)
    payloads.indices.foreach(i =>
      MessageBus.publish(closedTopic, i.toString, payloads(i)))
    val drainStart = System.nanoTime()
    val drainStartMs = System.currentTimeMillis()
    val closed = start("closed", closedTopic)
    val startedMs = System.currentTimeMillis()
    closed.queries.foreach(_._2.processAllAvailable())
    val drainS = (System.nanoTime() - drainStart) / 1e9
    val drainEndMs = System.currentTimeMillis()
    val closedEpochs = finish(closed)
    val closedOut = outputs(spark, closed)
    MessageBus.reset(closedTopic)
    mark("closed")
    if (!full) return Map("drain_s" -> drainS)

    // open loop, for `seconds`: the generator sends row i when it is due,
    // t0 + i / rate, and records when it actually went out. Each twin's
    // first epoch starts its query, so run.py leaves it out of the
    // latency samples.
    val openRows = math.min(payloads.length, (a.rate * a.seconds).toInt)
    val openTopic = "perfbench_open"
    MessageBus.reset(openTopic)
    val open = start("open", openTopic)
    val sentUs = new Array[Long](openRows)
    val t0Wall = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val gen = new Thread(() => {
      var i = 0
      while (i < openRows) {
        val dueNs = t0 + (i * 1e9 / a.rate).toLong
        val now = System.nanoTime()
        if (now < dueNs)
          java.util.concurrent.locks.LockSupport.parkNanos(dueNs - now)
        else {
          MessageBus.publish(openTopic, i.toString, payloads(i))
          sentUs(i) = (System.nanoTime() - t0) / 1000L
          i += 1
        }
      }
    }, "perfbench-generator")
    gen.start(); gen.join()
    val openEpochs = finish(open)
    MessageBus.reset(openTopic)
    tracer.foreach(_.drain(spark))
    mark("open")

    // the closed loop carried the whole feed: its outputs are final
    val checks = verify(spark, subset, events, closedOut).map {
      case (twin, err) => Map("twin" -> twin, "error" -> err) }
    mark("verify")
    Map("feed_rows" -> payloads.length, "open_rows" -> openRows,
      "rate" -> a.rate, "t0_ms" -> t0Wall, "sent_us" -> sentUs,
      "twins" -> tw.map(_.name), "open_epochs" -> openEpochs,
      "closed_epochs" -> closedEpochs, "drain_s" -> drainS,
      "drain_window_ms" -> Seq(drainStartMs, drainEndMs),
      "drain_started_ms" -> startedMs,
      "checks" -> checks, "phase_s" -> marks)
  }

  private def outputs(spark: SparkSession, p: Phase): Map[String, Array[Row]] =
    p.queries.map { case (t, _) =>
      t.name -> spark.table(s"${p.name}_${t.name}").collect() }.toMap

  /** Each twin's final output against its batch computation over the
    * same events. Returns (twin, error) for every twin; error is null
    * when the outputs agree. */
  def verify(spark: SparkSession, sf: String, events: Array[Stateful.Ev],
      out: Map[String, Array[Row]]): Seq[(String, String)] = {
    def cmp[T](name: String, got: Set[T], want: Set[T]): (String, String) =
      name -> (if (got.nonEmpty && got == want) null else
        s"stream-only ${got.diff(want).take(2)}; batch-only ${want.diff(got).take(2)}")
    val real = (r: Row) => r.getString(r.fieldIndex("event_type")) != "zz_sentinel"

    val dayRev = cmp("dailyRevenueStream",
      out("dailyRevenueStream").filter(real)
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet,
      Tables.events(spark, sf)
        .groupBy(col("event_type"), expr(s"unix_micros(ts) div ${DayUs}L"))
        .agg(sum(expr("cast(round(value * 100) as bigint)")))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet)

    val scd2 = cmp("scd2StreamOoo",
      out("scd2StreamOoo").filter(r => r.getLong(0) >= 0)
        .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
          r.getTimestamp(3), r.getInt(4), r.getLong(5))).toSet,
      SparkEntry.queries("q48_scd2")(spark, sf).filter("is_current = 0")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
          r.getTimestamp(3), r.getInt(4), r.getLong(6))).toSet)

    // KLL estimates are approximate by design: n must be exact and each
    // quantile must sit within 3 % rank of its target (k = 200 sketch)
    val exact = events.groupBy(_._4).map { case (t, es) =>
      t -> es.map(e => Math.round(e._5 * 1000)).sorted }
    val kllRows = out("kllQuantileStream").filter(real)
    val kllErr = kllRows.flatMap { r =>
      val t = r.getString(0)
      val vals = exact.getOrElse(t, Array.emptyLongArray)
      val nErr = if (r.getLong(1) != vals.length)
        Some(s"$t n=${r.getLong(1)} want ${vals.length}") else None
      nErr.toSeq ++ Seq(0.5 -> 2, 0.9 -> 3, 0.99 -> 4).flatMap { case (q, i) =>
        val rank = vals.count(_ <= r.getLong(i)).toDouble / vals.length
        if (math.abs(rank - q) > 0.03) Some(s"$t p$q at rank $rank") else None
      }
    }
    val kll = "kllQuantileStream" -> (
      if (kllRows.map(_.getString(0)).toSet != exact.keySet)
        s"types ${kllRows.map(_.getString(0)).toSet} want ${exact.keySet}"
      else if (kllErr.nonEmpty) kllErr.mkString("; ") else null)

    val tws = cmp("dailyMeansTws",
      out("dailyMeansTws").filter(real)
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet,
      graft.operators.Temporal.q104Daily(spark, sf).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet)

    Seq(dayRev, scd2, kll, tws)
  }
}
