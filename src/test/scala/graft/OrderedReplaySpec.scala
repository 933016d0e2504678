package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.streaming.Stateful

/** Parity gates for the watermark-ordered per-key replay harness
  * (Stateful.orderedPerKey) and its three state machines: out-of-order
  * SCD2, the streaming funnel, and the streaming retention matrix. Each
  * test feeds the event log SHUFFLED within the watermark horizon
  * (deterministic jitter ≤ 30 min against a 2 h slack), split across
  * micro-batches, and asserts the streamed output converges to exactly
  * the batch operator's result — the ordering contract the buffering
  * variant exists to relax. */
class OrderedReplaySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** The event log in a shuffled-within-horizon feed order: sort by
    * (ts + jitter(event_id)) with jitter < 30 min, so every row is
    * displaced from true event order by strictly less than the 2 h
    * watermark slack (and can therefore never arrive sub-watermark). */
  private def shuffledEvents(): (Array[Stateful.Ev], java.sql.Timestamp) = {
    val s = spark
    import s.implicits._
    val events = Tables.events(s, sf)
      .select("user_id", "ts", "event_id", "event_type", "value")
      .as[Stateful.Ev].collect()
    val shuffled = events.sortBy { e =>
      val jitter = Math.floorMod(e._3 * 2654435761L, 1800000L)
      (e._2.getTime + jitter, e._3)
    }
    val sentinelTs = new java.sql.Timestamp(
      events.map(_._2.getTime).max + 30L * 86400 * 1000)
    (shuffled, sentinelTs)
  }

  /** Feed the shuffled log in three micro-batches plus watermark-
    * advancing sentinels through `op`, collecting the append-mode output
    * from a memory sink. */
  private def runStream(name: String,
      sentinelsOf: java.sql.Timestamp => Seq[Stateful.Ev] =
        ts => Seq((-1L, ts, -1L, "zz_sentinel", 0.0)))(
      op: DataFrame => Dataset[_]): DataFrame = {
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger

    val (shuffled, sentinelTs) = shuffledEvents()
    val input = MemoryStream[Stateful.Ev]
    val q = op(input.toDS().toDF("user_id", "ts", "event_id", "event_type", "value"))
      .writeStream.format("memory").queryName(name)
      .trigger(Trigger.ProcessingTime(50)).start()
    val third = shuffled.length / 3
    Seq(shuffled.slice(0, third), shuffled.slice(third, 2 * third),
      shuffled.drop(2 * third)).foreach { chunk =>
      input.addData(chunk.toSeq); q.processAllAvailable()
    }
    input.addData(sentinelsOf(sentinelTs))
    q.processAllAvailable()
    lastProgress = q.recentProgress.toSeq
    q.stop()
    s.table(name)
  }

  /** Feed the first `cut` share of the shuffled log through `op`, stop,
    * then resume a NEW query from the same checkpoint `ck` with the rest
    * and the sentinels (each its own trigger). The memory sink refuses
    * checkpoint recovery, so a foreachBatch collector keeps the emitted
    * rows by batch id: an epoch replayed after the restart overwrites
    * its first copy — exactly-once at the collector. `rocksDb` runs both
    * queries on the RocksDB provider and restores the session's after. */
  private def restartRun[T](ck: String, rocksDb: Boolean = false,
      cut: Double = 0.5,
      sentinelsOf: java.sql.Timestamp => Seq[Stateful.Ev] =
        ts => Seq((-1L, ts, -1L, "zz_sentinel", 0.0)))(
      op: DataFrame => Dataset[T]): Seq[T] = {
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import scala.jdk.CollectionConverters._

    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    if (rocksDb) s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (shuffled, sentinelTs) = shuffledEvents()
      val got = new java.util.concurrent.ConcurrentHashMap[Long, Seq[T]]()
      val input = MemoryStream[Stateful.Ev]
      def start() =
        op(input.toDS().toDF("user_id", "ts", "event_id", "event_type",
            "value"))
          .writeStream
          .foreachBatch { (ds: Dataset[T], id: Long) =>
            got.put(id, ds.collect().toSeq); ()
          }
          .option("checkpointLocation", ck)
          .trigger(Trigger.ProcessingTime(50)).start()

      val split = (shuffled.length * cut).toInt
      val q1 = start()
      input.addData(shuffled.take(split).toSeq)
      q1.processAllAvailable()
      q1.stop()

      val q2 = start()
      input.addData(shuffled.drop(split).toSeq)
      q2.processAllAvailable()
      sentinelsOf(sentinelTs).foreach { e =>
        input.addData(e); q2.processAllAvailable()
      }
      q2.stop()
      got.asScala.toSeq.sortBy(_._1).flatMap(_._2)
    } finally if (rocksDb) prev.fold(s.conf.unset(key))(s.conf.set(key, _))
  }

  /** StreamingQueryProgress rows of the most recent runStream, for
    * state-bound assertions (stateOperators.numRowsTotal etc.). */
  @volatile private var lastProgress
      : Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = Nil

  test("ooo scd2: shuffled-within-horizon feed == batch q48 closed periods") {
    val s = spark
    import s.implicits._
    val out = runStream("ooo_scd2")(df => Stateful.scd2StreamOoo(df, "2 hours"))
    val streamed = out
      .select("user_id", "event_type", "valid_from", "valid_to", "version",
        "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getInt(4), r.getLong(5))).toSet
    val batchClosed = SparkEntry.queries("q48_scd2")(s, sf)
      .filter("is_current = 0").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getInt(4), r.getLong(6))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batchClosed,
      s"stream-only: ${streamed.diff(batchClosed).take(3)}; " +
        s"batch-only: ${batchClosed.diff(streamed).take(3)}")
  }

  test("streaming funnel: step counts == batch q57 users per step") {
    val s = spark
    val out = runStream("ooo_funnel")(df => Stateful.funnelStream(df, "2 hours"))
    val streamed = out.filter("user_id >= 0")
      .groupBy("step").agg(count(lit(1)).as("users"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val batch = SparkEntry.queries("q57_funnel")(s, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(streamed.nonEmpty)
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
  }

  test("streaming timed funnel: step counts == batch q126 users per step") {
    val s = spark
    val out = runStream("ooo_timed_funnel")(df =>
      Stateful.timedFunnelStream(df))
    val streamed = out.filter("user_id >= 0")
      .groupBy("step").agg(count(lit(1)).as("users"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val batch = SparkEntry.queries("q126_timed_funnel")(s, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(streamed.nonEmpty)
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    // the window must actually bite relative to the untimed funnel
    val untimed = SparkEntry.queries("q57_funnel")(s, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert((2 to 3).forall(k => batch(k) <= untimed(k)),
      "timed counts cannot exceed untimed")
  }

  test("streaming anomaly: scored buckets == batch q60 within fp tolerance") {
    val s = spark
    // the generic sentinel only needs to advance the WATERMARK past the
    // last real bucket end: anomalyStream closes buckets on watermark
    // passage alone (onWatermark), no per-key successor event required
    val out = runStream("ooo_anomaly")(df =>
      Stateful.anomalyStream(df, "2 hours"))
    val streamed = out.collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getInt(6))).toMap
    val batch = SparkEntry.queries("q60_anomaly_zscore")(s, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4),
          if (r.isNullAt(5)) Double.NaN else r.getDouble(5), r.getInt(6)))
      .toMap
    assert(streamed.nonEmpty)
    assert(streamed.keySet == batch.keySet,
      s"stream-only: ${streamed.keySet.diff(batch.keySet).take(3)}; " +
        s"batch-only: ${batch.keySet.diff(streamed.keySet).take(3)}")
    // batch values are r4-rounded; streamed are raw incremental sums —
    // compare within the rounding half-width plus fp drift
    streamed.foreach { case (k, (m, mu, sd, z, flag)) =>
      val (bm, bmu, bsd, bz, bflag) = batch(k)
      assert(math.abs(m - bm) <= 1e-3, s"$k mean $m vs $bm")
      assert(math.abs(mu - bmu) <= 1e-3, s"$k mu $mu vs $bmu")
      assert(math.abs(sd - bsd) <= 1e-3, s"$k sd $sd vs $bsd")
      // sd == 0: batch emits z NULL (mapped to NaN here), stream NaN
      if (bz.isNaN) assert(z.isNaN, s"$k z $z vs batch NULL")
      else assert(math.abs(z - bz) <= 1e-2, s"$k z $z vs $bz")
      assert(flag == bflag, s"$k flag $flag vs $bflag (z=$z)")
    }
  }

  test("streaming ewma: closed buckets == batch q64 recurrence within fp tolerance") {
    val s = spark
    val out = runStream("ooo_ewma")(df => Stateful.ewmaStream(df, "2 hours"))
    val streamed = out.filter("event_type <> 'zz_sentinel'").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val batch = SparkEntry.queries("q64_ewma")(s, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    assert(streamed.nonEmpty)
    assert(streamed.keySet == batch.keySet,
      s"stream-only: ${streamed.keySet.diff(batch.keySet).take(3)}; " +
        s"batch-only: ${batch.keySet.diff(streamed.keySet).take(3)}")
    // batch values are r4-rounded; streamed are raw — the recurrence is
    // the same IEEE expression in the same order, so the gap is at most
    // the rounding half-width
    streamed.foreach { case (k, (m, e)) =>
      val (bm, be) = batch(k)
      assert(math.abs(m - bm) <= 1e-3, s"$k mean $m vs $bm")
      assert(math.abs(e - be) <= 1e-3, s"$k ewma $e vs $be")
    }
  }

  test("streaming vad: closed segments == batch m05 on a shuffled frame feed") {
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger

    // m05's active-frame table as an event feed: ts advances 1 s per
    // frame index from a fixed base, shuffled within 30 min (< the 2 h
    // slack), split across micro-batches
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val frames = operators.Multimodal.activeFrames(s, sf).collect()
      .map(r => (r.getLong(0),
        new java.sql.Timestamp(base + r.getInt(1) * 1000L),
        r.getInt(1).toLong, "frame", r.getInt(2).toDouble))
    val shuffled = frames.sortBy { e =>
      val jitter = Math.floorMod((e._1 * 131071L + e._3) * 2654435761L,
        1800000L)
      (e._2.getTime + jitter, e._1, e._3)
    }
    val input = MemoryStream[Stateful.Ev]
    val q = Stateful.vadStream(
        input.toDS().toDF("user_id", "ts", "event_id", "event_type", "value"),
        "2 hours")
      .writeStream.format("memory").queryName("ooo_vad")
      .trigger(Trigger.ProcessingTime(50)).start()
    val third = shuffled.length / 3
    Seq(shuffled.slice(0, third), shuffled.slice(third, 2 * third),
      shuffled.drop(2 * third)).foreach { chunk =>
      input.addData(chunk.toSeq); q.processAllAvailable()
    }
    val sentinelTs = new java.sql.Timestamp(
      frames.map(_._2.getTime).max + 30L * 86400 * 1000)
    input.addData(Seq((-1L, sentinelTs, -1L, "zz_sentinel", 0.0)))
    q.processAllAvailable()
    q.stop()

    val streamed = s.table("ooo_vad").filter("doc_id >= 0").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ->
        r.getDouble(4)).toMap
    val batch = SparkEntry.queries("m05_vad_segments")(s, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getInt(2).toLong,
        r.getLong(3)) -> r.getDouble(4)).toMap
    assert(streamed.nonEmpty)
    assert(streamed.keySet == batch.keySet,
      s"stream-only: ${streamed.keySet.diff(batch.keySet).take(3)}; " +
        s"batch-only: ${batch.keySet.diff(streamed.keySet).take(3)}")
    // batch mean_energy is r4-rounded; streamed is the raw quotient of
    // the same integer (sum, n) — gap bounded by the rounding half-width
    streamed.foreach { case (k, m) =>
      assert(math.abs(m - batch(k)) <= 5e-5 + 1e-9, s"$k mean $m vs ${batch(k)}")
    }
  }

  test("streaming peak concurrency: closed days == batch q83 exactly") {
    val s = spark
    val out = runStream("ooo_peak")(df => Stateful.peakStream(df, "2 hours"))
    val streamed = out.filter("event_type <> 'zz_sentinel'").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val batch = SparkEntry.queries("q83_peak_concurrency")(s, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(streamed.nonEmpty)
    // all-integer sweep: streamed must equal batch bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming peak survives a checkpoint restart (RocksDB)") {
    // the open day's minute→net map and the reorder buffer must
    // round-trip RocksDB: a restart that drops map entries understates
    // the peak, one that replays them double-counts the deltas
    val s = spark
    val got = restartRun(tmpDir("tws_peak_restart_ck"), rocksDb = true)(
      df => Stateful.peakStream(df))
    val streamed = got.map(r => (r.event_type, r.day, r.n_sessions, r.peak))
      .toSet.filter(_._1 != "zz_sentinel")
      .map { case (et, d, n, p) => (et, d) -> (n, p) }.toMap
    val batch = SparkEntry.queries("q83_peak_concurrency")(s, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"restart broke peakStream recovery: stream-only " +
        s"${streamed.toSet.diff(batch.toSet).take(3)}; batch-only " +
        s"${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming twap: closed days == batch q100 exactly") {
    val s = spark
    import graft.functions.Rounding.r6
    val out = runStream("ooo_twap")(df => Stateful.twapStream(df, "2 hours"))
    // identical final-division expressions over the streamed integers as
    // the batch query applies to its aggregates — bit-for-bit comparable
    val streamed = out.filter("event_type <> 'zz_sentinel'")
      .select(col("event_type"), col("day"), col("n_events"), col("dur_ms"),
        r6(col("swv").cast("double") / col("dur_ms") / 100).as("twap"),
        r6(col("scents").cast("double") / col("n_events") / 100)
          .as("mean_value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    val batch = SparkEntry.queries("q100_twap")(s, sf)
      .withColumn("day", datediff(col("day"), lit("1970-01-01")).cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming interval join: session/surge twins == batch q84 exactly") {
    val s = spark
    // the surge threshold (per-type mean 5-min-bucket count) is a
    // full-pass timeline stat, supplied as an ingest catalog parameter —
    // computed here with the same plan the batch query derives it from
    val avgByType = Tables.events(s, sf)
      .select(col("event_type"),
        (unix_micros(col("ts")) / 300000000L).cast("long").as("m"))
      .groupBy("event_type", "m").agg(count(lit(1)).as("n"))
      .groupBy("event_type").agg(avg(col("n").cast("double")).as("avgn"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    val sessOut = runStream("ooo_q84_sess")(df =>
      Stateful.sessionIntervalsStream(df, "2 hours"))
      .filter("user_id >= 0")
    val surgeOut = runStream("ooo_q84_surge")(df =>
      Stateful.surgeIslandsStream(df, avgByType, "2 hours"))
      .filter("event_type <> 'zz_sentinel'")

    // side-by-side parity of the interval sets themselves…
    val streamedSess = sessOut.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batchSess = operators.Temporal.q84SessionIntervals(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamedSess.nonEmpty)
    assert(streamedSess == batchSess,
      s"stream-only: ${streamedSess.diff(batchSess).take(3)}; " +
        s"batch-only: ${batchSess.diff(streamedSess).take(3)}")

    val streamedIv = surgeOut.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batchIv = operators.Temporal.q84SurgeIslands(s, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4)))
      .toSet
    assert(streamedIv.nonEmpty)
    assert(streamedIv == batchIv,
      s"stream-only: ${streamedIv.diff(batchIv).take(3)}; " +
        s"batch-only: ${batchIv.diff(streamedIv).take(3)}")

    // …then end-to-end: the shared rollup over the streamed snapshots
    // must reproduce the registered query bit-for-bit (all-integer)
    val streamedAgg = operators.Temporal.q84OverlapAgg(sessOut, surgeOut)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val batchAgg = SparkEntry.queries("q84_interval_join")(s, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(streamedAgg == batchAgg,
      s"stream-only: ${streamedAgg.toSet.diff(batchAgg.toSet).take(3)}; " +
        s"batch-only: ${batchAgg.toSet.diff(streamedAgg.toSet).take(3)}")
  }

  test("streaming markov transitions: replayed pairs == batch q61 matrix") {
    val s = spark
    val out = runStream("ooo_markov")(df => Stateful.markovStream(df))
    val snap = out.filter("user_id >= 0")
      .select("prev_type", "next_type")
    assert(snap.count() > 0)
    val streamed = operators.Behavioral.q61Rollup(snap).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val batch = SparkEntry.queries("q61_markov_transitions")(s, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    // all-integer counts through the shared rollup ⇒ bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming session paths: closed sessions == batch q62 top-20") {
    val s = spark
    val out = runStream("ooo_paths")(df => Stateful.sessionPathStream(df))
    val snap = out.filter("user_id >= 0").select("path")
    assert(snap.count() > 0)
    val streamed = operators.Behavioral.q62Rollup(snap).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val batch = SparkEntry.queries("q62_session_paths")(s, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // all-integer counts through the shared rollup ⇒ bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming attribution: conversion-time emissions == batch q68") {
    val s = spark
    val out = runStream("ooo_attr")(df => Stateful.attributionStream(df))
    val snap = out.filter("user_id >= 0")
      .select("first_touch", "last_touch", "gap_us")
    assert(snap.count() > 0)
    val streamed = operators.Behavioral.q68Rollup(snap).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val batch = SparkEntry.queries("q68_attribution")(s, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    // exact-µs sums through the shared rollup ⇒ bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming UEBA rarity: per-user tallies == batch q110 board") {
    val s = spark
    // surprise cells fitted at ingest (exact integer micro-nats)
    val cells = operators.Security.q110Cells(s, sf).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val endDay = Tables.events(s, sf)
      .select((unix_micros(col("ts")) / 86400000000L).cast("long").as("day"))
      .agg(max("day")).head.getLong(0)
    val out = runStream("ooo_rarity")(df =>
      Stateful.rarityStream(df, cells, endDay))
    val snap = out.filter("user_id >= 0")
    assert(snap.count() > 0)
    val streamed = operators.Security.q110Rollup(snap).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    val batch = SparkEntry.queries("q110_rarity_score")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    // exact integer tallies through the shared rollup ⇒ bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming beaconing: per-channel gap stats == batch q111") {
    val s = spark
    val endDay = Tables.events(s, sf)
      .select((unix_micros(col("ts")) / 86400000000L).cast("long").as("day"))
      .agg(max("day")).head.getLong(0)
    val out = runStream("ooo_beacon")(df =>
      Stateful.beaconStream(df, endDay + 1L))
    val snap = out.filter("user_id >= 0")
    assert(snap.count() > 0)
    val streamed = operators.Security.q111Rollup(snap).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    val batch = SparkEntry.queries("q111_beaconing")(s, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    // exact integer-second sums through the shared rollup ⇒ bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming drawdown: per-user snapshots == batch q160") {
    val s = spark
    val endDay = Tables.events(s, sf)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(max("day")).head.getLong(0)
    val out = runStream("ooo_drawdown")(df =>
      Stateful.drawdownStream(df, endDay + 1L))
    val streamed = out.filter("user_id >= 0").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val batch = SparkEntry.queries("q160_max_drawdown")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(streamed.nonEmpty)
    // exact BIGINT cents through the identical recurrence ⇒ bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.diff(batch).take(3)}; " +
        s"batch-only: ${batch.diff(streamed).take(3)}")
  }

  test("streaming feature relevance: cell grid == batch q169") {
    val s = spark
    val endDay = Tables.events(s, sf)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(max("day")).head.getLong(0)
    val out = runStream("ooo_relevance")(df =>
      Stateful.relevanceStream(df, endDay + 1L))
    val grid = out.filter("x != 'zz_sentinel'")
    assert(grid.count() > 0)
    val streamed = operators.Statistics.q169Finish(grid).collect()
      .map(_.toString).toSeq
    val batch = SparkEntry.queries("q169_feature_relevance")(s, sf).collect()
      .map(_.toString).toSeq
    // identical projection over identical integer counters ⇒ bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming first-seen: pair snapshots == batch q112 series") {
    val s = spark
    val endDay = Tables.events(s, sf)
      .select((unix_micros(col("ts")) / 86400000000L).cast("long").as("day"))
      .agg(max("day")).head.getLong(0)
    val out = runStream("ooo_firstseen")(df =>
      Stateful.firstSeenStream(df, endDay + 1L))
    val snap = out.filter("user_id >= 0")
    assert(snap.count() > 0)
    val streamed = operators.Security.q112Rollup(snap).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    val batch = SparkEntry.queries("q112_first_seen")(s, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    // all-integer through the shared rollup ⇒ bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming CUSUM monitor: closed days == batch q104 rows") {
    val s = spark
    // reference stats fitted at ingest (exact integers — the catalog
    // parameters the live monitor runs against)
    val daily = operators.Temporal.q104Daily(s, sf)
    val stats = operators.Temporal.q104Stats(daily).cache()
    val statsMap = stats.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val out = runStream("ooo_cusum")(df =>
      Stateful.cusumStream(df, statsMap))
    val snap = out.filter(col("event_type") =!= "zz_sentinel")
    assert(snap.count() > 0)
    val streamed = operators.Temporal.q104Finish(
        snap.join(stats, "event_type")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    val batch = SparkEntry.queries("q104_cusum_changepoint")(s, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    stats.unpersist()
    // identical integer folds + identical final expressions ⇒ bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming A/B readout: per-user conversion state == batch q106") {
    val s = spark
    val endDay = Tables.events(s, sf)
      .select((unix_micros(col("ts")) / 86400000000L).cast("long").as("day"))
      .agg(max("day")).head.getLong(0)
    val out = runStream("ooo_ab")(df => Stateful.abStream(df, endDay))
    val snap = out.filter("user_id >= 0")
    assert(snap.count() > 0)
    val streamed = operators.Behavioral.q106Rollup(snap).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
      .toSeq
    val batch = SparkEntry.queries("q106_ab_lift")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
      .toSeq
    // identical rollup code over identical integer state ⇒ bit-for-bit
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
  }

  test("streaming RFM: per-customer state == batch q102 rollup") {
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger

    // corpus max order day (catalog stat at ingest — the batch query's
    // single-column span scan)
    val dmax = Tables.orders(s, sf)
      .select((unix_micros(col("o_orderdate").cast("timestamp"))
        / 86400000000L).cast("long").as("day"))
      .agg(max("day")).head.getLong(0)
    // the RFM state is commutative (max/count/sum), but the FEED must
    // still respect the watermark contract — rows arriving after the
    // watermark passes the timeline end are late-beyond-slack and
    // correctly dropped — so shuffle within the slack horizon (the
    // shuffledEvents convention: jitter < 30 min against 2 h slack)
    val orders = Tables.orders(s, sf)
      .select(col("o_custkey"),
        col("o_orderdate").cast("timestamp").as("ts"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .as[(Long, java.sql.Timestamp, Long)].collect()
      .sortBy { r =>
        val jitter = Math.floorMod(r._1 * 2654435761L + r._3, 1800000L)
        (r._2.getTime + jitter, r._1)
      }

    val input = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val q = Stateful.rfmStream(
        input.toDS().toDF("o_custkey", "ts", "cents"), dmax, "2 hours")
      .writeStream.format("memory").queryName("ooo_rfm")
      .trigger(Trigger.ProcessingTime(50)).start()
    val third = orders.length / 3
    Seq(orders.slice(0, third), orders.slice(third, 2 * third),
      orders.drop(2 * third)).foreach { chunk =>
      input.addData(chunk.toSeq); q.processAllAvailable()
    }
    // two sentinel rounds: the first advances the watermark past the
    // timeline end, the second runs the batch in which the event-time
    // timeouts fire and every customer's snapshot emits
    val sentTs = new java.sql.Timestamp((dmax + 30L) * 86400000L)
    for (i <- 1 to 2) {
      input.addData((-1L, new java.sql.Timestamp(sentTs.getTime + i), 0L))
      q.processAllAvailable()
    }
    q.stop()

    val wide = s.table("ooo_rfm").filter("o_custkey >= 0")
    assert(wide.count() > 0)
    val streamed = operators.Behavioral.q102Rollup(wide).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    val batch = SparkEntry.queries("q102_rfm_segments")(s, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    // identical rollup code over identical integer state ⇒ bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming cohort LTV: per-customer month map == batch q103") {
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger

    val dmax = Tables.orders(s, sf)
      .select((unix_micros(col("o_orderdate").cast("timestamp"))
        / 86400000000L).cast("long").as("day"))
      .agg(max("day")).head.getLong(0)
    // shuffled within the slack horizon (the shuffledEvents convention)
    val orders = Tables.orders(s, sf)
      .select(col("o_custkey"),
        col("o_orderdate").cast("timestamp").as("ts"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .as[(Long, java.sql.Timestamp, Long)].collect()
      .sortBy { r =>
        val jitter = Math.floorMod(r._1 * 2654435761L + r._3, 1800000L)
        (r._2.getTime + jitter, r._1)
      }

    val input = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val q = Stateful.cohortStream(
        input.toDS().toDF("o_custkey", "ts", "cents"), dmax, "2 hours")
      .writeStream.format("memory").queryName("ooo_cohort")
      .trigger(Trigger.ProcessingTime(50)).start()
    val third = orders.length / 3
    Seq(orders.slice(0, third), orders.slice(third, 2 * third),
      orders.drop(2 * third)).foreach { chunk =>
      input.addData(chunk.toSeq); q.processAllAvailable()
    }
    val sentTs = new java.sql.Timestamp((dmax + 30L) * 86400000L)
    for (i <- 1 to 2) {
      input.addData((-1L, new java.sql.Timestamp(sentTs.getTime + i), 0L))
      q.processAllAvailable()
    }
    q.stop()

    val snap = s.table("ooo_cohort").filter("o_custkey >= 0")
    assert(snap.count() > 0)
    val streamed = operators.Behavioral.q103Rollup(snap).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7))).toSeq
    val batch = SparkEntry.queries("q103_cohort_ltv")(s, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7))).toSeq
    // identical rollup code over identical integer state ⇒ bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming decile mobility: half counts == batch q85 cross-tab") {
    val s = spark
    // timeline span (one min/max agg — a catalog stat at ingest, as the
    // batch query documents); split rule matches q85's (d0+d1+1) div 2
    val span = Tables.events(s, sf)
      .select((unix_micros(col("ts")) / 86400000000L).cast("long").as("day"))
      .agg(min("day").as("d0"), max("day").as("d1")).collect()(0)
    val (d0, d1) = (span.getLong(0), span.getLong(1))
    val split = (d0 + d1 + 1L) / 2L

    val out = runStream("ooo_q85_half")(df =>
      Stateful.halfCountsStream(df, split, d1 + 1L, "2 hours"))
    val wide = out.filter("user_id >= 0")
    assert(wide.count() > 0)
    val streamed = operators.Behavioral.q85DecileCrossTab(wide).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    val batch = SparkEntry.queries("q85_decile_mobility")(s, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    // all-integer: streamed must equal batch bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming as-of enrichment: emitted matches == batch q25 exactly") {
    val s = spark
    val out = runStream("ooo_asof")(df => Stateful.asofStream(df, "2 hours"))
    val streamed = out.filter("event_id >= 0").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = SparkEntry.queries("q25_asof_join")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty)
    // all-integer (ids + µs gap): streamed must equal batch bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.diff(batch).take(3)}; " +
        s"batch-only: ${batch.diff(streamed).take(3)}")
  }

  test("streaming forward as-of: matches + watermark timeouts == batch q89") {
    val s = spark
    val out = runStream("ooo_asof_fwd")(df =>
      Stateful.asofFwdStream(df, 86400000000L, "2 hours"))
    val streamed = out.filter("event_id >= 0").collect()
      .map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Long]))).toMap
    val batch = SparkEntry.queries("q89_asof_directions")(s, sf).collect()
      .map(r => r.getLong(0) ->
        (Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long]))).toMap
    assert(streamed.nonEmpty)
    // every click resolves exactly once, match or timeout, and the
    // resolution equals the batch forward columns bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming rolling quantiles: closed buckets == batch q95 (r4 tolerance)") {
    val s = spark
    val out = runStream("ooo_rollq")(df =>
      Stateful.rollingQuantileStream(df, "2 hours"))
    val streamed = out.filter("event_type <> 'zz_sentinel'").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getInt(6))).toMap
    val batch = SparkEntry.queries("q95_rolling_quantiles")(s, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getInt(6))).toMap
    assert(streamed.nonEmpty)
    assert(streamed.keySet == batch.keySet,
      s"stream-only: ${streamed.keySet.diff(batch.keySet).take(3)}; " +
        s"batch-only: ${batch.keySet.diff(streamed.keySet).take(3)}")
    // batch outputs are r4-rounded; streamed quantiles come from the
    // same values accumulated in a different FP order — gap bounded by
    // the rounding half-width
    streamed.foreach { case (k, (v, med, p25, p75, flag)) =>
      val (bv, bmed, bp25, bp75, bflag) = batch(k)
      for ((a, b) <- Seq((v, bv), (med, bmed), (p25, bp25), (p75, bp75)))
        assert(math.abs(a - b) <= 5e-5 + 1e-9, s"$k: $a vs $b")
      assert(flag == bflag, s"$k: outlier flag $flag vs $bflag")
    }
  }

  test("streaming burn-rate: closed hours == batch q128 grid") {
    val s = spark
    val out = runStream("ooo_burn")(df => Stateful.burnRateStream(df))
    // sentinel lands in its own far-future hour; keep timeline hours
    val maxHour = Tables.events(s, sf)
      .select(expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(max("h")).head.getLong(0)
    val snap = out.filter(col("hour") <= maxHour)
    assert(snap.count() > 0)
    val streamed = operators.Security.q128Finish(
        snap.select("hour", "errs", "total")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5))).toSeq
    val batch = SparkEntry.queries("q128_burn_rate")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5))).toSeq
    // commutative integer counters through the shared finisher ⇒
    // bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming backlog: order-lifecycle snapshots == batch q122") {
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger

    val opens = Tables.orders(s, sf)
      .select(lit("open").as("kind"), col("o_orderkey"),
        col("o_orderdate").cast("timestamp").as("ts"))
    val ships = Tables.lineitem(s, sf)
      .select(lit("ship").as("kind"), col("l_orderkey").as("o_orderkey"),
        col("l_shipdate").cast("timestamp").as("ts"))
    val rows = opens.unionByName(ships)
      .as[(String, Long, java.sql.Timestamp)].collect()
      .sortBy { r =>
        val jitter = Math.floorMod(r._2 * 2654435761L + r._1.length,
          1800000L)
        (r._3.getTime + jitter, r._2)
      }
    val dmax = rows.map(_._3.getTime).max / 86400000L

    val input = MemoryStream[(String, Long, java.sql.Timestamp)]
    val q = Stateful.backlogStream(
        input.toDS().toDF("kind", "o_orderkey", "ts"), dmax)
      .writeStream.format("memory").queryName("ooo_backlog")
      .trigger(Trigger.ProcessingTime(50)).start()
    val third = rows.length / 3
    Seq(rows.slice(0, third), rows.slice(third, 2 * third),
      rows.drop(2 * third)).foreach { chunk =>
      input.addData(chunk.toSeq); q.processAllAvailable()
    }
    val sentTs = new java.sql.Timestamp((dmax + 30L) * 86400000L)
    for (i <- 1 to 2) {
      input.addData(("zz", -1L,
        new java.sql.Timestamp(sentTs.getTime + i)))
      q.processAllAvailable()
    }
    q.stop()

    val snap = s.table("ooo_backlog").filter("o_orderkey >= 0")
    assert(snap.count() > 0)
    val streamed = operators.Relational3.q122Rollup(
        snap.select("open_day", "close_day")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val batch = SparkEntry.queries("q122_order_backlog")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // commutative two-Long state through the shared rollup ⇒ bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming bridge: per-brand year totals == batch q118 effects") {
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger

    val dmax = Tables.orders(s, sf)
      .select((unix_micros(col("o_orderdate").cast("timestamp"))
        / 86400000000L).cast("long").as("day"))
      .agg(max("day")).head.getLong(0)
    // brand-enriched line items (the ingest-time dimension lookup),
    // shuffled within the slack horizon (the shuffledEvents convention)
    val items = Tables.lineitem(s, sf)
      .join(Tables.orders(s, sf),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.part(s, sf), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        col("o_orderdate").cast("timestamp").as("ts"),
        expr("cast(round(l_quantity) as bigint)").as("qc"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("cc"))
      .as[(String, java.sql.Timestamp, Long, Long)].collect()
      .sortBy { r =>
        val jitter = Math.floorMod(r._4 * 2654435761L + r._3, 1800000L)
        (r._2.getTime + jitter, r._4)
      }

    val input = MemoryStream[(String, java.sql.Timestamp, Long, Long)]
    val q = Stateful.bridgeStream(
        input.toDS().toDF("p_brand", "ts", "qc", "cc"), 1996, 1997, dmax)
      .writeStream.format("memory").queryName("ooo_bridge")
      .trigger(Trigger.ProcessingTime(50)).start()
    val third = items.length / 3
    Seq(items.slice(0, third), items.slice(third, 2 * third),
      items.drop(2 * third)).foreach { chunk =>
      input.addData(chunk.toSeq); q.processAllAvailable()
    }
    val sentTs = new java.sql.Timestamp((dmax + 30L) * 86400000L)
    for (i <- 1 to 2) {
      input.addData(("zz", new java.sql.Timestamp(sentTs.getTime + i),
        0L, 0L))
      q.processAllAvailable()
    }
    q.stop()

    val snap = s.table("ooo_bridge").filter(col("p_brand") =!= "zz")
    assert(snap.count() > 0)
    val streamed = operators.Relational3.q118Finish(snap).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    val batch = SparkEntry.queries("q118_price_volume_bridge")(s, sf)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    // commutative exact-integer state through the shared finisher ⇒
    // bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming Holt forecaster: closed days == batch q119 rows") {
    val s = spark
    val out = runStream("ooo_holt")(df => Stateful.holtStream(df))
    val snap = out.filter(col("event_type") =!= "zz_sentinel")
    assert(snap.count() > 0)
    val streamed = operators.Temporal.q119Finish(
        snap.select("event_type", "day", "mi", "f")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) null else r.getDouble(3),
        if (r.isNullAt(4)) null else r.getDouble(4))).toSeq
    val batch = SparkEntry.queries("q119_holt_forecast")(s, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) null else r.getDouble(3),
        if (r.isNullAt(4)) null else r.getDouble(4))).toSeq
    // exact integer day means + exact-binary-fraction smoothing through
    // the shared finisher ⇒ bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming baskets: bitmask day-close == batch q116 rules") {
    val s = spark
    import s.implicits._
    // event-type taxonomy (catalog stat fitted at ingest): type → bit
    val types = Tables.events(s, sf)
      .select("event_type").distinct().collect()
      .map(_.getString(0)).sorted
    val typeIndex = types.zipWithIndex.toMap
    val out = runStream("ooo_basket")(df =>
      Stateful.basketStream(df, typeIndex))
    val snap = out.filter("user_id >= 0 and mask != 0")
    assert(snap.count() > 0)
    // unpack each closed basket's bitmask back to membership rows, then
    // run the SHARED rollup — identical code to batch
    val baskets = snap.collect()
      .flatMap { r =>
        val (u, day, mask) = (r.getLong(0), r.getLong(1), r.getLong(2))
        types.indices.filter(i => (mask & (1L << i)) != 0L)
          .map(i => (u, day, types(i)))
      }.toSeq.toDF("user_id", "day", "event_type")
    val streamed = operators.Behavioral.q116Rollup(baskets).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7),
        r.getDouble(8))).toSeq
    val batch = SparkEntry.queries("q116_basket_lift")(s, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7),
        r.getDouble(8))).toSeq
    // identical rollup code over identical basket membership ⇒ bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming baskets survive a checkpoint restart mid-stream") {
    // the open-day bitmask state lives only in the state store across
    // the stop; the resumed query must restore every open basket's mask
    // exactly (a replayed epoch re-emits the same mask by determinism)
    val s = spark
    import s.implicits._
    val types = Tables.events(s, sf)
      .select("event_type").distinct().collect()
      .map(_.getString(0)).sorted
    val typeIndex = types.zipWithIndex.toMap
    val got = restartRun(tmpDir("basket_restart_ck"))(df =>
      Stateful.basketStream(df, typeIndex))

    val rows = got.map(b => (b.user_id, b.day) -> b.mask).toMap.toSeq
      .filter { case ((u, _), mask) => u >= 0L && mask != 0L }
    assert(rows.nonEmpty)
    val baskets = rows
      .flatMap { case ((u, day), mask) =>
        types.indices.filter(i => (mask & (1L << i)) != 0L)
          .map(i => (u, day, types(i)))
      }.toDF("user_id", "day", "event_type")
    val streamed = operators.Behavioral.q116Rollup(baskets).collect()
      .map(_.toString).toSeq
    val batch = SparkEntry.queries("q116_basket_lift")(s, sf).collect()
      .map(_.toString).toSeq
    assert(streamed == batch,
      s"restart broke parity: stream-only " +
        s"${streamed.toSet.diff(batch.toSet).take(3)}; batch-only " +
        s"${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("transformWithState warm-start: seeded history + streamed tail == batch") {
    // the lambda→kappa migration: state boots from a batch snapshot of
    // the first timeline half, the stream carries ONLY the second half,
    // and the union of emissions must equal batch over the WHOLE range
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger

    val prev = s.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val DayUs = 86400000000L
      def dayOf(e: Stateful.Ev): Long =
        Math.floorDiv(e._2.getTime * 1000L, DayUs)
      def milliOf(v: Double): Long =
        java.math.BigDecimal.valueOf(v * 1000)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      val (shuffled, sentinelTs) = shuffledEvents()
      val d0 = shuffled.map(dayOf).min
      val d1 = shuffled.map(dayOf).max
      val mid = (d0 + d1 + 1) / 2
      val (hist, tail) = shuffled.partition(e => dayOf(e) < mid)
      assert(hist.nonEmpty && tail.nonEmpty, "split must be real")
      val seed = hist.groupBy(e => (e._4, dayOf(e))).map {
        case ((et, day), es) =>
          Stateful.SeedCell(et, day, es.length.toLong,
            es.map(e => milliOf(e._5)).sum)
      }.toSeq
      val seedDs = s.createDataset(seed)

      val input = MemoryStream[Stateful.Ev]
      val q = Stateful.dailyMeansTwsSeeded(
          input.toDS().toDF("user_id", "ts", "event_id", "event_type",
            "value"), seedDs)
        .writeStream.format("memory").queryName("tws_seeded")
        .option("checkpointLocation", tmpDir("tws_seed_ck"))
        .trigger(Trigger.ProcessingTime(50)).start()
      val third = tail.length / 3
      Seq(tail.slice(0, third), tail.slice(third, 2 * third),
        tail.drop(2 * third)).foreach { chunk =>
        input.addData(chunk.toSeq); q.processAllAvailable()
      }
      for (i <- 1 to 2) {
        input.addData((-1L,
          new java.sql.Timestamp(sentinelTs.getTime + i), -1L,
          "zz_sentinel", 0.0))
        q.processAllAvailable()
      }
      q.stop()

      val streamed = s.table("tws_seeded")
        .filter("event_type != 'zz_sentinel'").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val batch = operators.Temporal.q104Daily(s, sf).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed.nonEmpty)
      assert(streamed == batch,
        s"warm-start broke parity: stream-only " +
          s"${streamed.diff(batch).take(3)}; batch-only " +
          s"${batch.diff(streamed).take(3)}")
    } finally {
      if (prev.isEmpty)
        s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      else s.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    }
  }

  test("transformWithState survives a checkpoint restart mid-stream") {
    // the state-v2 recovery shape: MapState cells AND registered
    // event-time timers must both round-trip the RocksDB store — a
    // restart that loses a day's timer would leave that bucket open
    // (absent) rather than wrong, so parity catches it
    val s = spark
    val got = restartRun(tmpDir("tws_restart_ck"), rocksDb = true)(
      df => Stateful.dailyMeansTws(df))
    val streamed = got.map(r => (r.event_type, r.day) -> r.mi).toMap.toSeq
      .filter(_._1._1 != "zz_sentinel")
      .map { case ((et, day), mi) => (et, day, mi) }.toSet
    val batch = operators.Temporal.q104Daily(s, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"restart broke state-v2 recovery: stream-only " +
        s"${streamed.diff(batch).take(3)}; batch-only " +
        s"${batch.diff(streamed).take(3)}")
  }

  test("transformWithState ListState survives a checkpoint restart") {
    // the fourth recovery shape: a state-v2 LIST buffer (granular
    // appends) + ValueState machine + re-armed timers must round-trip
    // RocksDB — a restart that drops buffered rows would emit short
    // sessions, one that replays them twice would inflate counts
    val s = spark
    val got = restartRun(tmpDir("tws_list_restart_ck"), rocksDb = true)(
      df => Stateful.sessionizeTws(df))
    val streamed = got
      .map(r => (r.user_id, r.session_seq, r.n_events, r.first_event))
      .toSet.filter(_._1 >= 0)
    val batch = SparkEntry.queries("q37_sessionize")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(4))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"restart broke ListState recovery: stream-only " +
        s"${streamed.diff(batch).take(3)}; batch-only " +
        s"${batch.diff(streamed).take(3)}")
  }

  test("ordered-replay Holt survives a checkpoint restart mid-stream") {
    // the riskier recovery shape: orderedPerKeyBy state carries the
    // reorder BUFFER (pending rows) beside the fold state — both must
    // round-trip the state store across a restart
    val s = spark
    import s.implicits._
    val got = restartRun(tmpDir("holt_restart_ck"), sentinelsOf = ts =>
      (1 to 2).map(i => (-1L, new java.sql.Timestamp(ts.getTime + i), -1L,
        "zz_sentinel", 0.0)))(df => Stateful.holtStream(df))

    val rows = got.map(h => (h.event_type, h.day) -> (h.mi, h.f)).toMap.toSeq
      .filter(_._1._1 != "zz_sentinel")
      .map { case ((et, day), (mi, f)) => (et, day, mi, f) }
    assert(rows.nonEmpty)
    val streamed = operators.Temporal.q119Finish(
        rows.toDF("event_type", "day", "mi", "f")).collect()
      .map(_.toString).toSeq
    val batch = SparkEntry.queries("q119_holt_forecast")(s, sf).collect()
      .map(_.toString).toSeq
    assert(streamed == batch,
      s"restart broke the ordered fold: stream-only " +
        s"${streamed.toSet.diff(batch.toSet).take(3)}; batch-only " +
        s"${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming retention: emitted activity == batch q58 cohort matrix") {
    val s = spark
    val out = runStream("ooo_retention")(df =>
      Stateful.retentionStream(df, "2 hours"))
    val streamed = out.filter("user_id >= 0")
      .groupBy("cohort_day", "day_offset").agg(count(lit(1)).as("users"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = SparkEntry.queries("q58_retention")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("transformWithState daily means: per-day timers == batch q104 daily") {
    val s = spark
    // the state-v2 API requires the RocksDB provider (the production
    // backend the repo pins anyway)
    val prev = s.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = runStream("tws_daily")(df => Stateful.dailyMeansTws(df))
      val streamed = out.filter("event_type != 'zz_sentinel'").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val batch = operators.Temporal.q104Daily(s, sf).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed.nonEmpty)
      // commutative MapState + per-day timers == the batch daily grid,
      // despite the shuffled-within-slack arrival order
      assert(streamed == batch,
        s"stream-only: ${streamed.diff(batch).take(3)}; " +
          s"batch-only: ${batch.diff(streamed).take(3)}")
    } finally {
      if (prev.isEmpty)
        s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      else s.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    }
  }

  test("streaming PSI drift: per-(type,bin) counters == batch q137") {
    val s = spark
    val span = Tables.events(s, sf)
      .select(expr("unix_micros(ts) div 86400000000L").as("day"))
      .agg(min("day").as("d0"), max("day").as("d1")).head
    val (d0, d1) = (span.getLong(0), span.getLong(1))
    val out = runStream("ooo_psi")(df => Stateful.psiStream(df, d0, d1))
    // re-materialize locally: q137Finish self-joins grid branches, and a
    // memory-table view would carry conflicting attribute ids
    import s.implicits._
    val cells = out.filter("event_type != 'zz_sentinel'").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(cells.nonEmpty)
    val grid = cells.toSeq
      .toDF("event_type", "bin", "train_n", "serve_n")
    val streamed = operators.Statistics.q137Finish(grid).collect()
      .map(_.toString).toSeq
    val batch = SparkEntry.queries("q137_psi_drift")(s, sf).collect()
      .map(_.toString).toSeq
    // identical report code over identical integer counters ⇒ bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming survival durations: per-user state == batch q143 curve") {
    val s = spark
    import s.implicits._
    val d1 = Tables.events(s, sf)
      .select(expr("unix_micros(ts) div 86400000000L").as("day"))
      .agg(max("day")).head.getLong(0)
    val out = runStream("ooo_surv")(df => Stateful.survivalStream(df, d1))
    // re-materialize locally: q143Finish crossJoins grid branches
    val durs = out.filter("user_id >= 0").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(durs.nonEmpty)
    val streamed = operators.Statistics.q143Finish(
        durs.toSeq.toDF("t", "ev")).collect()
      .map(_.toString).toSeq
    val batch = SparkEntry.queries("q143_survival_km")(s, sf).collect()
      .map(_.toString).toSeq
    // identical risk-table code over identical integer durations
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming SLA attainment: per-order gap state == batch q131") {
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger

    // corpus max ship day — the catalog-at-ingest stat; ship >= open so
    // it bounds the whole feed's event time
    val dmax = Tables.lineitem(s, sf)
      .select((unix_micros(col("l_shipdate").cast("timestamp"))
        / 86400000000L).cast("long").as("day"))
      .agg(max("day")).head.getLong(0)
    // one interleaved feed: order-open events (kind 0, with priority)
    // and line-ship events (kind 1), shuffled within the slack horizon
    val opens = Tables.orders(s, sf)
      .select(col("o_orderkey"),
        col("o_orderdate").cast("timestamp").as("ts"),
        lit(0).as("kind"), col("o_orderpriority").as("priority"))
      .as[(Long, java.sql.Timestamp, Int, String)].collect()
    val ships = Tables.lineitem(s, sf)
      .select(col("l_orderkey"),
        col("l_shipdate").cast("timestamp").as("ts"),
        lit(1).as("kind"), lit("").as("priority"))
      .as[(Long, java.sql.Timestamp, Int, String)].collect()
    val feed = (opens ++ ships).sortBy { r =>
      val jitter = Math.floorMod(r._1 * 2654435761L + r._3, 1800000L)
      (r._2.getTime + jitter, r._1, r._3)
    }

    val input = MemoryStream[(Long, java.sql.Timestamp, Int, String)]
    val q = Stateful.slaStream(
        input.toDS().toDF("o_orderkey", "ts", "kind", "priority"),
        dmax, "2 hours")
      .writeStream.format("memory").queryName("ooo_sla")
      .trigger(Trigger.ProcessingTime(50)).start()
    val third = feed.length / 3
    Seq(feed.slice(0, third), feed.slice(third, 2 * third),
      feed.drop(2 * third)).foreach { chunk =>
      input.addData(chunk.toSeq); q.processAllAvailable()
    }
    val sentTs = new java.sql.Timestamp((dmax + 30L) * 86400000L)
    for (i <- 1 to 2) {
      input.addData((-1L, new java.sql.Timestamp(sentTs.getTime + i), 0,
        "zz_sentinel"))
      q.processAllAvailable()
    }
    q.stop()

    val gaps = s.table("ooo_sla").filter("o_orderpriority != 'zz_sentinel'")
    assert(gaps.count() > 0)
    val streamed = operators.Relational3.q131Finish(gaps).collect()
      .map(_.toString).toSeq
    val batch = SparkEntry.queries("q131_sla_attainment")(s, sf).collect()
      .map(_.toString).toSeq
    // identical rollup code over identical integer gaps ⇒ bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming return-rate QC: per-brand counters == batch q136") {
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger

    val dmax = Tables.lineitem(s, sf)
      .select((unix_micros(col("l_shipdate").cast("timestamp"))
        / 86400000000L).cast("long").as("day"))
      .agg(max("day")).head.getLong(0)
    // brand-enriched line feed (the part dim join happens at ingest),
    // shuffled within the slack horizon
    val lines = Tables.lineitem(s, sf)
      .join(Tables.part(s, sf).select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        col("l_shipdate").cast("timestamp").as("ts"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("cc"),
        col("l_orderkey"), col("l_linenumber"))
      .as[(String, java.sql.Timestamp, Long, Long, Long, Long)].collect()
    val feed = lines.sortBy { r =>
      val jitter = Math.floorMod(r._5 * 2654435761L + r._6, 1800000L)
      (r._2.getTime + jitter, r._5, r._6)
    }.map(r => (r._1, r._2, r._3, r._4))

    val input = MemoryStream[(String, java.sql.Timestamp, Long, Long)]
    val q = Stateful.returnRateStream(
        input.toDS().toDF("p_brand", "ts", "ret", "cc"), dmax, "2 hours")
      .writeStream.format("memory").queryName("ooo_retrate")
      .trigger(Trigger.ProcessingTime(50)).start()
    val third = feed.length / 3
    Seq(feed.slice(0, third), feed.slice(third, 2 * third),
      feed.drop(2 * third)).foreach { chunk =>
      input.addData(chunk.toSeq); q.processAllAvailable()
    }
    val sentTs = new java.sql.Timestamp((dmax + 30L) * 86400000L)
    for (i <- 1 to 2) {
      input.addData(("zz_sentinel",
        new java.sql.Timestamp(sentTs.getTime + i), 0L, 0L))
      q.processAllAvailable()
    }
    q.stop()

    val brands = s.table("ooo_retrate").filter("p_brand != 'zz_sentinel'")
    assert(brands.count() > 0)
    val streamed = operators.Relational3.q136Finish(brands).collect()
      .map(_.toString).toSeq
    val batch = SparkEntry.queries("q136_return_rates")(s, sf).collect()
      .map(_.toString).toSeq
    // identical projection over identical integer counters ⇒ bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming DQ pack: rule report == batch q167") {
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger

    val endDay = Tables.events(s, sf)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(max("day")).head.getLong(0)
    // props-bearing feed (the standard harness feed lacks props),
    // shuffled within the slack horizon
    val evs = Tables.events(s, sf)
      .select(col("event_type"), col("ts"), col("value"), col("user_id"),
        col("props"), col("event_id"))
      .as[(String, java.sql.Timestamp, Double, Long, String, Long)]
      .collect()
    val feed = evs.sortBy { r =>
      val jitter = Math.floorMod(r._6 * 2654435761L, 1800000L)
      (r._2.getTime + jitter, r._6)
    }.map(r => (r._1, r._2, r._3, r._4, r._5))

    val input = MemoryStream[(String, java.sql.Timestamp, Double, Long, String)]
    val q = Stateful.dqStream(
        input.toDS().toDF("event_type", "ts", "value", "user_id", "props"),
        endDay + 1L, "2 hours")
      .writeStream.format("memory").queryName("ooo_dq")
      .trigger(Trigger.ProcessingTime(50)).start()
    val third = feed.length / 3
    Seq(feed.slice(0, third), feed.slice(third, 2 * third),
      feed.drop(2 * third)).foreach { chunk =>
      input.addData(chunk.toSeq); q.processAllAvailable()
    }
    val sentTs = new java.sql.Timestamp((endDay + 31L) * 86400000L)
    for (i <- 1 to 2) {
      input.addData(("zz_sentinel",
        new java.sql.Timestamp(sentTs.getTime + i), 0.0, -1L, "x"))
      q.processAllAvailable()
    }
    q.stop()

    // sentinel rows fold into the zz_sentinel key's counters, which the
    // finish sums — exclude them like the other custom-feed twins
    val grid = s.table("ooo_dq").filter("event_type != 'zz_sentinel'")
    assert(grid.count() > 0)
    val streamed = operators.Quality.q167Finish(grid).collect()
      .map(_.toString).toSeq
    val batch = SparkEntry.queries("q167_event_dq")(s, sf).collect()
      .map(_.toString).toSeq
    // identical projection over identical integer counters ⇒ bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming profit: nation-year cells == batch q165") {
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger

    val dmax = Tables.orders(s, sf)
      .select(expr("unix_micros(cast(o_orderdate as timestamp))" +
        " div 86400000000").as("day"))
      .agg(max("day")).head.getLong(0)
    // ingest-enriched line feed: part filter + supplier→nation joins
    // happen before the stream (the returnRateStream posture)
    val lines = Tables.lineitem(s, sf)
      .join(Tables.part(s, sf).filter(col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice"),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(s, sf).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.nation(s, sf).select("n_nationkey", "n_name"),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.orders(s, sf).select(col("o_orderkey"),
        col("o_orderdate").cast("timestamp").as("ts"),
        year(col("o_orderdate")).as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("n_name"), col("ts"), col("o_year"),
        (expr("cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)")
          - expr("(cast(round(p_retailprice * 100) as bigint)" +
            " * cast(round(l_quantity) as bigint) * 4) div 5"))
          .as("profit_cents"),
        col("l_orderkey"), col("l_linenumber"))
      .as[(String, java.sql.Timestamp, Int, Long, Long, Long)].collect()
    val feed = lines.sortBy { r =>
      val jitter = Math.floorMod(r._5 * 2654435761L + r._6, 1800000L)
      (r._2.getTime + jitter, r._5, r._6)
    }.map(r => (r._1, r._2, r._3, r._4))

    val input = MemoryStream[(String, java.sql.Timestamp, Int, Long)]
    val q = Stateful.profitStream(
        input.toDS().toDF("n_name", "ts", "o_year", "profit_cents"),
        dmax + 1L, "2 hours")
      .writeStream.format("memory").queryName("ooo_profit")
      .trigger(Trigger.ProcessingTime(50)).start()
    val third = feed.length / 3
    Seq(feed.slice(0, third), feed.slice(third, 2 * third),
      feed.drop(2 * third)).foreach { chunk =>
      input.addData(chunk.toSeq); q.processAllAvailable()
    }
    val sentTs = new java.sql.Timestamp((dmax + 31L) * 86400000L)
    for (i <- 1 to 2) {
      input.addData(("zz_sentinel",
        new java.sql.Timestamp(sentTs.getTime + i), 0, 0L))
      q.processAllAvailable()
    }
    q.stop()

    val grid = s.table("ooo_profit").filter("n_name != 'zz_sentinel'")
    assert(grid.count() > 0)
    val streamed = operators.Relational3.q165Finish(grid).collect()
      .map(_.toString).toSeq
    val batch = SparkEntry.queries("q165_product_profit")(s, sf).collect()
      .map(_.toString).toSeq
    // identical projection over identical integer counters ⇒ bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming chi-square: contingency cells == batch q148") {
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger

    val dmax = Tables.lineitem(s, sf)
      .select((unix_micros(col("l_shipdate").cast("timestamp"))
        / 86400000000L).cast("long").as("day"))
      .agg(max("day")).head.getLong(0)
    val lines = Tables.lineitem(s, sf)
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate").cast("timestamp").as("ts"),
        col("l_orderkey"), col("l_linenumber"))
      .as[(String, String, java.sql.Timestamp, Long, Long)].collect()
    val feed = lines.sortBy { r =>
      val jitter = Math.floorMod(r._4 * 2654435761L + r._5, 1800000L)
      (r._3.getTime + jitter, r._4, r._5)
    }.map(r => (r._1, r._2, r._3))

    val input = MemoryStream[(String, String, java.sql.Timestamp)]
    val q = Stateful.chiSquareStream(
        input.toDS().toDF("l_returnflag", "l_linestatus", "ts"),
        dmax, "2 hours")
      .writeStream.format("memory").queryName("ooo_chisq")
      .trigger(Trigger.ProcessingTime(50)).start()
    val third = feed.length / 3
    Seq(feed.slice(0, third), feed.slice(third, 2 * third),
      feed.drop(2 * third)).foreach { chunk =>
      input.addData(chunk.toSeq); q.processAllAvailable()
    }
    val sentTs = new java.sql.Timestamp((dmax + 30L) * 86400000L)
    for (i <- 1 to 2) {
      input.addData(("zz_sentinel", "zz",
        new java.sql.Timestamp(sentTs.getTime + i)))
      q.processAllAvailable()
    }
    q.stop()

    val cells = s.table("ooo_chisq").filter("l_returnflag != 'zz_sentinel'")
    assert(cells.count() > 0)
    val streamed = operators.Statistics.q148Finish(cells).collect()
      .map(_.toString).toSeq
    val batch = SparkEntry.queries("q148_chi_square")(s, sf).collect()
      .map(_.toString).toSeq
    // identical projection over identical integer counters ⇒ bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming daily-revenue grid: one state == batch q147 AND q154") {
    val s = spark
    import s.implicits._
    val dmax = Tables.events(s, sf)
      .select(expr("unix_micros(ts) div 86400000000L").as("day"))
      .agg(max("day")).head.getLong(0)
    val out = runStream("ooo_dayrev")(df =>
      Stateful.dailyRevenueStream(df.select(
        col("event_type"), col("ts"),
        expr("cast(round(value * 100) as bigint)").as("cents")), dmax))
    // re-materialize locally: both finishes self-join grid branches
    val cells = out.filter("event_type != 'zz_sentinel'").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(cells.nonEmpty)
    // ONE streamed state, TWO batch readouts off the same grid
    val trendStream = operators.Statistics.q147Finish(
        cells.toSeq.toDF("event_type", "day", "c")).collect()
      .map(_.toString).toSeq
    val trendBatch = SparkEntry.queries("q147_theilsen")(s, sf).collect()
      .map(_.toString).toSeq
    assert(trendStream == trendBatch,
      s"q147 stream-only: ${trendStream.toSet.diff(trendBatch.toSet).take(3)}; " +
        s"batch-only: ${trendBatch.toSet.diff(trendStream.toSet).take(3)}")
    val acfStream = operators.Statistics.q154Finish(
        cells.toSeq.toDF("event_type", "day", "x")).collect()
      .map(_.toString).toSeq
    val acfBatch = SparkEntry.queries("q154_autocorrelation")(s, sf)
      .collect().map(_.toString).toSeq
    assert(acfStream == acfBatch,
      s"q154 stream-only: ${acfStream.toSet.diff(acfBatch.toSet).take(3)}; " +
        s"batch-only: ${acfBatch.toSet.diff(acfStream.toSet).take(3)}")
    // ... and the round-7 readouts off the SAME grid: change-point
    // localization and the rolling-origin forecast backtest
    val cpStream = operators.Statistics.q171Finish(
        cells.toSeq.toDF("event_type", "day", "x")).collect()
      .map(_.toString).toSeq
    val cpBatch = SparkEntry.queries("q171_change_point")(s, sf).collect()
      .map(_.toString).toSeq
    assert(cpStream == cpBatch,
      s"q171 stream-only: ${cpStream.toSet.diff(cpBatch.toSet).take(3)}; " +
        s"batch-only: ${cpBatch.toSet.diff(cpStream.toSet).take(3)}")
    val fbStream = operators.Statistics.q173Finish(
        cells.toSeq.toDF("event_type", "day", "x")).collect()
      .map(_.toString).toSeq
    val fbBatch = SparkEntry.queries("q173_forecast_backtest")(s, sf)
      .collect().map(_.toString).toSeq
    assert(fbStream == fbBatch,
      s"q173 stream-only: ${fbStream.toSet.diff(fbBatch.toSet).take(3)}; " +
        s"batch-only: ${fbBatch.toSet.diff(fbStream.toSet).take(3)}")
  }

  test("transformWithState sessions: ListState buffer == batch q37") {
    val s = spark
    val prev = s.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = runStream("tws_sessions")(df => Stateful.sessionizeTws(df))
      val streamed = out.filter("user_id >= 0").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      val batch = SparkEntry.queries("q37_sessionize")(s, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(4))).toSet
      assert(streamed.nonEmpty)
      // granular list appends + one re-armed event-time timer per key
      // reproduce the batch gaps-and-islands exactly
      assert(streamed == batch,
        s"stream-only: ${streamed.diff(batch).take(3)}; " +
          s"batch-only: ${batch.diff(streamed).take(3)}")
    } finally {
      if (prev.isEmpty)
        s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      else s.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    }
  }

  test("streaming twap survives a checkpoint restart (RocksDB)") {
    // the twapStream recovery pin: the reorder buffer, the open day's
    // integer accumulators, and the re-armed timeout must all
    // round-trip RocksDB — a restart that drops buffered ticks would
    // mis-weight the day, one that replays them twice would inflate n
    val s = spark
    import s.implicits._
    import graft.functions.Rounding.r6
    val got = restartRun(tmpDir("tws_twap_restart_ck"), rocksDb = true)(
      df => Stateful.twapStream(df))

    val rows = got.map(r => (r.event_type, r.day, r.n_events, r.dur_ms,
        r.swv, r.scents)).toSet.toSeq.filter(_._1 != "zz_sentinel")
    assert(rows.nonEmpty)
    val streamed = rows
      .toDF("event_type", "day", "n_events", "dur_ms", "swv", "scents")
      .select(col("event_type"), col("day"), col("n_events"),
        col("dur_ms"),
        r6(col("swv").cast("double") / col("dur_ms") / 100).as("twap"),
        r6(col("scents").cast("double") / col("n_events") / 100)
          .as("mean_value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    val batch = SparkEntry.queries("q100_twap")(s, sf)
      .withColumn("day",
        datediff(col("day"), lit("1970-01-01")).cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(streamed == batch,
      s"restart broke twapStream recovery: stream-only " +
        s"${streamed.toSet.diff(batch.toSet).take(3)}; batch-only " +
        s"${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming sequential A/B: interim grid == batch q184") {
    val s = spark
    import s.implicits._
    val endDay = Tables.events(s, sf)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(max("day")).head.getLong(0)
    val out = runStream("ooo_seqab")(df =>
      Stateful.seqAbStream(df, endDay + 1L))
    // the sentinel user is negative but still lands in an arm; its day
    // is 30 days out, so dropping rows past endDay removes it
    val cells = out.filter(col("day") <= endDay).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(cells.nonEmpty)
    val streamed = operators.Statistics.q184Finish(
        cells.toSeq.toDF("day", "na_d", "xa_d", "nb_d", "xb_d"))
      .collect().map(_.toString).toSeq
    val batch = SparkEntry.queries("q184_sequential_ab")(s, sf).collect()
      .map(_.toString).toSeq
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming HLL distinct: sketch-state estimates track exact counts") {
    val s = spark
    val out = runStream("ooo_hll")(df => Stateful.hllDistinctStream(df))
    val est = out.filter("event_type != 'zz_sentinel'").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(est.nonEmpty)
    val exact = Tables.events(s, sf)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(est.keySet == exact.keySet, "cell sets diverge")
    // lgK=14 sigma ~0.8%; these small sets stay in exact sparse mode,
    // but allow the envelope anyway
    est.foreach { case (k, e) =>
      val x = exact(k).toDouble
      assert(math.abs(e - x) / x <= 0.02,
        s"cell $k estimate $e far from exact ${exact(k)}")
    }
  }

  test("streaming KLL quantiles: sketch-state estimates hit target ranks") {
    val s = spark
    val endDay = Tables.events(s, sf)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(max("day")).head.getLong(0)
    val out = runStream("ooo_kll")(df =>
      Stateful.kllQuantileStream(df, endDay + 1L))
    val est = out.filter("event_type != 'zz_sentinel'").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(est.nonEmpty)
    val exact = Tables.events(s, sf)
      .select(col("event_type"),
        expr("cast(round(value * 1000) as bigint)").as("vm"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sorted }
    assert(est.keySet == exact.keySet, "type sets diverge")
    est.foreach { case (t, (n, p50, p90, p99)) =>
      val vals = exact(t)
      // n is EXACT (the sketch counts updates precisely)
      assert(n == vals.length.toLong, s"$t n=$n != ${vals.length}")
      // estimates are implementation-defined; the guarantee is on RANK:
      // k=200 gives ~1.7% normalized rank error (99% conf) — gate at 3%
      for ((q, e) <- Seq(0.5 -> p50, 0.9 -> p90, 0.99 -> p99)) {
        val rank = vals.count(_ <= e).toDouble / vals.length
        assert(math.abs(rank - q) <= 0.03,
          s"$t p$q estimate $e sits at true rank $rank")
      }
    }
  }

  test("streaming KLL quantiles survive a checkpoint restart") {
    // the sketch-bytes-as-state recovery pin: a serialized KLL sketch
    // must round-trip the state store across a restart — dropped bytes
    // reset the distribution, replayed rows double-count updates (n is
    // exact, so either corruption is caught by the n equality alone)
    val s = spark
    val endDay = Tables.events(s, sf)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(max("day")).head.getLong(0)
    val got = restartRun(tmpDir("kll_restart_ck"))(df =>
      Stateful.kllQuantileStream(df, endDay + 1L))

    val cells = got
      .map(r => (r.event_type, r.n, r.p50_milli, r.p90_milli, r.p99_milli))
      .toSet.toSeq.filter(_._1 != "zz_sentinel")
    assert(cells.nonEmpty)
    val exact = Tables.events(s, sf)
      .select(col("event_type"),
        expr("cast(round(value * 1000) as bigint)").as("vm"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sorted }
    assert(cells.map(_._1).toSet == exact.keySet)
    cells.foreach { case (t, n, p50, p90, p99) =>
      val vals = exact(t)
      assert(n == vals.length.toLong,
        s"$t n=$n != ${vals.length}: restart lost or replayed updates")
      for ((q, e) <- Seq(0.5 -> p50, 0.9 -> p90, 0.99 -> p99)) {
        val rank = vals.count(_ <= e).toDouble / vals.length
        assert(math.abs(rank - q) <= 0.03,
          s"$t p$q estimate $e sits at true rank $rank after restart")
      }
    }
  }

  test("streaming KLL survives a checkpoint restart (RocksDB)") {
    // sketch bytes as state must round-trip RocksDB across a restart —
    // n is exact, so dropped bytes or replayed rows are both caught by
    // the n equality alone (the kllQuantileStream pin, re-proven on the
    // RocksDB store)
    val s = spark
    val endDay = Tables.events(s, sf)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(max("day")).head.getLong(0)
    val got = restartRun(tmpDir("tws_kll_restart_ck"), rocksDb = true)(
      df => Stateful.kllQuantileStream(df, endDay + 1L))

    val cells = got
      .map(r => (r.event_type, r.n, r.p50_milli, r.p90_milli, r.p99_milli))
      .toSet.toSeq
    assert(cells.nonEmpty)
    val exact = Tables.events(s, sf)
      .select(col("event_type"),
        expr("cast(round(value * 1000) as bigint)").as("vm"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sorted }
    assert(cells.map(_._1).toSet == exact.keySet)
    cells.foreach { case (t, n, p50, p90, p99) =>
      val vals = exact(t)
      assert(n == vals.length.toLong,
        s"$t n=$n != ${vals.length}: restart lost or replayed updates")
      for ((q, e) <- Seq(0.5 -> p50, 0.9 -> p90, 0.99 -> p99)) {
        val rank = vals.count(_ <= e).toDouble / vals.length
        assert(math.abs(rank - q) <= 0.03,
          s"$t p$q estimate $e sits at true rank $rank after restart")
      }
    }
  }

  test("streaming HLL survives a checkpoint restart (RocksDB)") {
    // the map-of-sketches recovery shape: one HLL register array per
    // (type, day) cell, each cell closing at its own day's end. A
    // restart that drops a cell's registers undercounts it past the 2%
    // gate; a restart that replays rows is absorbed (HLL inserts are
    // idempotent) — so the gate proves bytes AND timeouts both recover,
    // per open day.
    val s = spark
    val got = restartRun(tmpDir("tws_hll_restart_ck"), rocksDb = true)(
      df => Stateful.hllDistinctStream(df))

    val est = got.map(r => (r.event_type, r.day, r.est_users)).toSet.toSeq
      .filter(_._1 != "zz_sentinel")
      .map(c => (c._1, c._2) -> c._3).toMap
    assert(est.nonEmpty)
    val exact = Tables.events(s, sf)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(est.keySet == exact.keySet,
      s"restart lost cells: ${exact.keySet.diff(est.keySet).take(3)}; " +
        s"invented: ${est.keySet.diff(exact.keySet).take(3)}")
    est.foreach { case (k, e) =>
      val x = exact(k).toDouble
      assert(math.abs(e - x) / x <= 0.02,
        s"cell $k estimate $e far from exact ${exact(k)} after restart")
    }
  }

  test("measured state bounds: stateOperators metrics stay within documented limits") {
    // The 100 TB state claims, MEASURED instead of design-asserted:
    // for one twin per state family, harvest numRowsTotal /
    // memoryUsedBytes from StreamingQueryProgress.stateOperators and
    // pin each against the bound its scaladoc documents. Bounds are
    // computed from the batch side (stats-at-ingest), never hard-coded
    // row counts.
    val s = spark
    import s.implicits._
    def ops() = lastProgress.flatMap(_.stateOperators.toSeq)
    def peakRows() = ops().map(_.numRowsTotal).max
    def finalRows() = lastProgress.reverse
      .find(_.stateOperators.nonEmpty)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)

    val endDay = Tables.events(s, sf)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(max("day")).head.getLong(0)

    // family: sketch-bytes, reclaim-on-close (kllQuantileStream) —
    // state rows never exceed the key domain (5 event types; the
    // sentinel is pre-filtered), and after the timeline closes the
    // store is EMPTY (round 9's state.remove), not tombstoned
    runStream("sb_kll")(df => Stateful.kllQuantileStream(df, endDay + 1L))
    val kllPeak = peakRows(); val kllFinal = finalRows()
    val kllMem = ops().map(_.memoryUsedBytes).max
    info(s"kll sketch-state peak=$kllPeak final=$kllFinal mem=$kllMem")
    assert(kllPeak <= 5L,
      s"sketch state rows $kllPeak exceed the 5-type key domain")
    assert(kllFinal == 0L,
      s"closed sketch state must be reclaimed, found $kllFinal rows")

    // family: commutative grid counters (dailyRevenueStream) — state
    // is exactly the (type, day) calendar grid + the sentinel's cell,
    // REGARDLESS of row volume
    val gridCells = Tables.events(s, sf)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct().count()
    runStream("sb_grid")(df =>
      Stateful.dailyRevenueStream(df.select(
        col("event_type"), col("ts"),
        expr("cast(round(value * 100) as bigint)").as("cents")), endDay))
    val gridPeak = peakRows(); val gridFinal = finalRows()
    info(s"grid state peak=$gridPeak final=$gridFinal bound=${gridCells + 1}")
    assert(gridPeak <= gridCells + 1L,
      s"grid state rows $gridPeak exceed the ${gridCells + 1} calendar cells")
    assert(gridFinal == 0L,
      s"closed grid state must be reclaimed, found $gridFinal rows")

    // family: reorder buffer (scd2StreamOoo) — state rows are the KEY
    // set (one buffered machine per user + the sentinel user), bounded
    // by entity cardinality, not event volume
    val users = Tables.events(s, sf).select("user_id").distinct().count()
    runStream("sb_scd2")(df => Stateful.scd2StreamOoo(df, "2 hours"))
    val bufPeak = peakRows()
    info(s"reorder-buffer state peak=$bufPeak bound=${users + 1}")
    assert(bufPeak <= users + 1L,
      s"reorder-buffer state rows $bufPeak exceed ${users + 1} users")

    // family: MapState + per-day timers (dailyMeansTws, state-v2 on
    // RocksDB) — open cells are bounded by the calendar grid + the
    // sentinel's cell; days close (and are removed) as the watermark
    // sweeps, so the store can never exceed the grid
    val prev = s.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      runStream("sb_tws")(df => Stateful.dailyMeansTws(df))
      val twsPeak = peakRows()
      info(s"tws MapState peak=$twsPeak bound=${gridCells + 1}")
      assert(twsPeak <= gridCells + 1L,
        s"tws state rows $twsPeak exceed the ${gridCells + 1} grid cells")
    } finally {
      if (prev.isEmpty)
        s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      else s.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    }
  }

  test("streaming peak concurrency: delta cells == batch q83") {
    val s = spark
    val endDay = Tables.events(s, sf)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(max("day")).head.getLong(0)
    val out = runStream("ooo_concurrency")(df =>
      Stateful.concurrencyStream(df, endDay + 1L))
    // re-materialize locally: q83Finish joins two branches of the cell
    // table, and a memory-table view would carry conflicting attr ids
    import s.implicits._
    val cells = out.filter("event_type != 'zz_sentinel'").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4)))
    assert(cells.nonEmpty)
    val net = cells.filter(_._4 == "net").toSeq
      .map(c => (c._1, c._2, c._3, c._5))
      .toDF("event_type", "day", "minute", "net")
    val starts = cells.filter(_._4 == "start").toSeq
      .map(c => (c._1, c._2, c._5))
      .toDF("event_type", "day", "n_sessions")
    val streamed = operators.Behavioral.q83Finish(net, starts).collect()
      .map(_.toString).toSeq
    val batch = SparkEntry.queries("q83_peak_concurrency")(s, sf)
      .collect().map(_.toString).toSeq
    // identical cum/peak readout over identical integer cells
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming Markov eval: replayed transitions == batch q172") {
    val s = spark
    val out = runStream("ooo_markov_eval")(df => Stateful.markovStream(df))
    val trans = out.filter("user_id >= 0")
    assert(trans.count() > 0)
    val grid = trans.toDF()
      .withColumn("is_train",
        operators.Behavioral.q172IsTrain(col("user_id")))
      .groupBy(col("prev_type").as("cur"), col("next_type").as("nxt"))
      .agg(sum(when(col("is_train"), 1L).otherwise(0L)).as("n_train"),
        sum(when(col("is_train"), 0L).otherwise(1L)).as("n_test_c"))
    val streamed = operators.Behavioral.q172Finish(grid).collect()
      .map(_.toString).toSeq
    val batch = SparkEntry.queries("q172_markov_eval")(s, sf).collect()
      .map(_.toString).toSeq
    // the replay emits the identical consecutive-pair relation, the
    // finish is shared code over exact integers ⇒ bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming log templates: commutative cells == batch q170") {
    val s = spark
    val endDay = Tables.events(s, sf)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(max("day")).head.getLong(0)
    val out = runStream("ooo_templates")(df =>
      Stateful.templateStream(df, endDay + 1L))
    val grid = out.filter("template NOT LIKE 'zz_sentinel%'")
    assert(grid.count() > 0)
    val streamed = operators.Security.q170Finish(grid.toDF()).collect()
      .map(_.toString).toSeq
    val batch = SparkEntry.queries("q170_log_templates")(s, sf).collect()
      .map(_.toString).toSeq
    // identical projection over identical commutative cells ⇒ bit-for-bit
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming Mann-Whitney: histogram counters == batch q149") {
    val s = spark
    import s.implicits._
    val dmax = Tables.events(s, sf)
      .select(expr("unix_micros(ts) div 86400000000L").as("day"))
      .agg(max("day")).head.getLong(0)
    val out = runStream("ooo_mw")(df =>
      Stateful.mannWhitneyStream(df.select(
        expr("cast(round(value * 1000) as bigint)").as("vm"),
        when(col("event_type") === "purchase", 1)
          .when(col("event_type") === "click", 0)
          .otherwise(-1).as("grp"),
        col("ts")), dmax))
    // re-materialize locally (established twin-test pattern); sentinel
    // and non-purchase/click bins arrive as exact-zero cells that every
    // q149Finish aggregate ignores — no filter needed
    val bins = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(bins.nonEmpty)
    val streamed = operators.Statistics.q149Finish(
        bins.toSeq.toDF("vm", "n1", "n2")).collect()
      .map(_.toString).toSeq
    val batch = SparkEntry.queries("q149_mann_whitney")(s, sf).collect()
      .map(_.toString).toSeq
    // identical rank/U/z code over identical integer counters
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }

  test("streaming KS: shared histogram counters == batch q188") {
    val s = spark
    import s.implicits._
    val dmax = Tables.events(s, sf)
      .select(expr("unix_micros(ts) div 86400000000L").as("day"))
      .agg(max("day")).head.getLong(0)
    val out = runStream("ooo_ks")(df =>
      Stateful.mannWhitneyStream(df.select(
        expr("cast(round(value * 1000) as bigint)").as("vm"),
        when(col("event_type") === "purchase", 1)
          .when(col("event_type") === "click", 0)
          .otherwise(-1).as("grp"),
        col("ts")), dmax))
    // re-materialize locally (established twin-test pattern); sentinel
    // and non-purchase/click bins arrive as exact-zero cells that the
    // q188Finish supremum provably never selects (see its scaladoc)
    val bins = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(bins.nonEmpty)
    val streamed = operators.Statistics.q188Finish(
        bins.toSeq.toDF("vm", "n1", "n2")).collect()
      .map(_.toString).toSeq
    val batch = SparkEntry.queries("q188_ks_test")(s, sf).collect()
      .map(_.toString).toSeq
    // identical supremum/λ/p code over identical integer counters
    assert(streamed == batch,
      s"stream-only: ${streamed.toSet.diff(batch.toSet).take(3)}; " +
        s"batch-only: ${batch.toSet.diff(streamed.toSet).take(3)}")
  }
}
