package graft

import org.apache.spark.sql.functions._

/** Semantics gates for the SCD2 history build (Temporal.scala). The
  * oracle row proves cross-engine agreement; this proves the output IS a
  * valid type-2 dimension: per key, versions are consecutive, periods
  * tile the timeline with no overlap, exactly one open period exists,
  * adjacent periods differ in the tracked attribute, and run lengths
  * account for every source event. */
class TemporalSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("streaming ohlc candles == batch q56 resample") {
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger

    val events = Tables.events(s, sf)
      .select("ts", "event_id", "event_type", "value")
      .orderBy("ts", "event_id")
      .as[(java.sql.Timestamp, Long, String, Double)]
      .collect()
    // a far-future sentinel advances the watermark past every real
    // window so append mode flushes all candles
    val sentinelTs = new java.sql.Timestamp(
      events.map(_._1.getTime).max + 30L * 86400 * 1000)
    val input = MemoryStream[(java.sql.Timestamp, Long, String, Double)]
    val (first, rest) = events.splitAt(events.length / 2)
    val q = graft.streaming.Stateful.ohlcStream(
        input.toDS().toDF("ts", "event_id", "event_type", "value"))
      .writeStream.format("memory").queryName("ohlc_out")
      .trigger(Trigger.ProcessingTime(50)).start()
    input.addData(first.toSeq)
    q.processAllAvailable()
    input.addData(rest.toSeq)
    q.processAllAvailable()
    input.addData(Seq((sentinelTs, -1L, "zz_sentinel", 0.0)))
    q.processAllAvailable()
    q.stop()

    // mean/volume compared with a tolerance rather than after rounding:
    // streamed partial-merge summation order can differ from batch by an
    // ulp, which flips a .005 rounding knife-edge (seen at bucket 78924)
    val streamed = s.sql(
      """SELECT bucket, event_type, open, high, low, close, n_events,
        |  mean_value, volume
        |FROM ohlc_out WHERE event_type <> 'zz_sentinel'""".stripMargin)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6), r.getDouble(7),
        r.getDouble(8))).toMap
    val batch = operators.Temporal.q56Ohlc.run(s, sf).collect()
      .map(r => (r.getLong(1), r.getString(0)) -> (r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6), r.getDouble(7),
        r.getDouble(8))).toMap
    assert(streamed.nonEmpty)
    assert(streamed.keySet == batch.keySet,
      s"stream-only: ${streamed.keySet.diff(batch.keySet).take(3)}; " +
        s"batch-only: ${batch.keySet.diff(streamed.keySet).take(3)}")
    // batch mean/volume are rounded to 2dp (oracle parity); streamed are
    // raw — so the gap is at most the 0.005 rounding half-width plus ulp
    streamed.foreach { case (k, (o, h, l, c, n, mean, vol)) =>
      val (bo, bh, bl, bc, bn, bmean, bvol) = batch(k)
      assert((o, h, l, c, n) == ((bo, bh, bl, bc, bn)), s"candle $k ohlc/n")
      assert(math.abs(mean - bmean) <= 0.01, s"candle $k mean $mean vs $bmean")
      assert(math.abs(vol - bvol) <= 0.01, s"candle $k volume $vol vs $bvol")
    }
  }

  test("scd2 periods tile each user's timeline") {
    val hist = SparkEntry.queries("q48_scd2")(spark, sf).collect()
    val events = Tables.events(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    assert(hist.nonEmpty)
    hist.groupBy(_.getLong(0)).foreach { case (user, rows) =>
      val byVersion = rows.sortBy(_.getInt(4))
      // versions are 1..k with no gaps
      assert(byVersion.map(_.getInt(4)).toSeq == (1 to rows.length))
      // exactly one open (is_current) period, and it is the last one
      val current = byVersion.filter(_.getInt(5) == 1)
      assert(current.length == 1 && current.head.getInt(4) == rows.length)
      assert(current.head.isNullAt(3)) // open period has no valid_to
      byVersion.sliding(2).foreach {
        case Array(a, b) =>
          // period close == next period open (no gap, no overlap)
          assert(a.getTimestamp(3) == b.getTimestamp(2))
          // a new version exists only because the attribute changed
          assert(a.getString(1) != b.getString(1))
        case _ => ()
      }
      // run lengths account for every event of the user
      assert(byVersion.map(_.getLong(6)).sum == events(user))
    }
  }
}
