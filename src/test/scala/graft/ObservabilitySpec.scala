package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.streaming.QualityMetrics

/** Gates for the observe()-based data-quality channel: the metrics must
  * ride the job's own pass (no second scan) and report EXACT counts for
  * planted violations, in both batch (QueryExecution.observedMetrics)
  * and streaming (StreamingQueryProgress.observedMetrics) harvests. */
class ObservabilitySpec extends SparkSpec {

  private def ts(min: Int): Timestamp =
    new Timestamp(1700000000000L + min * 60000L)

  test("batch observe: planted violations counted exactly, zero extra scan") {
    val s = spark
    import s.implicits._
    val harvest = new QualityMetrics.BatchHarvest
    s.listenerManager.register(harvest)
    try {
      val df = Seq(
        (1L, ts(0), 10.0),
        (2L, ts(1), -3.0),   // negative value
        (-7L, ts(2), 1.0),   // bad user
        (3L, ts(3), -0.5),   // negative value
        (4L, ts(4), 2.0))
        .toDF("user_id", "ts", "value")
        .withColumn("ts", when(col("user_id") === 4L,
          lit(null).cast("timestamp")).otherwise(col("ts"))) // null ts
      val out = QualityMetrics.observed(df, "q_batch")
        .groupBy().agg(count(lit(1)).as("n")).collect()
      assert(out.head.getLong(0) == 5L)
      // listener delivery is async — poll briefly
      var m = harvest.metrics("q_batch")
      val deadline = System.nanoTime() + 10e9.toLong
      while (m.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(50); m = harvest.metrics("q_batch")
      }
      assert(m.isDefined, "observed metrics not harvested")
      val r = m.get
      assert(r.getAs[Long]("n_rows") == 5L)
      assert(r.getAs[Long]("n_null_ts") == 1L)
      assert(r.getAs[Long]("n_neg_value") == 2L)
      assert(r.getAs[Long]("n_bad_user") == 1L)
    } finally s.listenerManager.unregister(harvest)
  }

  test("streaming observe: per-epoch quality metrics ride the progress") {
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger

    val input = MemoryStream[(Long, Timestamp, Double)]
    val q = QualityMetrics.observed(
        input.toDS().toDF("user_id", "ts", "value"), "q_stream")
      .writeStream.format("memory").queryName("obs_out")
      .trigger(Trigger.ProcessingTime(50)).start()
    try {
      input.addData((1L, ts(0), 1.0), (2L, ts(1), -2.0), (-3L, ts(2), 5.0))
      q.processAllAvailable()
      val obs = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("q_stream")))
      assert(obs.nonEmpty, "no observed metrics in stream progress")
      val total = obs.map(_.getAs[Long]("n_rows")).sum
      val neg = obs.map(_.getAs[Long]("n_neg_value")).sum
      val bad = obs.map(_.getAs[Long]("n_bad_user")).sum
      assert(total == 3L && neg == 1L && bad == 1L,
        s"rows=$total neg=$neg bad=$bad")
    } finally q.stop()
  }

  test("watermark drop accounting: dropped-row metric equals planted late rows") {
    // the third leg of the observability story: rows the watermark
    // discards are ACCOUNTED, not silently lost. Two real contracts
    // pinned here, both empirically sharper than the folk rule "late
    // event time => dropped":
    //  (1) the drop rule is windowEnd <= watermark, so a late row
    //      whose window is still open is SALVAGED into the aggregate;
    //  (2) numRowsDroppedByWatermark counts POST-partial-aggregation
    //      state rows — one per closed window touched in the epoch,
    //      not one per input row — so an SLA reconciliation must
    //      compare it against closed-window touches, and recover the
    //      input-row loss from its own observe() counters (test 1/2),
    //      not from this metric.
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger

    val input = MemoryStream[(Long, Timestamp)]
    val q = input.toDS().toDF("user_id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("obs_drop")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(50)).start()
    try {
      // hour windows align to epoch: w1 covers minutes -13..47,
      // w2 47..107, w3 107..167. Epoch 1's on-time rows put the
      // watermark at minute 110, closing w1 and w2, leaving w3 open.
      input.addData((1L, ts(0)), (2L, ts(60)), (3L, ts(120)))
      q.processAllAvailable()
      // epoch 2 plants FOUR late-event-time rows: ts(5), ts(30) in
      // closed w1; ts(100) in closed w2; ts(108) in OPEN w3 (late by
      // event time, salvaged by window end); plus on-time ts(125).
      input.addData((4L, ts(5)), (5L, ts(30)), (6L, ts(100)),
        (7L, ts(108)), (8L, ts(125)))
      q.processAllAvailable()
      val dropped = q.recentProgress.toSeq
        .flatMap(_.stateOperators.toSeq)
        .map(_.numRowsDroppedByWatermark).sum
      // 3 input rows died, but the metric reports 2: the closed
      // windows touched (w1: two rows pre-combined into one partial,
      // w2: one row) — contract (2) above
      assert(dropped == 2L,
        s"expected 2 closed-window touches dropped, got $dropped")
      // close w3 and reconcile per-window counts: the salvaged ts(108)
      // must sit in w3 beside ts(120)/ts(125) — contract (1)
      input.addData((9L, ts(300)))
      q.processAllAvailable()
      val hourS = 3600L
      def wstart(min: Int): Long = {
        val sec = ts(min).getTime / 1000L; sec - sec % hourS
      }
      val counts = s.table("obs_drop")
        .select(col("window.start").cast("long").as("w"), col("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(counts(wstart(0)) == 1L && counts(wstart(60)) == 1L
          && counts(wstart(120)) == 3L,
        s"per-window reconciliation failed: $counts")
    } finally q.stop()
  }

  // ---- Layers: the per-query layer record Bench and BenchOne write ----

  private def shuffleQuery(): Unit = Bench.noop(spark.range(0, 200000, 1, 4)
    .selectExpr("id % 97 as k").groupBy("k").count())

  test("layers: a shuffle query's record shows its jobs, shuffle and CPU") {
    val (wall, r) = Layers.measure(spark)(shuffleQuery())
    assert(r.jobs >= 1 && r.stages >= 1 && r.tasks >= 4, r)
    assert(r.failedTasks == 0, r)
    assert(r.shuffleWriteBytes > 0 && r.shuffleReadBytes > 0, r)
    assert(r.taskCpuS > 0 && r.taskRunS > 0, r)
    // the union of task spans lies inside the query's window
    assert(r.coverageShare > 0 && r.coverageShare <= 1.0, r)
    assert(r.schedGapS >= 0 && r.schedGapS <= wall + 0.002, s"$wall $r")
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(r.json)
    assert(json.get("dispatch.jobs").asLong == r.jobs)
    assert(json.get("shuffle.write_bytes").asLong == r.shuffleWriteBytes)
    assert(json.size == 14, r.json)
  }

  test("layers: a second measure does not carry the first query's counts") {
    Layers.measure(spark)(shuffleQuery())
    val (_, r) = Layers.measure(spark)(
      spark.sparkContext.parallelize(1 to 10, 1).count(): Unit)
    assert(r.jobs == 1 && r.stages == 1 && r.tasks == 1, r)
    assert(r.shuffleWriteBytes == 0 && r.shuffleReadBytes == 0, r)
  }

  test("layers: the record is complete when measure returns") {
    val (_, r) = Layers.measure(spark)(shuffleQuery())
    Thread.sleep(1000)
    assert(Layers.of(spark.sparkContext).record == r)
  }
}
