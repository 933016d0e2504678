package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.connectors.MessageBus
import graft.streaming.{PipelineConfig, ProcessorMetrics, Webhook, WebhookStub}
import graft.streaming.PipelineConfig.{PipelineConf, SinkConf, SourceConf}

/** The reference's conformance-suite instantiation for the MQTT
  * destination (test/stream_test.go:57-75: random payloads through
  * src → pipe → mqtt dst, all delivered) plus the webhook ("runreveal")
  * destination's batcher error policies (batcher.go:16-21, 358-381) and
  * the processor metrics listener (processor.go:91-120). */
class SinkConformanceSpec extends SparkSpec {

  test("mqtt round trip: source topic → pipeline → publisher topic, exactly-once across restart") {
    MessageBus.reset("rt_src"); MessageBus.reset("rt_dst")
    val rnd = new scala.util.Random(7)
    val first = Seq.fill(25)(rnd.alphanumeric.take(20).mkString)
    first.zipWithIndex.foreach { case (p, i) =>
      MessageBus.publish("rt_src", s"m$i", p.getBytes("UTF-8")) }

    val ck = tmpDir("rt_ck")
    val conf = PipelineConf(
      SourceConf("mqtt", Map("topic" -> "rt_src")),
      SinkConf("mqtt", Map("topic" -> "rt_dst")),
      checkpoint = ck, availableNow = true)
    PipelineConfig.run(spark, conf).awaitTermination(60000)
    assert(MessageBus.payloads("rt_dst").sorted == first.sorted,
      "first run delivers all 25 payloads")

    // restart from the same checkpoint: only the 10 new messages flow
    val second = Seq.fill(10)(rnd.alphanumeric.take(20).mkString)
    second.zipWithIndex.foreach { case (p, i) =>
      MessageBus.publish("rt_src", s"n$i", p.getBytes("UTF-8")) }
    PipelineConfig.run(spark, conf).awaitTermination(60000)

    val got = MessageBus.payloads("rt_dst")
    assert(got.sorted == (first ++ second).sorted,
      s"exactly-once across restart: expected 35, got ${got.size}")
    assert(got.distinct.size == got.size, "no duplicates in the destination topic")
  }

  test("mqtt publisher options: qos/retained/clientID land on the bus (mqtt.go:92-103)") {
    MessageBus.reset("opt_src"); MessageBus.reset("opt_dst")
    (1 to 8).foreach(i =>
      MessageBus.publish("opt_src", s"k$i", s"v$i".getBytes("UTF-8")))
    val conf = PipelineConf(
      SourceConf("mqtt", Map("topic" -> "opt_src")),
      SinkConf("mqtt", Map("topic" -> "opt_dst", "qos" -> "2",
        "retained" -> "true", "clientID" -> "graft-test-7")),
      checkpoint = tmpDir("opt_ck"), availableNow = true)
    PipelineConfig.run(spark, conf).awaitTermination(60000)

    val msgs = MessageBus.range("opt_dst", 0, MessageBus.size("opt_dst"))
    assert(msgs.length == 8, s"all payloads delivered, got ${msgs.length}")
    assert(msgs.forall(_.attrs.get("clientID").contains("graft-test-7")))
    assert(msgs.forall(m => m.attrs.get("qos").contains("2") &&
      m.attrs.get("retained").contains("true")))
    // retained-flag semantics: the broker keeps a last retained message
    val ret = MessageBus.retained("opt_dst")
    assert(ret.isDefined &&
      msgs.exists(m => java.util.Arrays.equals(m.payload, ret.get.payload)),
      "retained slot must hold one of the published messages")
    // and the attributes round-trip through the DSv2 source read
    val conf2 = PipelineConf(
      SourceConf("mqtt", Map("topic" -> "opt_dst")),
      SinkConf("memory", Map("name" -> "opt_attr_out")),
      checkpoint = tmpDir("opt_ck2"), availableNow = true)
    PipelineConfig.run(spark, conf2).awaitTermination(60000)
    val attrRows = spark.sql(
      "SELECT attributes['clientID'] FROM opt_attr_out").collect()
    assert(attrRows.length == 8 && attrRows.forall(_.getString(0) == "graft-test-7"),
      "source read must surface publisher attributes")
  }

  test("mqtt publisher qos<2 re-delivers a replayed epoch (at-least-once)") {
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("key", StringType),
      StructField("value", BinaryType)))
    def row(i: Int) = new GenericRowWithSchema(
      Array[Any](s"k$i", s"p$i".getBytes("UTF-8")), schema)
    def attempt(pub: graft.connectors.MqttLikePublisher): Unit =
      // one executor attempt for (partition 0, epoch 0): Spark only
      // feeds rows when open() returns true
      if (pub.open(0L, 0L)) { pub.process(row(1)); pub.close(null) }

    MessageBus.reset("qos2_t")
    val exactly = new graft.connectors.MqttLikePublisher("qos2_t", qos = 2)
    attempt(exactly); attempt(exactly) // replayed epoch
    assert(MessageBus.size("qos2_t") == 1L, "qos=2 dedups the replay")

    MessageBus.reset("qos1_t")
    val atLeast = new graft.connectors.MqttLikePublisher("qos1_t", qos = 1)
    attempt(atLeast); attempt(atLeast)
    assert(MessageBus.size("qos1_t") == 2L,
      "qos=1 re-publishes on replay (duplicates visible)")
  }

  test("materialized aggregate: partition-overwrite upsert equals batch agg across restart") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext

    val events = Tables.events(s, "/root/testdata/sf0.001")
      .select(col("ts"), col("event_type"), col("value"))
      .as[(java.sql.Timestamp, String, Double)].collect()
    val path = tmpDir("mat_agg")
    val ck = tmpDir("mat_ck")

    def aggOf(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sv"))
      .select(col("window.start").as("h"), col("event_type"),
        col("n"), col("sv"))

    // run 1: first 60% of the log, then stop (simulated crash/redeploy)
    val in1 = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q1 = graft.streaming.Sinks.materializedAgg(
      aggOf(in1.toDF().toDF("ts", "event_type", "value")),
      ck, path, Seq("h", "event_type"))
    val (first, rest) = events.splitAt(events.length * 3 / 5)
    in1.addData(first.toSeq); q1.processAllAvailable(); q1.stop()

    // run 2: fresh query, same checkpoint, remainder of the log
    val in2 = MemoryStream[(java.sql.Timestamp, String, Double)]
    in2.addData(first.toSeq) // replayable source offers history again…
    val q2 = graft.streaming.Sinks.materializedAgg(
      aggOf(in2.toDF().toDF("ts", "event_type", "value")),
      ck, path, Seq("h", "event_type"))
    in2.addData(rest.toSeq); q2.processAllAvailable(); q2.stop()

    val got = s.read.parquet(path)
      .select(col("h").cast("string"), col("event_type"), col("n"), col("sv"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).sorted
    val want = aggOf(Tables.events(s, "/root/testdata/sf0.001"))
      .select(col("h").cast("string"), col("event_type"), col("n"), col("sv"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).sorted
    assert(got.nonEmpty && got.toSeq == want.toSeq,
      s"materialized table != batch agg (${got.length} vs ${want.length} groups)")
  }

  test("webhook DontAck: failed epoch not committed, retried from checkpoint, no loss/dupes") {
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val url = "https://api.example.test/webhook-dontack"
    WebhookStub.reset(url)
    WebhookStub.failNext(url, 1) // remote 503s once, then recovers

    val input = MemoryStream[String]
    input.addData("e1", "e2", "e3")
    val ck = tmpDir("wh_ck")
    def run() = input.toDF().coalesce(1).selectExpr("value")
      .writeStream.option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) =>
        Webhook.flush(url, Webhook.ErrorPolicy.DontAck)(df, id))
      .start()

    val q1 = run()
    val err = intercept[StreamingQueryException] { q1.awaitTermination() }
    assert(Option(err.getCause).exists(_.isInstanceOf[Webhook.RetryableFlushException]),
      s"DontAck surfaces as the retryable marker, got ${err.getCause}")
    assert(WebhookStub.delivered(url).isEmpty, "failed post delivered nothing")

    val q2 = run() // same checkpoint: uncommitted epoch replays
    q2.awaitTermination(60000)
    assert(WebhookStub.delivered(url).sorted == Seq("e1", "e2", "e3"),
      s"retried epoch delivered exactly once, got ${WebhookStub.delivered(url)}")
    assert(WebhookStub.attempts(url) == 2, "one failed + one successful post")
  }

  test("webhook Discard: error swallowed, epoch commits, batch dropped") {
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val url = "https://api.example.test/webhook-discard"
    WebhookStub.reset(url)
    WebhookStub.failNext(url, 1)

    val input = MemoryStream[String]
    input.addData("d1", "d2")
    val q = input.toDF().coalesce(1).selectExpr("value")
      .writeStream.option("checkpointLocation", tmpDir("whd_ck"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) =>
        Webhook.flush(url, Webhook.ErrorPolicy.Discard)(df, id))
      .start()
    q.awaitTermination(60000) // no exception: policy swallows the failure
    assert(WebhookStub.delivered(url).isEmpty && WebhookStub.discarded(url) == 1,
      "batch dropped and recorded as discarded")
  }

  test("webhook Raise: flush error fails the query") {
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val url = "https://api.example.test/webhook-raise"
    WebhookStub.reset(url)
    WebhookStub.failNext(url, 1)

    val input = MemoryStream[String]
    input.addData("r1")
    val q = input.toDF().coalesce(1).selectExpr("value")
      .writeStream.option("checkpointLocation", tmpDir("whr_ck"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) =>
        Webhook.flush(url, Webhook.ErrorPolicy.Raise)(df, id))
      .start()
    intercept[StreamingQueryException] { q.awaitTermination() }
  }

  test("runreveal config kind: daemon-shaped webhook destination end-to-end") {
    val url = "https://api.runreveal.test/ingest"
    WebhookStub.reset(url)
    val dir = tmpDir("rr_in")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.log"),
      "w1\nw2".getBytes("UTF-8"))
    val conf = PipelineConf(
      SourceConf("scanner", Map("path" -> dir)),
      SinkConf("runreveal", Map("webhookURL" -> url)), // README.md:245-251 shape
      checkpoint = tmpDir("rr_ck"), availableNow = true)
    PipelineConfig.run(spark, conf,
      transformSql = Some("SELECT CAST(value AS STRING) AS value FROM src"))
      .awaitTermination(60000)
    assert(WebhookStub.delivered(url).sorted == Seq("w1", "w2"))
  }

  test("processor metrics listener observes per-epoch spans (processor.go:91-120)") {
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val m = ProcessorMetrics.attach(s)
    try {
      val input = MemoryStream[Int]
      input.addData(1 to 50: _*)
      val q = input.toDF().writeStream.format("memory").queryName("metrics_out")
        .option("checkpointLocation", tmpDir("metrics_ck"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      // listener bus is async — poll briefly
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (m.spans.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      val mine = m.spans.filter(_.queryName == "metrics_out")
      assert(mine.nonEmpty, "listener observed progress for the query")
      assert(mine.map(_.srcRecvRows).sum == 50, "src.recv rows accounted")
      assert(mine.forall(_.fullMs >= 0) && mine.exists(_.handlerHandleMs >= 0))
      assert(mine.forall(sp => sp.stateCommitMs >= 0 && sp.stateFileSyncMs >= 0),
        "state commit spans are never negative (0 without state)")
    } finally s.streams.removeListener(m)
  }

  test("processor metrics carry the state commit of a RocksDB stateful query") {
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val m = ProcessorMetrics.attach(s)
    try {
      val input = MemoryStream[Int]
      val q = input.toDF().groupBy($"value" % 7).count()
        .writeStream.format("noop").outputMode("update")
        .queryName("metrics_state").option("checkpointLocation",
          tmpDir("metrics_state_ck")).start()
      (0 until 3).foreach { i =>
        input.addData(i * 50 until (i + 1) * 50: _*)
        q.processAllAvailable()
      }
      q.stop()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      def mine = m.spans.filter(_.queryName == "metrics_state")
      while (mine.size < 3 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(mine.size >= 3, "listener observed every epoch")
      assert(mine.map(_.stateCommitMs).sum > 0,
        "RocksDB state commits report their time")
      assert(mine.forall(_.stateFileSyncMs >= 0))
    } finally {
      s.streams.removeListener(m)
      prev.fold(s.conf.unset(key))(s.conf.set(key, _))
    }
  }

  test("batch DSv2 write: two-phase commit publishes all rows atomically") {
    import graft.connectors.CollectingSink
    val s = spark
    import s.implicits._
    CollectingSink.clear("tpc_ok")
    (1L to 1000L).toDF("v").repartition(4)
      .write.format("graft.connectors.CollectingSink")
      .option("table", "tpc_ok").mode("append").save()
    val got = CollectingSink.rows("tpc_ok").map(_.head.asInstanceOf[Long])
    assert(got.size == 1000, s"committed ${got.size} rows")
    assert(got.toSet == (1L to 1000L).toSet, "all rows published intact")
  }

  test("batch DSv2 write: a failing task publishes NOTHING") {
    import graft.connectors.CollectingSink
    val s = spark
    import s.implicits._
    CollectingSink.clear("tpc_fail")
    val df = (1L to 100L).toDF("v").repartition(4)
      .map { r => if (r.getLong(0) == 77L) sys.error("poison row"); r.getLong(0) }
      .toDF("v")
    intercept[Exception] {
      df.write.format("graft.connectors.CollectingSink")
        .option("table", "tpc_fail").mode("append").save()
    }
    // atomic visibility: tasks that succeeded before the failure had
    // staged rows, but the job-level abort discards every staging —
    // a reader never sees a partial write
    assert(CollectingSink.rows("tpc_fail").isEmpty,
      "aborted write leaked rows to readers")
  }

  test("batch DSv2 write: a speculative duplicate attempt cannot double-write") {
    import graft.connectors.{CollectingCommitMessage, CollectingSink}
    import scala.collection.mutable.ArrayBuffer
    CollectingSink.clear("tpc_spec")
    // two attempts of the same task race: both stage, the driver
    // receives ONE commit message (Spark commits exactly one winner)
    CollectingSink.stage("tpc_spec", task = 7L, attempt = 0,
      ArrayBuffer(Seq(1L), Seq(2L)))
    CollectingSink.stage("tpc_spec", task = 7L, attempt = 1,
      ArrayBuffer(Seq(1L), Seq(2L)))
    CollectingSink.publish("tpc_spec",
      Seq(CollectingCommitMessage(taskId = 7L, attempt = 1, nRows = 2L)))
    val got = CollectingSink.rows("tpc_spec")
    assert(got.size == 2, s"loser attempt leaked: ${got.size} rows")
    // the loser's staging is gone — a replayed commit that references
    // the dropped buffer must FAIL LOUDLY (silent partial publish would
    // break atomic visibility), and the committed table stays intact
    val ex = intercept[IllegalStateException] {
      CollectingSink.publish("tpc_spec",
        Seq(CollectingCommitMessage(taskId = 7L, attempt = 0, nRows = 2L)))
    }
    assert(ex.getMessage.contains("missing staged buffer"))
    assert(CollectingSink.rows("tpc_spec").size == 2,
      "failed publish must not clobber the committed table")
  }

  test("streaming DSv2 write: per-epoch 2PC, exactly-once across mid-stream kill + replayed epoch") {
    // The ack-after-durable-write contract (types.go:104-113,
    // batcher.go:377-381) through the DSv2 StreamingWrite path — NOT
    // foreachBatch. Kill the query after the sink committed an epoch
    // but BEFORE the engine recorded it in the commit log (simulated
    // by deleting the last commits/ entry): on restart the engine
    // re-runs that epoch, the sink sees commit(epoch) a second time,
    // and the ledger absorbs it idempotently — every input row
    // published exactly once.
    import graft.connectors.CollectingSink
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    CollectingSink.clear("sw_eo")
    val ck = tmpDir("sw_eo_ck")

    val in1 = MemoryStream[Long]
    val q1 = in1.toDF().toDF("v").writeStream
      .format("graft.connectors.CollectingSink")
      .option("table", "sw_eo").option("checkpointLocation", ck)
      .outputMode("append").start()
    in1.addData(1L to 400L); q1.processAllAvailable()
    in1.addData(401L to 700L); q1.processAllAvailable()
    q1.stop()
    val committed1 = CollectingSink.epochs("sw_eo").map(_._1)
    assert(committed1.size >= 2, s"expected ≥2 epochs, got $committed1")

    // crash window: the engine's record of the LAST epoch is lost,
    // the sink's commit of it already happened
    val commits = new java.io.File(s"$ck/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.last.delete(), "failed to drop last commit record")
    // drop the local-FS checksum sibling too — a stale .N.crc would
    // fail the re-written record's rename, which a real crash (where
    // neither file was ever written) can't produce
    new java.io.File(commits.last.getParent,
      s".${commits.last.getName}.crc").delete()

    // restart: a replayable source offers the history again (the
    // MemoryStream analog of a durable log), plus new data
    val in2 = MemoryStream[Long]
    in2.addData(1L to 400L); in2.addData(401L to 700L)
    val q2 = in2.toDF().toDF("v").writeStream
      .format("graft.connectors.CollectingSink")
      .option("table", "sw_eo").option("checkpointLocation", ck)
      .outputMode("append").start()
    in2.addData(701L to 1000L); q2.processAllAvailable()
    q2.stop()

    val got = CollectingSink.streamRows("sw_eo")
      .map(_.head.asInstanceOf[Long])
    assert(got.size == 1000,
      s"exactly-once violated: ${got.size} rows (dupes or loss)")
    assert(got.toSet == (1L to 1000L).toSet, "published set diverged")
    // the replayed epoch id appears ONCE in the ledger
    val eids = CollectingSink.epochs("sw_eo").map(_._1)
    assert(eids.distinct == eids, s"ledger holds a duplicate epoch: $eids")
  }

  test("streaming DSv2 write: a poisoned epoch publishes NOTHING") {
    // per-epoch atomic visibility: epoch 0 commits, epoch 1's writers
    // all fail — the query dies and the ledger holds epoch 0 intact
    // with no trace of epoch 1
    import graft.connectors.CollectingSink
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    CollectingSink.clear("sw_poison")
    val ck = tmpDir("sw_poison_ck")
    val in = MemoryStream[Long]
    val q = in.toDF().toDF("v").writeStream
      .format("graft.connectors.CollectingSink")
      .option("table", "sw_poison").option("poisonEpoch", "1")
      .option("checkpointLocation", ck)
      .outputMode("append").start()
    in.addData(1L to 100L); q.processAllAvailable()
    assert(CollectingSink.streamRows("sw_poison").size == 100)
    in.addData(101L to 200L)
    intercept[StreamingQueryException] { q.processAllAvailable() }
    val eids = CollectingSink.epochs("sw_poison").map(_._1)
    assert(eids == Seq(0L),
      s"poisoned epoch leaked into the ledger: $eids")
    assert(CollectingSink.streamRows("sw_poison").size == 100,
      "poisoned epoch leaked rows")
  }

  test("streaming DSv2 write: replayed epoch absorbed idempotently (ledger unit)") {
    import graft.connectors.{CollectingSink, EpochCommitMessage}
    import scala.collection.mutable.ArrayBuffer
    CollectingSink.clear("sw_unit")
    CollectingSink.stageEpoch("sw_unit", epoch = 5L, partition = 0,
      task = 1L, attempt = 0, ArrayBuffer(Seq(10L), Seq(11L)))
    assert(CollectingSink.publishEpoch("sw_unit", 5L,
      Seq(EpochCommitMessage(5L, 0, 1L, 0, 2L))), "first commit wins")
    // the replay: same epoch re-staged by re-executed tasks, commit
    // called again — absorbed, staging dropped, ledger unchanged
    CollectingSink.stageEpoch("sw_unit", epoch = 5L, partition = 0,
      task = 9L, attempt = 0, ArrayBuffer(Seq(10L), Seq(11L)))
    assert(!CollectingSink.publishEpoch("sw_unit", 5L,
      Seq(EpochCommitMessage(5L, 0, 9L, 0, 2L))), "replay must absorb")
    assert(CollectingSink.streamRows("sw_unit") ==
      Seq(Seq(10L), Seq(11L)))
  }
}
