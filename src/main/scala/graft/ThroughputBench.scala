package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.connectors.MessageBus
import graft.core.{Msg, Pipeline}

/** Analog of the reference's only benchmark harness (BenchmarkMem,
  * test/stream_test.go:29-41 / suite_test.go:106-155): push 1,000,000
  * 20-byte messages through source → envelope → identity handler → sink
  * and report end-to-end msgs/sec. Prints one JSON line.
  *
  * The headline source is the in-JVM `MessageBus` read through the
  * MqttLike DSv2 connector — the closest analog of the reference's
  * in-memory channel, and crucially a source whose partitions pull their
  * offset range from the bus in-process. (`MemoryStream` is NOT used for
  * the headline numbers: it ships every row to executors inside the task
  * binary via Java object serialization, so it measures
  * `ObjectInputStream`, not the engine — it caps at ~10-60k msgs/s
  * regardless of what the query does. Reported as `memstream_*` for
  * reference.)
  *
  * Two execution paths over the same source:
  *  - `columnar`: the envelope as columns (key/topic/value/attributes) —
  *    stays inside Tungsten/whole-stage codegen, no JVM object serde.
  *    This is the engine's default path for byte pipelines.
  *  - `typed`: Dataset[Msg] with a flatMap Handler — pays object
  *    (de)serialization at the typed-operator boundary, including the
  *    Map[String,String] attributes conversion. Use only when handler
  *    logic genuinely needs JVM objects.
  *
  * The gap between the two is the reason SURVEY.md §7 says "functions,
  * not UDFs": at 100 TB the columnar envelope is the difference between
  * scan-bound and serde-bound.
  *
  * Usage: runMain graft.ThroughputBench [numMessages]
  */
object ThroughputBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext

    // 20-byte payloads, seeded (matches randomBytes(20), suite_test.go:18-25)
    val rnd = new scala.util.Random(42)
    val payload = Array.fill(20)(rnd.nextInt(256).toByte)

    def stream(label: String, df: org.apache.spark.sql.DataFrame): (Long, Double) = {
      val t0 = System.nanoTime()
      val q = df.writeStream.format("noop")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"tp_$label").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(600000)
      val secs = (System.nanoTime() - t0) / 1e9
      (q.recentProgress.map(_.numInputRows).sum, secs)
    }

    // ---- headline: the in-JVM bus through the DSv2 connector ----
    val topic = "bench"
    def busDF = spark.readStream.format("graft.connectors.MqttLikeSource")
      .option("topic", topic).option("partitions", cpus).load()
    def columnar = busDF
      .select(col("key"), col("topic"), col("value"), col("attributes"))
    def typed = busDF.as[Msg[Array[Byte]]]
      .flatMap(Pipeline.pipe[Array[Byte]]).toDF()

    // warmup pass (streaming machinery + codegen) so both measured runs
    // see steady state rather than whoever-goes-first paying session init
    MessageBus.reset(topic)
    (0 until 50000).foreach(i => MessageBus.publish(topic, (i % 1024).toString, payload))
    stream("warm_columnar", columnar); stream("warm_typed", typed)

    MessageBus.reset(topic)
    (0 until n).foreach(i => MessageBus.publish(topic, (i % 1024).toString, payload))
    val (bcMsgs, bcSecs) = stream("bus_columnar", columnar)
    val (btMsgs, btSecs) = stream("bus_typed", typed)

    // ---- reference points: MemoryStream (serde-capped by the source) ----
    def memRun(label: String, build: MemoryStream[Long] => org.apache.spark.sql.DataFrame): (Long, Double) = {
      val input = MemoryStream[Long](cpus.toInt)
      input.addData(0L until n.toLong: _*)
      stream(label, build(input))
    }
    val (mcMsgs, mcSecs) = memRun("mem_columnar", in => in.toDF()
      .select((col("value") % 1024).cast("string").as("key"),
        lit("bench").as("topic"), lit(payload).as("value"),
        map().cast("map<string,string>").as("attributes")))
    val (mtMsgs, mtSecs) = memRun("mem_typed", in => in.toDS()
      .map(i => Msg(key = (i % 1024).toString, topic = "bench",
        value = payload, attributes = Map.empty[String, String]))
      .flatMap(Pipeline.pipe[Array[Byte]]).toDF())

    MessageBus.reset(topic)
    println(f"""{"metric":"mem_throughput","msgs":$n,"columnar_msgs_per_sec":${bcMsgs / bcSecs}%.0f,"typed_msgs_per_sec":${btMsgs / btSecs}%.0f,"columnar_sec":$bcSecs%.2f,"typed_sec":$btSecs%.2f,"memstream_columnar_msgs_per_sec":${mcMsgs / mcSecs}%.0f,"memstream_typed_msgs_per_sec":${mtMsgs / mtSecs}%.0f}""")
    spark.stop()
  }
}
