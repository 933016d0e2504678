package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

import graft.{Bench, Sessions, SparkEntry}

/** Arguments run.py passes as key=value pairs. */
final case class Args(kv: Map[String, String]) {
  def workload: String = kv("workload")
  def sf: String = kv("sf")
  def scratch: String = kv("scratch")
  def seconds: Double = kv("seconds").toDouble
  def trace: Boolean = kv("trace") == "1"
  def seed: Long = kv("seed").toLong
  def cpus: String = kv("cpus")
  def prepare: Boolean = kv("prepare") == "1"
  def setupReps: Int = kv("setup_reps").toInt
  def minPasses: Int = kv("min_passes").toInt
  def queries: Seq[String] =
    kv.get("queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
  def rate: Double = kv("rate").toDouble
  def days: Int = kv("days").toInt
  def warmRows: Int = kv("warm_rows").toInt
  def maxRowsPerTrigger: Long = kv("max_rows_per_trigger").toLong
}

/** One benchmark run inside one JVM: set up, run the workload, write the
  * raw measurements as JSON for run.py to check and summarize. */
object Main {
  /** Writes the raw records run.py reads (Scala maps, sequences, tuples
    * and case classes). */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .build()

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.map { s =>
      val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap)
    val (spark, setup) = setUp(a)
    val tracer = if (a.trace) Some(new Tracer) else None
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "setup" -> setup)
    if (a.workload == "stream_stateful") tracer match {
      case Some(t) =>
        // a first go warms the JIT for the streaming paths (its drain ran
        // about 40 % slower than the next); then untraced, traced,
        // untraced: the drift left over the three cancels, so the tracing
        // overhead is measured in one process. Only the closed loops are
        // compared, so the untraced goes stop after theirs.
        Stream.run(spark, a, None, "first", full = false)
        val before = Stream.run(spark, a, None, "before", full = false)
        t.attach(spark)
        result("stream") = Stream.run(spark, a, tracer, "traced")
        t.detach(spark)
        val after = Stream.run(spark, a, None, "after", full = false)
        result("untraced_drain_s") = Seq(before("drain_s"), after("drain_s"))
      case None => result("stream") = Stream.run(spark, a, None, "run")
    } else {
      val runs = Batch.run(spark, a, tracer)
      result("dump") = runs.dump
      result("runs") = runs.timed.map(_.toMap)
      result("phase_s") = runs.phaseS
      tracer.foreach(_.spanQueries(runs.timed.filter(_.traced)))
    }
    tracer.foreach { t =>
      t.detach(spark)
      result("trace") = Map("queries" -> t.queries,
        "plan_phases" -> t.planPhases, "executions" -> t.executions,
        "cached_bytes_peak" -> t.cachedPeak, "epochs" -> t.epochs.toSeq)
      val spans = Paths.get(a.kv("trace_dir"), "spans.jsonl")
      Files.createDirectories(spans.getParent)
      Files.writeString(spans,
        t.allSpans.map(json.writeValueAsString).mkString("", "\n", "\n"))
    }
    result("peak_rss_mb") = peakRssMb()
    result("uptime_s") =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    Files.writeString(Paths.get(a.kv("out")), json.writeValueAsString(result))
    spark.stop()
  }

  /** Process start to ready: create the session, then warm it the way
    * graft.Bench does and, where the workload uses them, fit the ingest
    * artifacts cold. The warm-up and the fits are repeated `setup_reps`
    * times, each in a fresh session (its own fit memo) writing to a fresh
    * artifact root, so every fit is cold; the last go uses the session the
    * workload runs on. run.py reports the session time plus the median go. */
  def setUp(a: Args): (SparkSession, Map[String, Any]) = {
    val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val spark = Sessions.builder(s"local[${a.cpus}]", a.cpus)
      .config("spark.sql.streaming.numRecentProgressUpdates",
        Bench.ProgressCap.toString)
      .config("spark.sql.warehouse.dir", s"${a.scratch}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.currentTimeMillis()
    val goes = (1 to a.setupReps).map { i =>
      System.setProperty("graft.artifacts.root", s"${a.scratch}/artifacts/$i")
      val s = if (i < a.setupReps) spark.newSession() else spark
      val w0 = System.nanoTime()
      s.range(1000000).selectExpr("sum(id)").collect()
      s.read.parquet(s"${a.sf}/lineitem.parquet").limit(1).count()
      val w1 = System.nanoTime()
      if (a.prepare) SparkEntry.prepare(s, a.sf)
      val w2 = System.nanoTime()
      Map("warm_s" -> (w1 - w0) / 1e9, "prepare_s" -> (w2 - w1) / 1e9)
    }
    System.gc()
    (spark, Map("session_s" -> (t1 - t0) / 1e3, "goes" -> goes))
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** One timed execution of one query. The *Ms fields are epoch ms, the
  * clock listener events carry; the seconds come from nanoTime. */
final case class QueryRun(query: String, id: String, traced: Boolean,
    wallS: Double, buildS: Double, startMs: Long, buildEndMs: Long,
    endMs: Long, error: String) {
  def toMap: Map[String, Any] = Map("query" -> query, "id" -> id,
    "traced" -> traced, "wall_s" -> wallS, "build_s" -> buildS,
    "start_ms" -> startMs, "end_ms" -> endMs, "error" -> error)
}

/** The batch workload: one closed-loop client runs the query list back
  * to back. An untimed pass first dumps every result for the oracle
  * check. Timed passes follow until `seconds` is spent and at least
  * `min_passes` have run; run.py takes each query's best time over them,
  * so neither the first timed pass, still warming the JIT, nor a pass
  * slowed by the host sets the result. Every timed query is materialised
  * through the noop sink. */
object Batch {
  final case class Result(dump: Map[String, String], timed: Seq[QueryRun],
      phaseS: Map[String, Double])

  def run(spark: SparkSession, a: Args, tracer: Option[Tracer]): Result = {
    val dump = s"${a.scratch}/dump"
    val t0 = System.nanoTime()
    val dumped = a.queries.map(q => q -> dumpOne(spark, a.sf, dump, q)).toMap
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"),
      Main.json.writeValueAsString(SparkEntry.oracleSql))
    val t1 = System.nanoTime()
    val untraced = timedPasses(spark, a, None, 1, a.seconds, a.minPasses)
    val t2 = System.nanoTime()
    // the traced run adds four single passes, traced, untraced, untraced,
    // traced: the JIT's drift over them cancels, so the difference is the
    // tracing overhead, measured in one process
    val traced = tracer.toSeq.flatMap { t =>
      val first = 1 + untraced.size / a.queries.size
      Seq(true, false, false, true).zipWithIndex.flatMap { case (on, i) =>
        if (on) t.attach(spark)
        val runs =
          timedPasses(spark, a, Some(t).filter(_ => on), first + i, 0.0, 1)
        if (on) t.detach(spark)
        runs
      }
    }
    Result(dumped, untraced ++ traced,
      Map("untimed" -> (t1 - t0) / 1e9, "timed" -> (t2 - t1) / 1e9))
  }

  /** Write one query's result the way graft.Verify does; returns the
    * error, or null. */
  private def dumpOne(spark: SparkSession, sf: String, dump: String,
      q: String): String =
    try {
      SparkEntry.queries(q)(spark, sf).coalesce(1).write.mode("overwrite")
        .parquet(s"$dump/$q")
      null
    } catch { case e: Throwable =>
      // the marker makes check_oracle.py report the query as failed
      val dir = Paths.get(s"$dump/$q")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("_error"), String.valueOf(e))
      String.valueOf(e)
    }

  /** Passes over the query list until `seconds` is spent and at least
    * `minPasses` have run. */
  private def timedPasses(spark: SparkSession, a: Args, t: Option[Tracer],
      firstPass: Int, seconds: Double, minPasses: Int): Seq[QueryRun] = {
    val sc = spark.sparkContext
    val runs = mutable.ArrayBuffer.empty[QueryRun]
    // start from a collected heap; the fixed young generation keeps the
    // collections inside the passes small
    System.gc()
    val start = System.nanoTime()
    var pass = firstPass
    while (pass - firstPass < minPasses ||
        (System.nanoTime() - start) / 1e9 < seconds) {
      a.queries.foreach { q =>
        val id = s"$q#$pass"
        sc.setLocalProperty(Tracer.QueryKey, id)
        val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
        var built = t0
        val err = try {
          val df = SparkEntry.queries(q)(spark, a.sf)
          built = System.nanoTime()
          // the DataFrame's analysis ran eagerly while it was built; the
          // plan listener sees only the write's own query execution
          t.foreach(_.recordPhases(df.queryExecution))
          df.write.format("noop").mode("overwrite").save()
          null
        } catch { case e: Throwable => String.valueOf(e) }
        val t1 = System.nanoTime(); val w1 = System.currentTimeMillis()
        sc.setLocalProperty(Tracer.QueryKey, null)
        runs += QueryRun(q, id, t.isDefined, (t1 - t0) / 1e9,
          (built - t0) / 1e9, w0, w0 + (built - t0) / 1000000L, w1, err)
      }
      pass += 1
    }
    t.foreach(_.drain(spark))
    runs.toSeq
  }
}
