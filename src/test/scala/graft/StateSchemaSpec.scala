package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.streaming.Stateful

/** Pins the state schemas the reorder-buffer combinator writes to a
  * checkpoint. A resumed query checks its state schema against the one
  * stored in the checkpoint, so any change to how `orderedPerKeyBy`
  * derives its key and state encoders strands existing checkpoints even
  * when every emitted row stays the same. One twin per key shape:
  * scd2StreamOoo (`Long`, the benchmark's reorder-buffer twin),
  * cusumStream (`String`) and beaconStream (`(Long, String)`); and one
  * per state shape of the series-bucket family: twapStream (plain),
  * anomalyStream (a `Seq` history) and peakStream (a `Map`). `closeOnce`
  * is pinned by hllDistinctStream (a `(String, Long)` key over binary
  * sketch state) and dailyRevenueStream (the benchmark's grid twin).
  * The transformWithState twins keep one schema per state variable; the
  * daily-means MapState and the sessionize ListState and ValueState pin
  * the encoders those twins derive. */
class StateSchemaSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Compact, nullability-exact rendering: `!` marks a non-null field or
    * array element. */
  private def render(t: DataType): String = t match {
    case s: StructType => s.fields.map(f => s"${f.name}:${render(f.dataType)}" +
      (if (f.nullable) "" else "!")).mkString("{", ",", "}")
    case a: ArrayType =>
      s"[${render(a.elementType)}${if (a.containsNull) "" else "!"}]"
    case m: MapType => s"map<${render(m.keyType)},${render(m.valueType)}" +
      s"${if (m.valueContainsNull) "" else "!"}>"
    case other => other.simpleString
  }

  /** Run `op` over the sf0.001 event log with a checkpoint; returns the
    * checkpoint's path. */
  private def checkpointOf(op: DataFrame => Dataset[_]): String = {
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger

    val events = Tables.events(s, sf)
      .select("user_id", "ts", "event_id", "event_type", "value")
      .as[Stateful.Ev].collect()
    val ck = tmpDir("state_schema_ck")
    val input = MemoryStream[Stateful.Ev]
    val q = op(input.toDS().toDF("user_id", "ts", "event_id", "event_type",
        "value"))
      .writeStream.format("noop")
      .option("checkpointLocation", ck)
      .trigger(Trigger.ProcessingTime(50)).start()
    input.addData(events.toSeq)
    q.processAllAvailable()
    q.stop()
    ck
  }

  /** `op`'s one operator's state (key, value) schemas, read back through
    * Spark's `statestore` data source. */
  private def stateSchemas(op: DataFrame => Dataset[_]): (String, String) = {
    val st = spark.read.format("statestore").load(checkpointOf(op)).schema
    (render(st("key").dataType), render(st("value").dataType))
  }

  /** A transformWithState twin's state schema per state variable, as the
    * `statestore` data source reads each back (RocksDB, the provider
    * transformWithState requires). */
  private def twsSchemas(op: DataFrame => Dataset[_], vars: String*)
      : Seq[String] = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try {
      val ck = checkpointOf(op)
      vars.map { v =>
        val st = spark.read.format("statestore").option("stateVarName", v)
          .load(ck).schema
        render(StructType(st.filterNot(_.name == "partition_id")))
      }
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** One `Stateful.Ev` row, and the reorder buffer of them every
    * orderedPerKeyBy twin carries beside its machine state. */
  private val ev = "{_1:bigint!,_2:timestamp,_3:bigint!,_4:string,_5:double!}"
  private val buffer = s"[$ev]"

  test("orderedPerKeyBy state schemas: Long, String and (Long, String) keys") {
    assert(stateSchemas(df => Stateful.scd2StreamOoo(df)) == (
      "{value:bigint!}",
      "{groupState:{_1:{eventType:string,validFrom:timestamp,version:int!," +
        s"nEvents:bigint!},_2:$buffer},timeoutTimestamp:bigint!}"))
    assert(stateSchemas(df => Stateful.cusumStream(df, Map.empty)) == (
      "{value:string}",
      "{groupState:{_1:{curDay:bigint!,sumMilli:bigint!,n:bigint!," +
        s"cusums:bigint!},_2:$buffer},timeoutTimestamp:bigint!}"))
    assert(stateSchemas(df => Stateful.beaconStream(df, 0L)) == (
      "{_1:bigint!,_2:string}",
      "{groupState:{_1:{lastUs:bigint!,n:bigint!,sg:bigint!,sg2:bigint!," +
        s"done:boolean!},_2:$buffer},timeoutTimestamp:bigint!}"))
    assert(stateSchemas(df => Stateful.twapStream(df)) == (
      "{value:string}",
      "{groupState:{_1:{curDay:bigint!,n:bigint!,swv:bigint!,scents:bigint!," +
        "durMs:bigint!,lastUs:bigint!,lastCents:bigint!}," +
        s"_2:$buffer},timeoutTimestamp:bigint!}"))
    assert(stateSchemas(df => Stateful.anomalyStream(df)) == (
      "{value:string}",
      "{groupState:{_1:{curBucket:bigint!,s:double!,n:bigint!," +
        "hist:[{_1:bigint!,_2:double!}]}," +
        s"_2:$buffer},timeoutTimestamp:bigint!}"))
    assert(stateSchemas(df => Stateful.peakStream(df)) == (
      "{value:string}",
      "{groupState:{_1:{curDay:bigint!,nSessions:bigint!," +
        "deltas:map<bigint,bigint!>}," +
        s"_2:$buffer},timeoutTimestamp:bigint!}"))
  }

  test("closeOnce state schemas: (String, Long) key with binary state, grid") {
    assert(stateSchemas(df => Stateful.hllDistinctStream(df)) == (
      "{_1:string,_2:bigint!}",
      "{groupState:{value:binary},timeoutTimestamp:bigint!}"))
    assert(stateSchemas(df => Stateful.dailyRevenueStream(df.select(
        col("event_type"), col("ts"),
        expr("cast(round(value * 100) as bigint)").as("cents")), 100000L)) == (
      "{_1:string,_2:bigint!}",
      "{groupState:{value:bigint!},timeoutTimestamp:bigint!}"))
  }

  test("transformWithState state schemas: dailyMeansTws and sessionizeTws") {
    assert(twsSchemas(df => Stateful.dailyMeansTws(df), "cells") ==
      Seq("{key:{value:string},user_map_key:{value:bigint!}," +
        "user_map_value:{_1:bigint!,_2:bigint!}}"))
    assert(twsSchemas(df => Stateful.sessionizeTws(df), "buf", "open") ==
      Seq(s"{key:{value:bigint!},list_element:$ev}",
        "{key:{value:bigint!},value:{seq:bigint!,lastUs:bigint!," +
          "nEvents:bigint!,firstEvent:bigint!,active:boolean!}}"))
  }
}
