package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.streaming.Stateful

/** Pins the state schemas the reorder-buffer combinator writes to a
  * checkpoint. A resumed query checks its state schema against the one
  * stored in the checkpoint, so any change to how `orderedPerKeyBy`
  * derives its key and state encoders strands existing checkpoints even
  * when every emitted row stays the same. One twin per key shape:
  * scd2StreamOoo (`Long`, the benchmark's reorder-buffer twin),
  * cusumStream (`String`) and beaconStream (`(Long, String)`). */
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

  /** Run `op` over the sf0.001 event log with a checkpoint and read its
    * one operator's state (key, value) schemas back through Spark's
    * `statestore` data source. */
  private def stateSchemas(op: DataFrame => Dataset[_]): (String, String) = {
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
    val st = s.read.format("statestore").load(ck).schema
    (render(st("key").dataType), render(st("value").dataType))
  }

  /** The reorder buffer every twin carries beside its machine state. */
  private val buffer =
    "[{_1:bigint!,_2:timestamp,_3:bigint!,_4:string,_5:double!}]"

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
  }
}
