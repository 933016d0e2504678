package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine operator exposed through the driver contract: a Spark
  * implementation plus (when SQL-expressible) a DuckDB oracle twin.
  * Column names/aliases MUST match between `fn`'s output and `oracle`'s
  * projection — the driver sorts columns by name before hashing.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    interior: Option[QueryDef.Interior] = None) {
  def run(s: SparkSession, dir: String): DataFrame = fn(s, dir)
}

object QueryDef {
  /** A query up to its bounded answer, plus the thunk freeing its state. */
  type Interior = (SparkSession, String) => (DataFrame, () => Unit)

  /** A query whose answer `operators.Rounds.checkpointed` holds from
    * `interior` before freeing its state. That answer's own plan is a
    * `Scan ExistingRDD`, so Explain and PlanSpec read the interior. */
  def checkpointed(name: String, interior: Interior,
      oracle: Option[String]): QueryDef = QueryDef(name,
    operators.Rounds.checkpointed(interior), oracle, Some(interior))
}
