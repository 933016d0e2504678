package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.Bridge

/** Lineage cuts, fixpoint rounds and state freeing for every operator that
  * keeps Spark state across driver actions. Verify and Bench run every
  * query in one long session, where state a query leaves cached taxes
  * every later one: `checkpointed` frees it in a `finally`. */
private[graft] object Rounds {

  /** A cut frame and the rows its probe action returned. */
  type Round = (DataFrame, Seq[Row])

  /** A probe counting the rows matching `cond` in ONE job (no exchange;
    * an aggregate probe costs three under AQE). */
  def countWhere(cond: Column): DataFrame => Seq[Row] =
    df => Seq(Row(df.filter(cond).queryExecution.toRdd.count()))

  /** Stop test: the round's probe rows equal its predecessor's. */
  val Stable: (Seq[Row], Seq[Row]) => Boolean = _ == _

  /** Lineage cut: re-root `df` on its RDD (`Bridge.reroot`) and persist
    * it, then run ONE action — `probe` — that both fills the cache and
    * returns the round's rows (by default its row count, one job).
    * Persist alone leaves the logical plan nesting, and Catalyst analysis
    * over stacked join+agg rounds blows up super-linearly; the re-rooted
    * frame is a LogicalRDD leaf, so plan
    * depth stays constant, and — unlike localCheckpoint, whose blocks
    * only die at a driver GC — the round can be freed deterministically.
    * (On a cluster: checkpoint() to reliable storage, same contract.) */
  def cut(df: DataFrame,
      probe: DataFrame => Seq[Row] = countWhere(lit(true))): Round = {
    val out = Bridge.reroot(df).persist()
    try (out, probe(out))
    catch { case t: Throwable => out.unpersist(); throw t }
  }

  /** Fixpoint driver: `cut`s `step` of the current round while fewer than
    * `maxRounds` rounds ran and `stop(previous probe rows, current probe
    * rows)` is false — tested on `start` too, with no previous rows. Each
    * intermediate round is freed once its successor is cut. The returned
    * last round (`start` if no round ran) belongs to the caller, and so
    * does `start`, unless a round throws: then both are freed. */
  def iterate(start: Round, maxRounds: Int,
      stop: (Seq[Row], Seq[Row]) => Boolean = (_, _) => false,
      probe: DataFrame => Seq[Row] = countWhere(lit(true)))
      (step: (DataFrame, Seq[Row]) => DataFrame): Round = {
    var cur = start
    var prev = Seq.empty[Row]
    var rounds = 0
    try {
      while (rounds < maxRounds && !stop(prev, cur._2)) {
        val next = cut(step(cur._1, cur._2), probe)
        prev = cur._2
        if (cur ne start) cur._1.unpersist()
        cur = next
        rounds += 1
      }
      cur
    } catch {
      case t: Throwable => cur._1.unpersist(); start._1.unpersist(); throw t
    }
  }

  /** Materialize `df` to local blocks with one action. Unlike `cut`'s
    * re-rooted frame, it keeps its executed plan's partitioning, so a
    * later join on that key reads it in place: for frames a query reads
    * several times but never iterates on. Free it with `release`. */
  def hold(df: DataFrame): DataFrame = df.localCheckpoint(true)

  def release(held: DataFrame): Unit = held.queryExecution.logical.foreach {
    case r: LogicalRDD => r.rdd.unpersist(); case _ => }

  /** Hold an interior's bounded answer, then free ALL its cached state,
    * also when the answer fails — Verify and Bench keep the session going
    * past a failed query. The answer's own blocks are all that is left. */
  def checkpoint(interior: (DataFrame, () => Unit)): DataFrame = {
    val (res, free) = interior
    try hold(res) finally free()
  }

  def checkpointed(interior: graft.QueryDef.Interior)
      : (SparkSession, String) => DataFrame =
    (s, d) => checkpoint(interior(s, d))
}
