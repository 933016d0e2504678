package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.streaming.Stateful

/** Generative proof of the watermark-ordered replay harness
  * (Stateful.orderedPerKeyBy), the abstraction ~50 streaming twins ride:
  * for ANY displacement pattern strictly inside the watermark slack and
  * ANY micro-batch chunking, the replay converges to exactly the batch
  * result. OrderedReplaySpec pins parity at one fixed jitter (30 min
  * hash jitter, equal thirds); this spec samples the contract space —
  * jitter magnitude 0..119 min against the 2 h slack, different odd
  * hash multipliers (different permutations within the horizon), and
  * uneven chunk boundaries including single-batch and per-sample cuts.
  *
  * The machine under test is out-of-order SCD2 — the most order-
  * sensitive twin (period boundaries, version numbers, and per-period
  * event counts all change if ANY two same-user rows swap) — so parity
  * here is parity of the full drain order, not of an order-insensitive
  * aggregate. */
class ReplayPropertySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private lazy val events: Array[Stateful.Ev] = {
    val s = spark
    import s.implicits._
    Tables.events(s, sf)
      .select("user_id", "ts", "event_id", "event_type", "value")
      .as[Stateful.Ev].collect()
  }

  private lazy val batchClosed: Set[(Long, String, Long, Long, Int, Long)] = {
    val s = spark
    SparkEntry.queries("q48_scd2")(s, sf)
      .filter("is_current = 0").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime,
        r.getTimestamp(3).getTime, r.getInt(4), r.getLong(6))).toSet
  }

  private val runCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Feed the log displaced by hash jitter (strictly < slack) in the
    * given chunk fractions through `op`; return the memory-sink rows
    * projected by `proj`. */
  private def replay[T](jitterMaxMs: Long, multiplier: Long,
      cuts: Seq[Double], op: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.Dataset[_])(
      proj: org.apache.spark.sql.DataFrame => Set[T]): Set[T] = {
    val s = spark
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger

    val shuffled =
      if (jitterMaxMs <= 0L) events.sortBy(e => (e._2.getTime, e._3))
      else events.sortBy { e =>
        val jitter = Math.floorMod(e._3 * multiplier, jitterMaxMs)
        (e._2.getTime + jitter, e._3)
      }
    val sentinelTs = new java.sql.Timestamp(
      events.map(_._2.getTime).max + 30L * 86400 * 1000)

    val name = s"replay_prop_${runCounter.incrementAndGet()}"
    val input = MemoryStream[Stateful.Ev]
    val q = op(input.toDS()
        .toDF("user_id", "ts", "event_id", "event_type", "value"))
      .writeStream.format("memory").queryName(name)
      .trigger(Trigger.ProcessingTime(50)).start()
    val bounds = (cuts.map(c => (c * shuffled.length).toInt).distinct.sorted
      :+ shuffled.length).distinct
    var start = 0
    bounds.foreach { end =>
      if (end > start) {
        input.addData(shuffled.slice(start, end).toSeq)
        q.processAllAvailable()
        start = end
      }
    }
    input.addData(Seq((-1L, sentinelTs, -1L, "zz_sentinel", 0.0)))
    q.processAllAvailable()
    q.stop()
    val out = proj(s.table(name))
    s.catalog.dropTempView(name)
    out
  }

  private def replayScd2(jitterMaxMs: Long, multiplier: Long,
      cuts: Seq[Double], slack: String = "2 hours")
      : Set[(Long, String, Long, Long, Int, Long)] =
    replay(jitterMaxMs, multiplier, cuts,
      df => Stateful.scd2StreamOoo(df, slack)) { t =>
      t.select("user_id", "event_type", "valid_from", "valid_to",
          "version", "n_events")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime,
          r.getTimestamp(3).getTime, r.getInt(4), r.getLong(5))).toSet
    }

  test("property: any jitter < slack + any chunking replays to batch scd2") {
    assert(batchClosed.nonEmpty)
    // pinned in-order case: the CDC-source contract itself (global ts
    // order, per-key non-decreasing) split mid-stream; the random
    // property below only sometimes samples jitter 0
    assert(replayScd2(0L, 1L, Seq(0.5)) == batchClosed,
      "an in-order feed split mid-stream must replay to batch scd2")
    // (slack, jitter-bound) pairs: the contract is jitter STRICTLY
    // inside the watermark delay, at any delay — not just the 2 h the
    // fixed-feed tests use. Jitter up to slack minus one minute.
    val slackGen = Gen.oneOf(
      ("30 minutes", 1740000L), ("1 hour", 3540000L),
      ("2 hours", 7140000L))
    val jitterGen = Gen.oneOf(0.0, 0.001, 0.25, 0.5, 1.0)
    // odd multipliers give distinct permutations of equal-jitter rows
    val multGen = Gen.oneOf(2654435761L, 0x9E3779B97F4A7C15L, 7919L, 3L)
    // 0..4 random cut points -> 1..5 uneven micro-batches
    val cutsGen = Gen.listOfN(4, Gen.choose(0.0, 1.0)).map(_.take(4))
      .flatMap(c => Gen.choose(0, 4).map(n => c.take(n)))
    val prop = Prop.forAllNoShrink(slackGen, jitterGen, multGen, cutsGen) {
      (sl: (String, Long), jitFrac: Double, mult: Long,
       cuts: List[Double]) =>
        val (slack, jitCap) = sl
        replayScd2((jitCap * jitFrac).toLong, mult, cuts,
          slack) == batchClosed
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: the watermark-close (timer) path replays to the batch grid") {
    // the OTHER half of the harness contract: machines whose emission is
    // driven by onWatermark/timeout (a day closes because TIME passed,
    // not because a successor row arrived). The daily-revenue grid emits
    // exact integer cents per (type, day) cell at watermark close, so
    // parity is bit-for-bit regardless of jitter or chunking.
    val s = spark
    val dmax = Tables.events(s, sf)
      .select(expr("unix_micros(ts) div 86400000000L").as("day"))
      .agg(max("day")).head.getLong(0)
    val batchGrid = Tables.events(s, sf)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000L").as("day"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("c"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(batchGrid.nonEmpty)
    def run(jit: Long, mult: Long, cuts: List[Double]) =
      replay(jit, mult, cuts, df =>
        Stateful.dailyRevenueStream(df.select(col("event_type"), col("ts"),
          expr("cast(round(value * 100) as bigint)").as("cents")),
          dmax)) { t =>
        t.filter("event_type != 'zz_sentinel'").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      }
    // pinned adversarial case (round 9): a chunk boundary at 99.5%
    // lands inside the final day minus the slack, so the intermediate
    // no-data batch's watermark passes the LAST DAY'S START — the
    // boundary that exposed the premature-emission gate (cells gated on
    // endDay*86400000 emitted before their final-chunk rows arrived,
    // then absorbed them silently; fixed to gate on the day's END
    // across all twelve endDay-gated machines)
    assert(run(1800000L, 2654435761L, List(0.995)) == batchGrid,
      "a 99.5% chunk boundary must not trigger premature cell emission")
    val jitterGen = Gen.oneOf(0L, 1000L, 1800000L, 7140000L)
    val multGen = Gen.oneOf(2654435761L, 7919L, 3L)
    val cutsGen = Gen.listOfN(4, Gen.choose(0.0, 1.0))
      .flatMap(c => Gen.choose(0, 4).map(n => c.take(n)))
    val prop = Prop.forAllNoShrink(jitterGen, multGen, cutsGen) {
      (jit: Long, mult: Long, cuts: List[Double]) =>
        run(jit, mult, cuts) == batchGrid
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }
}
