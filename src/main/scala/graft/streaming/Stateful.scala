package graft.streaming

import java.sql.Timestamp

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig, ValueState}

/** Stateful streaming operators (SURVEY.md §2.2 streaming row): event-time
  * windows, watermarked dedup, session windows, custom state machines.
  * The reference has NO event time and NO state store (batcher is
  * processing-time count/timer batching only, batcher.go:244-274) — this
  * is the §2.2 extension surface on Structured Streaming primitives.
  *
  * Scale posture: all state lives in the state store (RocksDB-backed on a
  * real cluster), partitioned by grouping key; watermarks bound state
  * growth; no driver-side state anywhere.
  *
  * Serializable because a twin's local helper that calls `halfUp` or
  * `roundDiv` is lifted to a method of this object, so the state
  * function that calls it captures the object.
  */
object Stateful extends Serializable {

  /** Tumbling/sliding event-time window counts with late-data bound. */
  def windowedCounts(df: DataFrame, tsCol: String, watermark: String,
      windowDur: String, slide: Option[String] = None): DataFrame = {
    val w = slide.map(sl => window(col(tsCol), windowDur, sl))
      .getOrElse(window(col(tsCol), windowDur))
    df.withWatermark(tsCol, watermark)
      .groupBy(w, col("event_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Sliding-window exact distinct actives — batch q80's posting-list
    * dedup expressed as CHAINED stateful aggregates (Spark 3.5+): the
    * first windowed agg holds one state row per (window, user) — the
    * streaming analog of q80's dedup(user, window) — and the second
    * counts survivors per window, emitting each window once when the
    * watermark closes it. State is bounded by actives-per-horizon ×
    * (duration/slide), evicted on watermark advance. */
  def slidingDistinctStream(df: DataFrame, tsCol: String = "ts",
      watermark: String = "24 hours", windowDur: String = "24 hours",
      slide: String = "6 hours"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur, slide), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("window"))
      .agg(count(lit(1)).as("n_active_users"))
      .select(col("window.end").as("window_end"), col("n_active_users"))

  /** Streaming exact dedup with bounded state: id-only dedup via
    * dropDuplicatesWithinWatermark — a re-delivery with a shifted
    * timestamp (arrival-time stamping after a retry) is still dropped,
    * and state for ids older than the watermark horizon is evicted
    * (the streaming analog of hash-dedup at rest). */
  def dedupStream(df: DataFrame, tsCol: String, watermark: String,
      idCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(idCols)

  /** Session windows: gap-based grouping per user. */
  def sessionize(df: DataFrame, tsCol: String, watermark: String,
      gap: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))

  /** Custom state machine via flatMapGroupsWithState: running per-key
    * count + total emitted on every update — the general template for
    * enrich/accumulate handlers the reference would write imperatively. */
  final case class KeyState(n: Long, total: Double)
  final case class Enriched(key: Long, n: Long, total: Double)

  def runningTotals(ds: Dataset[(Long, Double)])(
      implicit e1: Encoder[KeyState], e2: Encoder[Enriched],
      e3: Encoder[Long]): Dataset[Enriched] =
    ds.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Double)], state: GroupState[KeyState]) =>
          val prev = state.getOption.getOrElse(KeyState(0L, 0.0))
          val batch = rows.toSeq
          val next = KeyState(prev.n + batch.size, prev.total + batch.map(_._2).sum)
          state.update(next)
          Iterator.single(Enriched(key, next.n, next.total))
      }

  /** Streaming heavy hitters — the incremental twin of q66's batch
    * Misra-Gries candidate pass. Items are sharded across `buckets`
    * hash-keyed state groups (so state parallelizes like any keyed
    * stream, no single-counter bottleneck); each group folds its share
    * of the stream into a k-counter MG summary that persists across
    * micro-batches and is re-emitted (update semantics) every batch.
    * Merging the final per-bucket summaries (MG merge, any order — the
    * Agarwal et al. mergeable-summaries property) yields a candidate
    * set guaranteed to contain every item with total frequency
    * > n/(k+1) over the WHOLE stream: sharding by item hash means each
    * item's full count lives in exactly one bucket, so the per-bucket
    * survival guarantee applies to its bucket-local stream directly.
    * Exact recount then happens downstream (the q66 second pass) — same
    * candidate→verify contract, incrementally maintained.
    *
    * State: ≤ k (item, count) entries per bucket, bounded forever. */
  final case class HhSummary(bucket: Int, items: Map[String, Long])

  def heavyHittersStream(df: DataFrame, k: Int, buckets: Int)(
      implicit e1: Encoder[Map[String, Long]], e2: Encoder[HhSummary],
      e3: Encoder[Int], e4: Encoder[(Int, String)]): Dataset[HhSummary] = {
    val mg = new graft.functions.MisraGries(k)
    df.select(pmod(xxhash64(col("gram")), lit(buckets)).cast("int").as("b"),
        col("gram"))
      .as[(Int, String)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (bucket: Int, rows: Iterator[(Int, String)],
         state: GroupState[Map[String, Long]]) =>
          val buf = scala.collection.mutable.HashMap.empty[String, Long]
          state.getOption.foreach(m => buf ++= m)
          rows.foreach(r => mg.reduce(buf, r._2))
          val snap = buf.toMap
          state.update(snap)
          HhSummary(bucket, snap)
      }
  }

  /** scd2StreamOoo's open period per user, and the closed period it
    * emits. */
  final case class Scd2State(eventType: String, validFrom: java.sql.Timestamp,
      version: Int, nEvents: Long)
  final case class Scd2Period(user_id: Long, event_type: String,
      valid_from: java.sql.Timestamp, valid_to: java.sql.Timestamp,
      version: Int, n_events: Long)

  /** Streaming twin of the batch OHLC resample (Temporal.q56Ohlc):
    * watermarked 6-hour tumbling candles per event_type. Open/close are
    * min_by/max_by on the (ts, event_id) struct — a declarative
    * aggregate, so partial candles merge associatively across
    * micro-batches and state per (window, type) is O(1): six scalars
    * and two (key, value) pairs, never the events themselves. Candles
    * emit (append mode) once the watermark passes the window end —
    * the streamed table converges to exactly the batch resample. */
  def ohlcStream(df: DataFrame, watermark: String = "1 hour"): DataFrame =
    df.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max("value").as("high"), min("value").as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        count(lit(1)).as("n_events"),
        avg("value").as("mean_value"), sum("value").as("volume"))
      .select((col("window.start").cast("long") / 21600).cast("long").as("bucket"),
        col("event_type"), col("open"), col("high"), col("low"), col("close"),
        col("n_events"), col("mean_value"), col("volume"))

  // ------------------------------------------------------------------
  // Watermark-ordered per-key replay: the shared harness for state
  // machines that need rows applied in EVENT-TIME order while the feed
  // may be shuffled within the watermark horizon. Rows inside the
  // horizon are buffered in state; once the watermark passes a row's
  // event time it can never be preceded by a later arrival (Spark drops
  // sub-watermark input), so draining `pending` up to the watermark in
  // (ts, event_id) order replays the exact batch order incrementally.
  // State per key = machine state + the O(slack-horizon) pending buffer —
  // the size-for-reordering-slack trade documented on scd2StreamOoo.
  // ------------------------------------------------------------------

  /** One event-log row: (user_id, ts, event_id, event_type, value). */
  type Ev = (Long, java.sql.Timestamp, Long, String, Double)

  /** The event log as `Ev` columns under a `slack` watermark. */
  private def evRows(df: DataFrame, slack: String): DataFrame =
    df.withWatermark("ts", slack)
      .select("user_id", "ts", "event_id", "event_type", "value")

  /** Run `apply` over each key's rows in event-time order, buffering
    * rows newer than the watermark. `apply(key, row, state)` returns the
    * next state and rows to emit (append mode). `keyOf` picks the
    * grouping key from the row (user for the CDC machines, event_type
    * for the series machines).
    *
    * `onWatermark(key, wmMs, state)`, when given, runs after each drain
    * with the current watermark — the hook for machines whose state must
    * FLUSH on time passing alone (a bucket whose end the watermark
    * crossed can never see another row, so it is safe to close without
    * a successor event). A key re-arms an event-time timeout while its
    * buffer holds rows, and on every batch when the hook is given, so
    * the hook fires on watermark-only (no-data) batches too. */
  def orderedPerKeyBy[K: TypeTag, S: TypeTag, O: TypeTag](df: DataFrame,
      slack: String, zero: S)(
      keyOf: Ev => K)(
      apply: (K, Ev, S) => (S, Seq[O]),
      onWatermark: Option[(K, Long, S) => (S, Seq[O])] = None): Dataset[O] = {
    implicit val stEnc: Encoder[(S, Seq[Ev])] = ExpressionEncoder[(S, Seq[Ev])]()
    implicit val outEnc: Encoder[O] = ExpressionEncoder[O]()
    evRows(df, slack).as[Ev](ExpressionEncoder[Ev]())
      .groupByKey(keyOf)(ExpressionEncoder[K]())
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (key: K, rows: Iterator[Ev], state: GroupState[(S, Seq[Ev])]) =>
          val (s0, pending) = state.getOption.getOrElse((zero, Seq.empty[Ev]))
          val wm = state.getCurrentWatermarkMs()
          // strict <: the watermark is millisecond-truncated while event
          // time carries microseconds, so a row in the SAME boundary
          // millisecond as the watermark could still be followed by a
          // smaller-microsecond sibling Spark has not dropped — draining
          // it would replay out of event-time order. Rows exactly at the
          // watermark millisecond stay buffered one more trigger.
          val (ready, hold) = (pending ++ rows).partition(_._2.getTime < wm)
          var s = s0
          val out = Seq.newBuilder[O]
          ready.sortBy(e => (e._2.getTime, e._2.getNanos, e._3)).foreach { e =>
            val (s2, os) = apply(key, e, s); s = s2; out ++= os
          }
          val s3 = onWatermark.fold(s) { hook =>
            val (s4, extra) = hook(key, wm, s); out ++= extra; s4
          }
          state.update((s3, hold))
          // re-arm so the next watermark advance drains the buffer even
          // if no new rows arrive for this key (timeouts clear per call)
          if (hold.nonEmpty || onWatermark.isDefined)
            state.setTimeoutTimestamp(wm + 1)
          out.result().iterator
      }
  }

  /** The user-keyed specialization (CDC/funnel/retention machines). */
  def orderedPerKey[S: TypeTag, O: TypeTag](df: DataFrame, slack: String,
      zero: S)(apply: (Long, Ev, S) => (S, Seq[O])): Dataset[O] =
    orderedPerKeyBy[Long, S, O](df, slack, zero)(_._1)(apply)

  /** The series-bucket family over `orderedPerKeyBy`, keyed by
    * event_type: each row falls in bucket `floorDiv(ts ms, bucketMs)`,
    * and `add(state, bucket, row)` folds it into the open bucket, or
    * opens one when `bucketOf(state)` is −1. `close(key, state)` emits
    * the open bucket and returns the state with none open (−1), keeping
    * whatever the twin carries across buckets. A bucket closes when
    * replay crosses into a later one, or when the watermark reaches its
    * end: no row of it can arrive after that. */
  private def perBucket[S: TypeTag, O: TypeTag](df: DataFrame, slack: String,
      bucketMs: Long, zero: S)(bucketOf: S => Long)(
      add: (S, Long, Ev) => S, close: (String, S) => (S, Seq[O]))
      : Dataset[O] =
    orderedPerKeyBy[String, S, O](df, slack, zero)(_._4)(
      apply = { (et, e, st) =>
        val b = Math.floorDiv(e._2.getTime, bucketMs)
        val cur = bucketOf(st)
        if (cur >= 0L && b != cur) {
          val (closed, out) = close(et, st)
          (add(closed, b, e), out)
        } else (add(st, b, e), Nil)
      },
      onWatermark = Some { (et, wm, st) =>
        val cur = bucketOf(st)
        if (cur >= 0L && wm >= (cur + 1L) * bucketMs) close(et, st)
        else (st, Nil)
      })

  /** The commutative-grid state family: fold each key's rows into an `S`
    * and emit the key's output once, when the watermark passes the key's
    * close instant `closeMs(key)` (epoch ms); then remove the state.
    *
    * `rows` carries the caller's watermark. Rows at or past their key's
    * close still advance it but never reach state, and a row below the
    * close that arrives after the close is below the watermark, so Spark
    * drops it under EventTimeTimeout. An emitted key therefore never sees
    * another row: its state is reclaimed, never kept as a tombstone, and
    * a key whose only rows are past its close never gets state at all
    * (a harness sentinel past a fixed close forms no cell; under a
    * per-day close it forms one that never closes). `fold(state, rows,
    * wm)` takes the key's whole micro-batch, so a sketch state is
    * deserialized once per batch rather than per row, plus the
    * watermark, for folds that prune pending rows below it. An open key
    * sleeps until the watermark passes its close or new rows arrive.
    *
    * Drop unwanted rows in `fold`, not with a filter in `rows`: Spark
    * pushes a filter on a non-time column below the watermark, and the
    * rows it removes (a sentinel among them) then stop advancing it. */
  def closeOnce[R: TypeTag, K: TypeTag, S: TypeTag, O: TypeTag](
      rows: DataFrame, ts: R => Timestamp, key: R => K,
      closeMs: K => Long, zero: S)(
      fold: (S, Iterator[R], Long) => S,
      emit: (K, S) => IterableOnce[O]): Dataset[O] = {
    implicit val stEnc: Encoder[S] = ExpressionEncoder[S]()
    implicit val outEnc: Encoder[O] = ExpressionEncoder[O]()
    rows.as[R](ExpressionEncoder[R]()).groupByKey(key)(ExpressionEncoder[K]())
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (k: K, it: Iterator[R], state: GroupState[S]) =>
          val close = closeMs(k)
          val live = it.filter(ts(_).getTime < close)
          if (!state.exists && !live.hasNext) Iterator.empty
          else {
            val wm = state.getCurrentWatermarkMs()
            val s = fold(state.getOption.getOrElse(zero), live, wm)
            if (wm > close) { state.remove(); emit(k, s).iterator }
            else {
              state.update(s)
              state.setTimeoutTimestamp(math.max(wm + 1L, close + 1L))
              Iterator.empty
            }
          }
      }
  }

  /** Encoders derived from TypeTags, as the two combinators above derive
    * theirs: the transformWithState twins import `encoder` for their
    * row, key, output and seed encoders, and SessionProcessor builds its
    * state variables' with it. */
  private object Derived {
    implicit def encoder[T: TypeTag]: Encoder[T] = ExpressionEncoder[T]()
  }

  /** Streaming SCD2: the incremental twin of the batch history build
    * (operators/Temporal.q48Scd2). Per-user state carries the one OPEN
    * period; an attribute change closes it (emitted downstream, append
    * mode) and opens the next. State is O(1) per user plus the reorder
    * buffer — the closed history lives in the sink, not the state store.
    *
    * Ordering contract: a CDC source delivers a log-sequence-ordered
    * feed, non-decreasing per key. This twin relaxes it to a feed
    * shuffled within `slack` of true event order: rows are buffered in
    * state and applied in (ts, event_id) order once the watermark passes
    * them, trading state size for reordering slack. A closed period
    * therefore emits once the watermark passes its successor row, even
    * for an in-order feed. Converges to exactly the batch q48 closed
    * periods. */
  def scd2StreamOoo(df: DataFrame, slack: String = "2 hours"): Dataset[Scd2Period] = {
    orderedPerKey[Option[Scd2State], Scd2Period](df, slack,
      Option.empty[Scd2State]) { (user, e, st) =>
      val (_, ts, _, et, _) = e
      st match {
        case None => (Some(Scd2State(et, ts, 1, 1L)), Nil)
        case Some(s) if s.eventType == et =>
          (Some(s.copy(nEvents = s.nEvents + 1)), Nil)
        case Some(s) =>
          (Some(Scd2State(et, ts, s.version + 1, 1L)),
            Seq(Scd2Period(user, s.eventType, s.validFrom, ts,
              s.version, s.nEvents)))
      }
    }
  }

  /** Streaming twin of the batch funnel (Behavioral.q57Funnel): emits a
    * row the moment a user reaches step k (strictly after their step
    * k-1 time — ordered-funnel semantics). Because rows replay in
    * event-time order, the first qualifying event IS the per-user min
    * the batch query computes; aggregating emitted steps reproduces the
    * batch step counts exactly. State is O(1) per user (three
    * timestamps) plus the reordering buffer. */
  final case class StepReached(user_id: Long, step: Int, ts: java.sql.Timestamp)
  final case class FunnelState(t1: Option[java.sql.Timestamp],
      t2: Option[java.sql.Timestamp], t3: Option[java.sql.Timestamp])

  def funnelStream(df: DataFrame, slack: String = "2 hours"): Dataset[StepReached] = {
    orderedPerKey[FunnelState, StepReached](df, slack,
      FunnelState(None, None, None)) { (user, e, st) =>
      val (_, ts, _, et, _) = e
      et match {
        case "view" if st.t1.isEmpty =>
          (st.copy(t1 = Some(ts)), Seq(StepReached(user, 1, ts)))
        case "click" if st.t2.isEmpty &&
            st.t1.exists(t1 => ts.compareTo(t1) > 0) =>
          (st.copy(t2 = Some(ts)), Seq(StepReached(user, 2, ts)))
        case "purchase" if st.t3.isEmpty &&
            st.t2.exists(t2 => ts.compareTo(t2) > 0) =>
          (st.copy(t3 = Some(ts)), Seq(StepReached(user, 3, ts)))
        case _ => (st, Nil)
      }
    }
  }

  /** Streaming twin of q126's TIME-BOXED funnel: q57's ordered-replay
    * state machine with the 24 h window enforced at each transition —
    * a step event qualifies only strictly after the previous step and
    * within `windowUs` of it. Because replay is event-time ordered,
    * the first qualifying event IS the batch min, and an event beyond
    * the window can never be rescued by a later (even later) one, so
    * the O(1) three-timestamp state is exact. */
  def timedFunnelStream(df: DataFrame, windowUs: Long = 86400000000L,
      slack: String = "2 hours"): Dataset[StepReached] = {
    orderedPerKey[FunnelState, StepReached](df, slack,
      FunnelState(None, None, None)) { (user, e, st) =>
      val (_, ts, _, et, _) = e
      et match {
        case "view" if st.t1.isEmpty =>
          (st.copy(t1 = Some(ts)), Seq(StepReached(user, 1, ts)))
        case "click" if st.t2.isEmpty &&
            st.t1.exists(t1 => ts.compareTo(t1) > 0 &&
              microsOf(ts) - microsOf(t1) <= windowUs) =>
          (st.copy(t2 = Some(ts)), Seq(StepReached(user, 2, ts)))
        case "purchase" if st.t3.isEmpty &&
            st.t2.exists(t2 => ts.compareTo(t2) > 0 &&
              microsOf(ts) - microsOf(t2) <= windowUs) =>
          (st.copy(t3 = Some(ts)), Seq(StepReached(user, 3, ts)))
        case _ => (st, Nil)
      }
    }
  }

  /** One observed first-order transition (q61's pair row). */
  final case class Transition(user_id: Long, prev_type: String,
      next_type: String)

  /** Streaming twin of q61's pair-extraction pass: each user's event
    * stream replayed in event-time order (the ordered-replay harness —
    * the consecutive-pair relation is exactly what arrival order would
    * corrupt), emitting one transition per event with a predecessor.
    * State is O(1) per user: the last event type. The count +
    * row-normalize rollup then runs over the emitted pairs via
    * Behavioral.q61Rollup — identical code to batch, all-integer, so
    * the transition matrix matches bit-for-bit. */
  def markovStream(df: DataFrame, slack: String = "2 hours")
      : Dataset[Transition] = {
    orderedPerKey[String, Transition](df, slack, "") { (user, e, st) =>
      val next = e._4
      (next, if (st.nonEmpty) Seq(Transition(user, st, next)) else Nil)
    }
  }

  /** One converted user's attribution (q68's per-user row). */
  final case class Attribution(user_id: Long, first_touch: String,
      last_touch: String, gap_us: Long)
  final case class AttrState(firstTouch: String, lastTouch: String,
      lastUs: Long, converted: Boolean)

  /** Streaming twin of q68's per-user pass: on the ordered replay the
    * journey is exact at every event, so the attribution row emits THE
    * MOMENT the first purchase arrives — no watermark close, no reorder
    * ambiguity (the "strictly before (ts, event_id)" rule is replay
    * order itself). State is O(1): first/last touch type + last touch
    * time, frozen after conversion; users whose first purchase has no
    * prior touch emit nothing (the batch inner join). The attribution
    * matrix then runs over the emitted rows via Behavioral.q68Rollup —
    * exact-µs sums, bit-for-bit with batch. */
  def attributionStream(df: DataFrame, slack: String = "2 hours")
      : Dataset[Attribution] = {
    val empty = AttrState("", "", 0L, converted = false)
    orderedPerKey[AttrState, Attribution](df, slack, empty) { (user, e, st) =>
      if (st.converted) (st, Nil)
      else e._4 match {
        case "view" | "click" =>
          val first = if (st.firstTouch.isEmpty) e._4 else st.firstTouch
          (st.copy(firstTouch = first, lastTouch = e._4,
            lastUs = microsOf(e._2)), Nil)
        case "purchase" =>
          val done = st.copy(converted = true)
          if (st.lastTouch.isEmpty) (done, Nil)
          else (done, Seq(Attribution(user, st.firstTouch, st.lastTouch,
            microsOf(e._2) - st.lastUs)))
        case _ => (st, Nil)
      }
    }
  }

  /** One closed session's opening path (q62's per-session row). */
  final case class SessionPath(user_id: Long, path: String)
  final case class PathState(lastUs: Long, p1: String, p2: String,
      p3: String, open: Boolean)

  /** Streaming twin of q62's sessionize-and-collect pass: per user, the
    * gap-sessionization state machine (>10 min silence splits — q37's
    * rule) carrying only the session's first ≤3 event types and its
    * last event time. A session closes when ordered replay breaks the
    * gap or the watermark proves the gap can no longer be filled
    * (lastUs + 10 min behind the watermark), emitting its opening path;
    * the top-20 count then runs over the emitted paths via
    * Behavioral.q62Rollup — identical all-integer code to batch. */
  def sessionPathStream(df: DataFrame, slack: String = "2 hours")
      : Dataset[SessionPath] = {
    val GapUs = 600L * 1000000L
    val empty = PathState(0L, "", "", "", open = false)
    def pathOf(st: PathState): String =
      Seq(st.p1, st.p2, st.p3).filter(_.nonEmpty).mkString(">")
    def push(st: PathState, et: String): PathState =
      if (st.p1.isEmpty) st.copy(p1 = et)
      else if (st.p2.isEmpty) st.copy(p2 = et)
      else if (st.p3.isEmpty) st.copy(p3 = et)
      else st
    orderedPerKeyBy[Long, PathState, SessionPath](df, slack, empty)(_._1)(
      apply = { (user, e, st) =>
        val t = microsOf(e._2)
        if (!st.open)
          (push(empty.copy(open = true), e._4).copy(lastUs = t), Nil)
        else if (t - st.lastUs > GapUs)
          (push(empty.copy(open = true), e._4).copy(lastUs = t),
            Seq(SessionPath(user, pathOf(st))))
        else (push(st, e._4).copy(lastUs = t), Nil)
      },
      onWatermark = Some { (user, wm, st) =>
        if (st.open && wm > st.lastUs / 1000L + 600000L)
          (empty, Seq(SessionPath(user, pathOf(st))))
        else (st, Nil)
      })
  }

  /** One backward as-of enrichment: a click paired with the latest
    * purchase at-or-before it (q25's output row). */
  final case class AsofMatch(event_id: Long, purchase_event_id: Long,
      gap_us: Long)
  /** Latest purchase seen for the user; pId < 0 ⇔ none yet. */
  final case class AsofState(pId: Long, pUs: Long)

  /** Streaming twin of the backward as-of join (Relational.q25AsofJoin):
    * per-user state is ONLY the latest purchase (id, µs) — O(keys)
    * state, no click buffering beyond the shared reorder horizon — and
    * every click emits its enrichment the moment it drains. This is the
    * production stream-enrichment shape ("attach current account /
    * price / config state to each fact"): the batch formulation's
    * last-value window carry becomes a 16-byte state cell.
    *
    * Tie semantics: batch q25 counts a purchase at the identical µs
    * timestamp as a valid match (<=); the replay harness orders equal-
    * timestamp rows by event_id, so a same-µs (click, purchase)
    * collision resolves by id order instead. µs-identical cross-type
    * collisions are measure-zero in real logs (and absent from the
    * testdata — the parity gate asserts exact equality). */
  def asofStream(df: DataFrame, slack: String = "2 hours"): Dataset[AsofMatch] = {
    orderedPerKey[AsofState, AsofMatch](df, slack, AsofState(-1L, 0L)) {
      (_, e, st) =>
        val (_, ts, eid, et, _) = e
        et match {
          case "purchase" => (AsofState(eid, microsOf(ts)), Nil)
          case "click" if st.pId >= 0L =>
            (st, Seq(AsofMatch(eid, st.pId, microsOf(ts) - st.pUs)))
          case _ => (st, Nil)
        }
    }
  }

  /** One forward as-of resolution: a click paired with the earliest
    * purchase at-or-after it within tolerance, or explicitly unmatched
    * once the watermark proves no such purchase can arrive (q89's
    * forward columns). */
  final case class FwdMatch(event_id: Long, fwd_event_id: Option[Long],
      fwd_gap_us: Option[Long])
  /** Clicks awaiting their forward purchase: (event_id, ts µs). */
  final case class FwdState(pending: Seq[(Long, Long)])

  /** Streaming FORWARD as-of (the other direction of q89): each click
    * waits for the next purchase; the first purchase to arrive resolves
    * every pending click within `tolUs` and EXPIRES the rest, and the
    * watermark hook expires clicks whose tolerance window it has passed
    * (cus + tolUs < wm ⇒ any future purchase is too late) — so every
    * click emits EXACTLY ONE row, match or timeout. This is the
    * stream-stream outer-join-with-timeout pattern at per-key state
    * granularity: state is only the clicks inside the open tolerance
    * window since the last purchase, and null completion fires the
    * moment the watermark proves absence, not at end-of-stream. */
  def asofFwdStream(df: DataFrame, tolUs: Long = 86400000000L,
      slack: String = "2 hours"): Dataset[FwdMatch] = {
    orderedPerKeyBy[Long, FwdState, FwdMatch](df, slack, FwdState(Nil))(_._1)(
      apply = { (_, e, st) =>
        val (_, ts, eid, et, _) = e
        val us = microsOf(ts)
        et match {
          case "click" => (FwdState(st.pending :+ ((eid, us))), Nil)
          case "purchase" =>
            // ordered replay ⇒ every pending click has cus <= us
            val (hit, miss) = st.pending.partition {
              case (_, cus) => us - cus <= tolUs }
            (FwdState(Nil),
              hit.map { case (ceid, cus) =>
                FwdMatch(ceid, Some(eid), Some(us - cus)) } ++
              miss.map { case (ceid, _) => FwdMatch(ceid, None, None) })
          case _ => (st, Nil)
        }
      },
      onWatermark = Some { (_, wmMs, st) =>
        val (dead, live) = st.pending.partition {
          case (_, cus) => cus + tolUs < wmMs * 1000L }
        (FwdState(live),
          dead.map { case (ceid, _) => FwdMatch(ceid, None, None) })
      })
  }

  /** Streaming twin of the cohort-retention matrix (Behavioral
    * .q58Retention): emits one (user, cohort_day, day_offset) row the
    * first time a user is active on a new day. Event-time-ordered
    * replay pins the cohort day to the user's true first event, and
    * makes per-user state O(1): the cohort day plus the last emitted
    * day (a new row's day can never be below it). Aggregating emissions
    * per (cohort_day, day_offset) reproduces the batch matrix. */
  final case class CohortActivity(user_id: Long, cohort_day: Long,
      day_offset: Long)
  final case class RetState(cohortDay: Long, lastDay: Long)

  def retentionStream(df: DataFrame, slack: String = "2 hours"): Dataset[CohortActivity] = {
    orderedPerKey[RetState, CohortActivity](df, slack,
      RetState(-1L, -1L)) { (user, e, st) =>
      val day = Math.floorDiv(e._2.getTime, 86400000L)
      if (st.cohortDay == -1L)
        (RetState(day, day), Seq(CohortActivity(user, day, 0L)))
      else if (day > st.lastDay)
        (st.copy(lastDay = day),
          Seq(CohortActivity(user, st.cohortDay, day - st.cohortDay)))
      else (st, Nil)
    }
  }

  /** Streaming twin of rolling z-score anomaly detection (Temporal
    * .q60Anomaly), keyed by event_type. flatMapGroupsWithState is not
    * allowed downstream of a streaming aggregation, so the 6-hour candle
    * accumulation lives INSIDE the state machine: per key the state is
    * the open bucket's (sum, count) plus the trailing ≤12 closed bucket
    * means. When event-time-ordered replay crosses a bucket boundary the
    * closing bucket is scored against the trailing window (emitted once
    * ≥ 4 trailing buckets exist, mirroring the batch nt filter) and
    * pushed into it; a bucket whose end the watermark reaches closes on
    * time passing alone (perBucket), no successor event needed. State
    * is O(1) per key. */
  final case class AnomalyPoint(event_type: String, bucket: Long,
      mean_value: Double, trailing_mu: Double, trailing_sd: Double,
      z: Double, is_anomaly: Int)
  final case class TrailState(curBucket: Long, s: Double, n: Long,
      hist: Seq[(Long, Double)])

  /** Open a bucket with the row's value, or add the value to it. The
    * opened sum is the value itself: 0.0 + v would turn a −0.0 into 0.0. */
  private def addTrail(st: TrailState, b: Long, e: Ev): TrailState =
    if (st.curBucket < 0L) st.copy(curBucket = b, s = e._5, n = 1L)
    else st.copy(s = st.s + e._5, n = st.n + 1)

  def anomalyStream(df: DataFrame, slack: String = "2 hours"): Dataset[AnomalyPoint] =
    // close the open bucket: score against the trailing window, in the
    // same fold order and formula as the batch query, then push the
    // closed mean into the trailing history
    perBucket(df, slack, 21600000L, TrailState(-1L, 0.0, 0L, Nil))(
      _.curBucket)(addTrail, { (et, st) =>
      val mean = st.s / st.n
      val out =
        if (st.hist.length >= 4) {
          val nt = st.hist.length
          val s1 = st.hist.foldLeft(0.0)(_ + _._2)
          val s2 = st.hist.foldLeft(0.0)((a, h) => a + h._2 * h._2)
          val mu = s1 / nt
          val sd = math.sqrt(math.max((s2 - s1 * s1 / nt) / (nt - 1), 0.0))
          // sd == 0 (constant trailing series): batch q60 emits z NULL —
          // mirror it as NaN, not 0.0, so the parity contract holds
          val z = if (sd > 0) (mean - mu) / sd else Double.NaN
          Seq(AnomalyPoint(et, st.curBucket, mean, mu, sd, z,
            if (sd > 0 && math.abs(z) > 2) 1 else 0))
        } else Nil
      (TrailState(-1L, 0.0, 0L,
        (st.hist :+ (st.curBucket, mean)).takeRight(12)), out)
    })

  /** Streaming twin of the rolling exact-quantile monitor (Temporal
    * .q95RollingQuantiles): same bucket state machine as anomalyStream,
    * but each closing bucket is scored with the exact trailing-12
    * median/p25/p75 (current bucket INCLUDED, matching q95's rows
    * frame) using the same linear interpolation Spark's `percentile`
    * applies — rank (n−1)·q between the two bracketing order
    * statistics. State is O(1) per key: the open bucket's (sum, count)
    * plus ≤ 11 trailing closed means. */
  final case class QuantilePoint(event_type: String, bucket: Long,
      v: Double, roll_med: Double, roll_p25: Double, roll_p75: Double,
      iqr_outlier: Int)

  def rollingQuantileStream(df: DataFrame, slack: String = "2 hours")
      : Dataset[QuantilePoint] = {
    def pct(sorted: IndexedSeq[Double], q: Double): Double = {
      val r = (sorted.length - 1) * q
      val lo = r.toInt
      val hi = math.ceil(r).toInt
      sorted(lo) + (sorted(hi) - sorted(lo)) * (r - lo)
    }
    perBucket(df, slack, 21600000L, TrailState(-1L, 0.0, 0L, Nil))(
      _.curBucket)(addTrail, { (et, st) =>
      val mean = st.s / st.n
      val win = (st.hist.map(_._2) :+ mean).takeRight(12)
        .sorted.toIndexedSeq
      val (med, p25, p75) = (pct(win, 0.5), pct(win, 0.25), pct(win, 0.75))
      val iqr = p75 - p25
      val out = QuantilePoint(et, st.curBucket, mean, med, p25, p75,
        if (mean > p75 + iqr * 1.5 || mean < p25 - iqr * 1.5) 1 else 0)
      (TrailState(-1L, 0.0, 0L,
        (st.hist :+ ((st.curBucket, mean))).takeRight(12)), Seq(out))
    })
  }

  /** Streaming twin of the exact recursive EWMA (Temporal.q64Ewma),
    * keyed by event_type: the state machine accumulates the open 6-hour
    * bucket's (sum, count) and carries the previous EWMA value; when the
    * watermark (or an ordered successor row) closes a bucket it emits
    * the bucket mean and e = 0.2·mean + 0.8·e_prev — the identical IEEE
    * expression, applied in the identical bucket order, as the batch
    * recurrence, so streamed == batch to the ulp. State is O(1) per key
    * (two doubles, a count, a flag) plus the reordering buffer. */
  final case class EwmaPoint(event_type: String, bucket: Long,
      mean_value: Double, ewma: Double)
  final case class EwmaState(curBucket: Long, s: Double, n: Long,
      prev: Double, hasPrev: Boolean)

  def ewmaStream(df: DataFrame, slack: String = "2 hours"): Dataset[EwmaPoint] =
    perBucket(df, slack, 21600000L,
      EwmaState(-1L, 0.0, 0L, 0.0, hasPrev = false))(_.curBucket)(
      (st, b, e) =>
        if (st.curBucket < 0L) st.copy(curBucket = b, s = e._5, n = 1L)
        else st.copy(s = st.s + e._5, n = st.n + 1),
      { (et, st) =>
        val mean = st.s / st.n
        val e = if (st.hasPrev) 0.2 * mean + 0.8 * st.prev else mean
        (EwmaState(-1L, 0.0, 0L, e, hasPrev = true),
          Seq(EwmaPoint(et, st.curBucket, mean, e)))
      })

  final case class VadSegment(doc_id: Long, seg_start: Long, seg_end: Long,
      n_frames: Long, mean_energy: Double)
  final case class VadState(start: Long, end: Long, n: Long, sum: Long,
      lastTsMs: Long)

  /** Incremental twin of batch m05: energy-gated VAD segmentation as a
    * per-doc state machine over the ordered-replay harness. The feed is
    * m05's ACTIVE frame table as events — key = doc id, event_id =
    * frame index, value = frame energy, ts = a per-frame timestamp that
    * advances 1 s per frame index. A segment extends while frame
    * indices stay consecutive, closes on the first gap (emitting when it
    * met the 2-frame minimum duration), and — the watermark-close rule —
    * closes when the watermark passes the successor frame's timestamp,
    * because Spark then guarantees that frame can never arrive. State
    * per doc is O(1) plus the harness's slack-bounded reorder buffer. */
  def vadStream(df: DataFrame, slack: String = "2 hours"): Dataset[VadSegment] = {
    val MinFrames = 2L
    def close(doc: Long, st: VadState): Seq[VadSegment] =
      if (st.start >= 0 && st.n >= MinFrames)
        Seq(VadSegment(doc, st.start, st.end, st.n, st.sum.toDouble / st.n))
      else Nil
    val empty = VadState(-1L, -1L, 0L, 0L, -1L)
    orderedPerKeyBy[Long, VadState, VadSegment](df, slack, empty)(_._1)(
      apply = { (doc, e, st) =>
        val idx = e._3
        val energy = e._5.toLong
        val ts = e._2.getTime
        if (st.start < 0)
          (VadState(idx, idx, 1L, energy, ts), Nil)
        else if (idx == st.end + 1)
          (VadState(st.start, idx, st.n + 1, st.sum + energy, ts), Nil)
        else {
          val out = close(doc, st)
          (VadState(idx, idx, 1L, energy, ts), out)
        }
      },
      onWatermark = Some { (doc, wm, st) =>
        // the successor frame would carry ts = lastTs + 1 s; once the
        // watermark passes it, the segment can never be extended
        if (st.start >= 0 && wm > st.lastTsMs + 1000L)
          (empty, close(doc, st))
        else (st, Nil)
      })
  }

  /** Streaming twin of the interval-sweep peak-concurrency metric
    * (Behavioral.q83PeakConcurrency), keyed by event_type: the state is
    * the open day's minute→net-delta map (each event adds +1 at its
    * start minute and −1 at min(start+30, day end), the batch query's
    * midnight-clipped 30-minute session) plus the day's session count.
    * A day closes when ordered replay crosses midnight or the watermark
    * passes day end; closing sweeps the ≤1440-entry map in minute order
    * — the identical integer cumsum as the batch operator, so streamed
    * == batch exactly. State per key is bounded by the minute domain
    * (≤ 1440 deltas), never by event volume — the same bucketed-sweep
    * bound that makes the batch plan scale-safe, carried into state
    * size. */
  final case class PeakDay(event_type: String, day: Long,
      n_sessions: Long, peak: Long)
  final case class PeakState(curDay: Long, nSessions: Long,
      deltas: Map[Long, Long])

  def peakStream(df: DataFrame, slack: String = "2 hours"): Dataset[PeakDay] = {
    val empty = PeakState(-1L, 0L, Map.empty)
    perBucket(df, slack, 86400000L, empty)(_.curDay)(
      { (st, day, e) =>
        val m = Math.floorDiv(e._2.getTime, 60000L)
        val dayEnd = (day + 1L) * 1440L
        val end = math.min(m + 30L, dayEnd)
        var d = st.deltas.updated(m, st.deltas.getOrElse(m, 0L) + 1L)
        if (end < dayEnd) d = d.updated(end, d.getOrElse(end, 0L) - 1L)
        PeakState(day, st.nSessions + 1L, d)
      },
      { (et, st) =>
        var cum = 0L; var peak = Long.MinValue
        st.deltas.toSeq.sortBy(_._1).foreach { case (_, net) =>
          cum += net; if (cum > peak) peak = cum
        }
        (empty, Seq(PeakDay(et, st.curDay, st.nSessions, peak)))
      })
  }

  /** One closed TWAP day: all-INTEGER accumulators (exact cents,
    * ms-weighted cent-ms products), so the parity check against batch
    * q100 applies the identical final-division expressions to identical
    * integers — the q83/q85 bit-for-bit convention. */
  final case class TwapDay(event_type: String, day: Long, n_events: Long,
      dur_ms: Long, swv: Long, scents: Long)
  /** Open day's accumulators + the last tick (whose weight is unknown
    * until the next tick or day end) — O(1) per key. */
  final case class TwapState(curDay: Long, n: Long, swv: Long, scents: Long,
      durMs: Long, lastUs: Long, lastCents: Long)

  /** Streaming twin of the batch TWAP (Temporal.q100Twap), keyed by
    * event_type: each replayed tick settles the PREVIOUS tick's weight
    * (t − lastUs, exact integer ms); a day closes when ordered replay
    * crosses midnight (the last tick's weight runs to day end — the
    * batch lead()-coalesce) or the watermark passes day end. The
    * piecewise-constant-holds semantics that make TWAP a window query in
    * batch become O(1) per-key state here — the same volume-to-domain
    * collapse as peakStream, without even a minute map.
    *
    * Cents use the exact Spark Round(double) semantics
    * (BigDecimal.valueOf + HALF_UP) so streamed integers equal the batch
    * projection bit-for-bit. */
  def twapStream(df: DataFrame, slack: String = "2 hours"): Dataset[TwapDay] = {
    val DayUs = 86400000000L
    val empty = TwapState(-1L, 0L, 0L, 0L, 0L, 0L, 0L)
    def settle(st: TwapState, untilUs: Long): TwapState = {
      val w = Math.floorDiv(untilUs - st.lastUs, 1000L)
      st.copy(swv = st.swv + st.lastCents * w, durMs = st.durMs + w)
    }
    perBucket(df, slack, 86400000L, empty)(_.curDay)(
      { (st, day, e) =>
        val t = microsOf(e._2)
        val cents = halfUp(e._5 * 100)
        if (st.curDay < 0L) TwapState(day, 1L, 0L, cents, 0L, t, cents)
        else {
          val s2 = settle(st, t)
          s2.copy(n = s2.n + 1L, scents = s2.scents + cents,
            lastUs = t, lastCents = cents)
        }
      },
      { (et, st) =>
        val fin = settle(st, (st.curDay + 1L) * DayUs)
        (empty, Seq(TwapDay(et, fin.curDay, fin.n, fin.durMs, fin.swv,
          fin.scents)))
      })
  }

  // ------------------------------------------------------------------
  // q84 / q85 incremental twins (the round-4 batch additions): the
  // volume-proportional halves — session intervals, surge islands,
  // per-user half counts — maintained as bounded per-key state; the
  // aggregate-bounded tails (interval-overlap rollup, decile cross-tab)
  // run over the emitted snapshots via the SAME batch helpers the batch
  // queries use (Temporal.q84OverlapAgg, Behavioral.q85DecileCrossTab),
  // so streamed == batch is checked against identical plans.
  // ------------------------------------------------------------------

  /** One closed activity session: [s0, s1] µs, q37's 10-minute-gap rule. */
  final case class SessionInterval(user_id: Long, session_seq: Long,
      s0: Long, s1: Long)
  /** seq = sessions opened so far for the key; s0 < 0 ⇔ none open. */
  final case class SessState(seq: Long, s0: Long, s1: Long)

  private def microsOf(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Spark's Round(double) to an integer (BigDecimal.valueOf + HALF_UP),
    * so streamed integers equal the batch projection bit-for-bit. */
  private def halfUp(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  private def roundDiv(s: Long, n: Long): Long = halfUp(s.toDouble / n)

  /** Streaming twin of q84's session side (Temporal.q84SessionIntervals):
    * per-user gap sessionization emitting each CLOSED [s0, s1] interval.
    * A session closes when a replayed event breaks the 10-minute gap, or
    * when the watermark passes s1 + gap (no arrival can ever extend it —
    * Spark drops sub-watermark rows). State per user is O(1) (one open
    * interval + the harness's slack-bounded reorder buffer). session_seq
    * counts every opened session, so it equals the batch cumsum-of-breaks
    * numbering exactly. */
  def sessionIntervalsStream(df: DataFrame, slack: String = "2 hours")
      : Dataset[SessionInterval] = {
    val GapUs = 600L * 1000000L
    orderedPerKeyBy[Long, SessState, SessionInterval](df, slack,
      SessState(0L, -1L, -1L))(_._1)(
      apply = { (user, e, st) =>
        val t = microsOf(e._2)
        if (st.s0 < 0L) (SessState(st.seq + 1L, t, t), Nil)
        else if (t - st.s1 > GapUs)
          (SessState(st.seq + 1L, t, t),
            Seq(SessionInterval(user, st.seq, st.s0, st.s1)))
        else (st.copy(s1 = t), Nil)
      },
      onWatermark = Some { (user, wm, st) =>
        // any future row has ts ≥ wm (ms); once wm strictly clears the
        // ms ceiling of s1 + gap, every arrival breaks the gap
        if (st.s0 >= 0L && wm > Math.floorDiv(st.s1 + GapUs, 1000L) + 1L)
          (SessState(st.seq, -1L, -1L),
            Seq(SessionInterval(user, st.seq, st.s0, st.s1)))
        else (st, Nil)
      })
  }

  /** One closed surge island: [m0, m1] closed 5-minute-bucket interval
    * within one day (the q83/q84 midnight-clip convention). */
  final case class SurgeIsland(event_type: String, day: Long,
      m0: Long, m1: Long)
  /** curM = open bucket (-1 none), n = its count; m0 < 0 ⇔ no open
    * island. */
  final case class SurgeState(curM: Long, n: Long, islandDay: Long,
      m0: Long, m1: Long)

  /** Streaming twin of q84's surge side (Temporal.q84SurgeIslands),
    * keyed by event_type. Ordered replay means bucket ids arrive
    * nondecreasing, so a bucket FINALIZES when a later bucket's first
    * event arrives or the watermark passes its end; finalized qualifying
    * buckets (n ≥ max(2, 1.5 × type average)) extend the open island when
    * consecutive and same-day, else close it (emit) and open a new one.
    *
    * `avgByType` — each type's mean 5-minute-bucket count over the
    * timeline — is a full-pass stat, supplied as an ingest-time catalog
    * parameter (the d08/s03 precedent: stats fitted at ingest, streams
    * parameterized by them). State per key is O(1): one open bucket
    * count + one open island. */
  def surgeIslandsStream(df: DataFrame, avgByType: Map[String, Double],
      slack: String = "2 hours"): Dataset[SurgeIsland] = {
    val BktUs = 300000000L
    val BktMs = 300000L
    val empty = SurgeState(-1L, 0L, -1L, -1L, -1L)
    // fold bucket (b, n) into the island state; returns (state', emitted)
    def finalize(et: String, st: SurgeState): (SurgeState, Seq[SurgeIsland]) = {
      if (st.curM < 0L) (st, Nil)
      else {
        val b = st.curM
        val qualifies = st.n >= 2L &&
          st.n.toDouble >= 1.5 * avgByType.getOrElse(et, Double.MaxValue)
        val db = Math.floorDiv(b, 288L)
        if (qualifies) {
          if (st.m0 >= 0L && b == st.m1 + 1L && db == st.islandDay)
            (SurgeState(-1L, 0L, st.islandDay, st.m0, b), Nil)
          else {
            val closed = if (st.m0 >= 0L)
              Seq(SurgeIsland(et, st.islandDay, st.m0, st.m1)) else Nil
            (SurgeState(-1L, 0L, db, b, b), closed)
          }
        } else {
          val closed = if (st.m0 >= 0L)
            Seq(SurgeIsland(et, st.islandDay, st.m0, st.m1)) else Nil
          (SurgeState(-1L, 0L, -1L, -1L, -1L), closed)
        }
      }
    }
    orderedPerKeyBy[String, SurgeState, SurgeIsland](df, slack, empty)(_._4)(
      apply = { (et, e, st) =>
        val m = microsOf(e._2) / BktUs
        if (st.curM == m) (st.copy(n = st.n + 1L), Nil)
        else {
          // replay order ⇒ m > curM: finalize the closed bucket first
          val (s2, out) = finalize(et, st)
          (s2.copy(curM = m, n = 1L), out)
        }
      },
      onWatermark = Some { (et, wm, st) =>
        // finalize the open bucket once the watermark clears its end…
        val (s2, out1) =
          if (st.curM >= 0L && wm > (st.curM + 1L) * BktMs + 1L)
            finalize(et, st)
          else (st, Nil)
        // …then close the open island once no consecutive successor
        // bucket can ever form (the wm cleared bucket m1+1's end and no
        // open bucket is pending at m1+1)
        if (s2.m0 >= 0L && s2.curM < 0L && wm > (s2.m1 + 2L) * BktMs + 1L)
          (s2.copy(islandDay = -1L, m0 = -1L, m1 = -1L),
            out1 :+ SurgeIsland(et, s2.islandDay, s2.m0, s2.m1))
        else (s2, out1)
      })
  }

  /** One closed day of the streaming CUSUM monitor — integer state only;
    * the final divisions/flag run through Temporal.q104Finish, identical
    * to batch (the q100/TWAP parity convention). */
  final case class CusumDay(event_type: String, day: Long, mi: Long,
      cusums: Long)
  /** Open day's accumulators + the running scaled CUSUM. */
  final case class CusumState(curDay: Long, sumMilli: Long, n: Long,
      cusums: Long)

  /** Streaming twin of the q104 change-point scan — the live CUSUM
    * monitor. The batch query is two-pass (the deviation is against the
    * full-series mean), so the monitor takes the per-type reference
    * stats (nd = days, sm = Σ daily means — both exact integers) as
    * ingest catalog parameters, the surgeIslands/d08
    * stats-at-ingest posture: production fits them on the reference
    * window and monitors the live stream against them. Per-type state
    * is O(1): the open day's (Σ milli-value, count) plus the running
    * scaled CUSUM. A day closes when ordered replay crosses into a
    * later day or the watermark passes day end; closing folds
    * mi = round(Σ/n) and cusum += mi·nd − sm with the exact Spark
    * Round(double) semantics (BigDecimal.valueOf + HALF_UP), so the
    * emitted integers equal the batch aggregates bit-for-bit. */
  def cusumStream(df: DataFrame, refStats: Map[String, (Long, Long)],
      slack: String = "2 hours"): Dataset[CusumDay] =
    perBucket(df, slack, 86400000L, CusumState(-1L, 0L, 0L, 0L))(_.curDay)(
      (st, day, e) => st.copy(curDay = day,
        sumMilli = st.sumMilli + halfUp(e._5 * 1000), n = st.n + 1L),
      { (et, st) =>
        val (nd, sm) = refStats.getOrElse(et, (1L, 0L))
        val mi = roundDiv(st.sumMilli, st.n)
        val cus = st.cusums + (mi * nd - sm)
        (CusumState(-1L, 0L, 0L, cus), Seq(CusumDay(et, st.curDay, mi, cus)))
      })

  /** One closed day of the live Holt forecaster (q119's raw row): the
    * exact-milli daily mean and the forecast that was standing BEFORE
    * the day was seen (None for the series head). */
  final case class HoltDay(event_type: String, day: Long, mi: Long,
      f: Option[Double])
  final case class HoltState(curDay: Long, sumMilli: Long, n: Long,
      l: Double, b: Double, started: Boolean)

  /** Streaming twin of q119: a LIVE double-exponential forecaster. The
    * open day accumulates an exact integer (sum, count); when the
    * watermark closes the day the level/trend state advances with the
    * same α = 0.5, β = 0.25 exact-binary-fraction arithmetic as the
    * batch fold (bit-identical doubles), emitting the day with the
    * forecast that preceded it. Days close in order per type via the
    * ordered-replay harness, so the recursion sees the same sequence
    * the batch sort produces; q119Finish then runs over the emitted
    * rows — identical code to batch. */
  def holtStream(df: DataFrame, slack: String = "2 hours")
      : Dataset[HoltDay] =
    perBucket(df, slack, 86400000L,
      HoltState(-1L, 0L, 0L, 0.0, 0.0, false))(_.curDay)(
      (st, day, e) => st.copy(curDay = day,
        sumMilli = st.sumMilli + halfUp(e._5 * 1000), n = st.n + 1L),
      { (et, st) =>
        val mi = roundDiv(st.sumMilli, st.n)
        val m = mi.toDouble
        if (!st.started)
          (HoltState(-1L, 0L, 0L, m, 0.0, true),
            Seq(HoltDay(et, st.curDay, mi, None)))
        else {
          val f = st.l + st.b
          val lNew = 0.5 * m + 0.5 * (st.l + st.b)
          val bNew = 0.25 * (lNew - st.l) + 0.75 * st.b
          (HoltState(-1L, 0L, 0L, lNew, bNew, true),
            Seq(HoltDay(et, st.curDay, mi, Some(f))))
        }
      })

  /** One user's running rarity tally (q110's per-user row). */
  final case class RarityRow(user_id: Long, n_events: Long, sm: Long)

  /** Streaming twin of q110's per-user pass — the live UEBA score. The
    * surprise-weight cell table ((event_type, hour) → micro-nats)
    * arrives as an ingest catalog parameter (Security.q110Cells — the
    * stats-at-ingest posture); per-user state is two exact BIGINT
    * counters, commutative, so arrival order is irrelevant and no
    * reorder buffer is needed. Snapshots emit when the watermark passes
    * the timeline end; the top-20 board runs over them via the shared
    * Security.q110Rollup — bit-for-bit with batch. */
  def rarityStream(df: DataFrame, cells: Map[(String, Int), Long],
      endDay: Long, slack: String = "2 hours"): Dataset[RarityRow] =
    closeOnce[Ev, Long, (Long, Long), RarityRow](evRows(df, slack), _._2,
      _._1, _ => (endDay + 1L) * 86400000L, (0L, 0L))(
      (st, rows, _) => rows.foldLeft(st) { (s, e) =>
        val hod = ((microsOf(e._2) / 3600000000L) % 24L).toInt
        cells.get((e._4, hod)).fold(s)(w => (s._1 + 1L, s._2 + w))
      },
      (user, s) => Option.when(s._1 > 0L)(RarityRow(user, s._1, s._2)))

  /** One (user, event_type) pair's first-seen day (q112's row). */
  final case class FirstSeenRow(user_id: Long, event_type: String,
      first_day: Long)

  /** Streaming twin of q112's per-pair pass — live first-time-seen
    * tracking. The fold is a commutative min over the event day, so no
    * reorder buffer is needed; each (user, type) pair's state is one
    * BIGINT. Snapshots emit when the watermark passes `endDayExclusive`
    * (d1+1 — the beaconStream convention), and the daily novelty series
    * runs over them via the shared Security.q112Rollup — all-integer,
    * bit-for-bit with batch. (A production deployment would instead
    * emit each pair the FIRST time it appears — the alert path — and
    * fold the series incrementally; the snapshot form is the
    * batch-parity twin.) */
  def firstSeenStream(df: DataFrame, endDayExclusive: Long,
      slack: String = "2 hours"): Dataset[FirstSeenRow] =
    closeOnce[Ev, (Long, String), Long, FirstSeenRow](evRows(df, slack),
      _._2, e => (e._1, e._4), _ => endDayExclusive * 86400000L,
      Long.MaxValue)(
      (min, rows, _) => rows.foldLeft(min)((m, e) =>
        math.min(m, microsOf(e._2) / 86400000000L)),
      (key, min) => Some(FirstSeenRow(key._1, key._2, min)))

  /** One (feature, x, y) cell's closed count (q169's grid row). */
  final case class RelevanceCell(feature: String, x: String, y: Long,
      nxy: Long)

  /** Streaming twin of q169's cell pass — live feature-relevance
    * contingency counting. Both candidate features are row-local
    * projections of the standard event feed (weekday = epoch-day mod 7,
    * value band = q137's milli bin), evaluated in the select before
    * keying, so state per (feature, x, y) cell is ONE commutative
    * BIGINT counter bounded by the ≤(5·7 + 5·10)-cell GRID. Snapshots
    * emit when the watermark passes `endDayExclusive`; the MI/χ²/V
    * projection then runs over the emitted grid via
    * operators.Statistics.q169Finish — identical code to batch. */
  def relevanceStream(df: DataFrame, endDayExclusive: Long,
      slack: String = "2 hours"): Dataset[RelevanceCell] = {
    val DayUs = 86400000000L
    val cells = df.withWatermark("ts", slack)
      .select(col("event_type").as("x"), col("ts"),
        explode(array(
          struct(lit("weekday").as("feature"),
            expr(s"(unix_micros(ts) div ${DayUs}L) % 7").as("y")),
          struct(lit("value_band").as("feature"),
            greatest(least(
              expr("cast(round(value * 1000) as bigint) div 50000"),
              lit(9L)), lit(0L)).as("y")))).as("f"))
      .select(col("f.feature").as("feature"), col("x"), col("f.y").as("y"),
        col("ts"))
    closeOnce[(String, String, Long, Timestamp), (String, String, Long),
        Long, RelevanceCell](cells, _._4, r => (r._1, r._2, r._3),
      _ => endDayExclusive * 86400000L, 0L)(
      (n, rows, _) => n + rows.size,
      (key, n) => Some(RelevanceCell(key._1, key._2, key._3, n)))
  }

  /** One template's closed profile cell (q170's grid row). */
  final case class TemplateCell(template: String, n: Long, first_us: Long,
      last_us: Long, example: String)
  final case class TemplateState(n: Long, first_us: Long, last_us: Long,
      example: String)

  /** Streaming twin of q170's template rollup — live log-template
    * triage: the view a security pipeline wants AS lines land, not at
    * report time. Line composition + numeric masking are row-local
    * projections of the standard event feed (shared with batch via
    * operators.Security.q170Lines); state per template is one
    * (count, min-ts, max-ts, min-line) commutative cell bounded by the
    * TEMPLATE GRID — format strings, never corpus-sized. Snapshots emit
    * when the watermark passes `endDayExclusive`; the report projection
    * then runs via operators.Security.q170Finish — identical code to
    * batch, so OrderedReplaySpec pins bit-for-bit parity. */
  def templateStream(df: DataFrame, endDayExclusive: Long,
      slack: String = "2 hours"): Dataset[TemplateCell] = {
    val rows = graft.operators.Security
      .q170Lines(df.withWatermark("ts", slack))
      .select(col("template"), col("line"), col("us"), col("ts"))
    closeOnce[(String, String, Long, Timestamp), String, TemplateState,
        TemplateCell](rows, _._4, _._1, _ => endDayExclusive * 86400000L,
      TemplateState(0L, Long.MaxValue, Long.MinValue, "￿"))(
      (st, it, _) => it.foldLeft(st)((s, r) => TemplateState(s.n + 1L,
        math.min(s.first_us, r._3), math.max(s.last_us, r._3),
        if (r._2 < s.example) r._2 else s.example)),
      (key, s) => Some(TemplateCell(key, s.n, s.first_us, s.last_us,
        s.example)))
  }

  /** One (nation, year) cell's closed profit counters (q165's grid row). */
  final case class ProfitCell(n_name: String, o_year: Int, n_lines: Long,
      profit_cents: Long)
  final case class ProfitState(n: Long, cents: Long)

  /** Streaming twin of q165's per-cell pass — live profit tracking by
    * supplier nation and order year. The dimension enrichment (part
    * filter + supplier → nation) happens at ingest (the returnRateStream
    * feed posture), so state per (nation, year) cell is two commutative
    * BIGINT counters — no reorder buffer, state bounded by the
    * (nation × year) GRID. Snapshots emit when the watermark passes
    * `endDayExclusive`; Relational3.q165Finish then projects the report
    * over the emitted grid — identical code to batch.
    * Input columns: n_name, ts, o_year, profit_cents. */
  def profitStream(df: DataFrame, endDayExclusive: Long,
      slack: String = "2 hours"): Dataset[ProfitCell] =
    closeOnce[(String, Timestamp, Int, Long), (String, Int), ProfitState,
        ProfitCell](df.withWatermark("ts", slack)
        .select(col("n_name"), col("ts"), col("o_year"), col("profit_cents")),
      _._2, r => (r._1, r._3), _ => endDayExclusive * 86400000L,
      ProfitState(0L, 0L))(
      (st, rows, _) => rows.foldLeft(st)((s, r) =>
        ProfitState(s.n + 1L, s.cents + r._4)),
      (key, s) => Some(ProfitCell(key._1, key._2, s.n, s.cents)))

  /** One event type's closed DQ counters (q167's grid row). */
  final case class DqCounts(event_type: String, n: Long, n_range: Long,
      n_enum: Long, n_k: Long, n_user: Long)
  final case class DqState(n: Long, nRange: Long, nEnum: Long, nK: Long,
      nUser: Long)

  /** Streaming twin of q167's per-type pass — live expectation
    * monitoring over the event feed. Every rule flag is row-local
    * (range test, enum membership, payload regex, key sanity) and
    * evaluated in the select BEFORE keying, so state per event type is
    * five commutative BIGINT counters — arrival order irrelevant, no
    * reorder buffer, state bounded by the TYPE GRID (the
    * returnRateStream posture). Snapshots emit when the watermark
    * passes `endDayExclusive`; the rule report then runs over the
    * emitted grid via operators.Quality.q167Finish — identical code to
    * batch. Input columns: event_type, ts, value, user_id, props. */
  def dqStream(df: DataFrame, endDayExclusive: Long,
      slack: String = "2 hours"): Dataset[DqCounts] = {
    val flagged = df.withWatermark("ts", slack)
      .select(col("event_type"), col("ts"),
        when(col("value") > 0 && col("value") <= 400.0, 1L)
          .otherwise(0L).as("ok_range"),
        when(col("event_type")
          .isin("click", "view", "purchase", "signup", "error"), 1L)
          .otherwise(0L).as("ok_enum"),
        when(col("props").rlike("^\\{\"k\": -?[0-9]+\\}$"), 1L)
          .otherwise(0L).as("ok_k"),
        when(col("user_id") >= 0, 1L).otherwise(0L).as("ok_user"))
    closeOnce[(String, Timestamp, Long, Long, Long, Long), String, DqState,
        DqCounts](flagged, _._2, _._1, _ => endDayExclusive * 86400000L,
      DqState(0L, 0L, 0L, 0L, 0L))(
      (st, rows, _) => rows.foldLeft(st)((s, r) => DqState(s.n + 1L,
        s.nRange + r._3, s.nEnum + r._4, s.nK + r._5, s.nUser + r._6)),
      (key, s) => Some(DqCounts(key, s.n, s.nRange, s.nEnum, s.nK,
        s.nUser)))
  }

  /** One channel's closed gap statistics (q111's per-channel row). */
  final case class BeaconRow(user_id: Long, event_type: String,
      n_gaps: Long, sg: Long, sg2: Long)
  final case class BeaconState(lastUs: Long, n: Long, sg: Long, sg2: Long,
      done: Boolean)

  /** Streaming twin of q111's per-channel pass — the live beaconing
    * tracker. Keyed by (user, event_type); the inter-arrival gap
    * relation is order-sensitive, so the ordered-replay harness folds
    * each gap as exact integer seconds into (n, Σg, Σg²) — O(1) state
    * per channel. Snapshots emit when the watermark passes
    * `endDayExclusive` (first day AFTER the timeline — the halfCounts
    * d1+1 convention; a watermark past it proves every real row has
    * DRAINED from the reorder buffer, where a mid-last-day threshold
    * would close channels while their tail gaps were still held); the
    * CV ranking runs over them via the shared Security.q111Rollup —
    * bit-for-bit with batch. */
  def beaconStream(df: DataFrame, endDayExclusive: Long,
      slack: String = "2 hours")
      : Dataset[BeaconRow] = {
    val empty = BeaconState(-1L, 0L, 0L, 0L, done = false)
    orderedPerKeyBy[(Long, String), BeaconState, BeaconRow](df, slack,
      empty)(e => (e._1, e._4))(
      apply = { (key, e, st) =>
        if (st.done) (st, Nil)
        else {
          val t = microsOf(e._2)
          if (st.lastUs < 0L) (st.copy(lastUs = t), Nil)
          else {
            val g = (t - st.lastUs) / 1000000L
            (st.copy(lastUs = t, n = st.n + 1L, sg = st.sg + g,
              sg2 = st.sg2 + g * g), Nil)
          }
        }
      },
      onWatermark = Some { (key, wm, st) =>
        if (!st.done && st.n > 0L && wm > endDayExclusive * 86400000L + 1L)
          (st.copy(done = true),
            Seq(BeaconRow(key._1, key._2, st.n, st.sg, st.sg2)))
        else (st, Nil)
      })
  }

  /** One user's closed drawdown summary (q160's per-user row, sans the
    * derived dollar projection). */
  final case class DrawdownRow(user_id: Long, n_moves: Long,
      final_cents: Long, peak_cents: Long, max_dd_cents: Long)
  final case class DrawdownState(cum: Long, peak: Long, maxdd: Long,
      n: Long, done: Boolean)

  /** Streaming twin of q160's per-user pass — the live max-drawdown
    * tracker. The prefix-max recurrence is order-sensitive, so the
    * ordered-replay harness folds each signed cent move into O(1) state
    * per user (cum, peak, maxdd): cum += Δ; peak = max(peak, cum);
    * maxdd = max(maxdd, peak − cum) — exactly the batch window's
    * running columns, as exact BIGINTs. Snapshots emit when the
    * watermark passes `endDayExclusive` (the beaconStream close
    * convention: past the exclusive end every real row has drained from
    * the reorder buffer); q160's final projection over the snapshot is
    * then bit-for-bit with batch. */
  def drawdownStream(df: DataFrame, endDayExclusive: Long,
      slack: String = "2 hours"): Dataset[DrawdownRow] = {
    val empty = DrawdownState(0L, Long.MinValue, 0L, 0L, done = false)
    orderedPerKeyBy[Long, DrawdownState, DrawdownRow](df, slack, empty)(
      _._1)(
      apply = { (_, e, st) =>
        val et = e._4
        if (st.done || (et != "purchase" && et != "error")) (st, Nil)
        else {
          val cents = halfUp(e._5 * 100.0)
          val delta = if (et == "purchase") cents else -cents
          val cum = st.cum + delta
          val peak = math.max(st.peak, cum)
          val maxdd = math.max(st.maxdd, peak - cum)
          (DrawdownState(cum, peak, maxdd, st.n + 1L, done = false), Nil)
        }
      },
      onWatermark = Some { (key, wm, st) =>
        if (!st.done && st.n > 0L && wm > endDayExclusive * 86400000L + 1L)
          (st.copy(done = true),
            Seq(DrawdownRow(key, st.n, st.cum, st.peak, st.maxdd)))
        else (st, Nil)
      })
  }

  /** One exposed user's experiment outcome (q106's `per` table). */
  final case class AbUser(user_id: Long, conv: Long)
  final case class AbState(minViewUs: Long, purchases: Seq[Long])

  /** Streaming twin of q106's per-user pass — the live experiment
    * counter. State per user: the running min first-view time plus the
    * purchases still inside the live 24 h qualification window (a
    * purchase with p − t1 > 24 h can NEVER qualify later — t1 only
    * decreases, widening the gap — so it prunes immediately; while no
    * view has arrived, pending purchases older than the watermark prune
    * too, since any future view's event time is >= the watermark; state
    * is bounded by the per-user purchase rate × max(window, watermark
    * delay), the asofFwdStream pending-seq posture). Conversion is deliberately NOT decided
    * during replay: a late-arriving EARLIER view lowers t1 and can push
    * a previously-in-window purchase past 24 h, so the p > t1 ∧
    * p − t1 ≤ 24 h test runs once at close against the final t1.
    * Users with no view never emit (the exposed-population filter).
    * The arm split + z-score readout then runs over the emitted
    * snapshot via Behavioral.q106Rollup — identical code to batch. */
  def abStream(df: DataFrame, endDay: Long, slack: String = "2 hours")
      : Dataset[AbUser] = {
    val TolUs = 86400000000L
    closeOnce[Ev, Long, AbState, AbUser](evRows(df, slack), _._2, _._1,
      _ => (endDay + 1L) * 86400000L, AbState(Long.MaxValue, Nil))(
      (st, rows, wm) => {
        var minView = st.minViewUs
        var purch = st.purchases
        rows.foreach { e =>
          val t = microsOf(e._2)
          e._4 match {
            case "view" if t < minView =>
              minView = t
              purch = purch.filter(p => p - minView <= TolUs)
            case "purchase" if minView == Long.MaxValue ||
                t - minView <= TolUs =>
              purch = purch :+ t
            case _ => ()
          }
        }
        // a user with purchases but no view yet: any FUTURE view
        // arrives with event time >= the watermark (older rows are
        // dropped), so a pending purchase at p < wm can never
        // satisfy p >= t1 — prune it; pending state stays bounded
        // by purchase-rate × watermark delay, not stream lifetime
        if (minView == Long.MaxValue)
          AbState(minView, purch.filter(_ >= wm * 1000L))
        else AbState(minView, purch)
      },
      (user, s) => Option.when(s.minViewUs != Long.MaxValue) {
        val conv = s.purchases.exists(p =>
          p > s.minViewUs && p - s.minViewUs <= TolUs)
        AbUser(user, if (conv) 1L else 0L)
      })
  }

  /** One closed day of the transformWithState daily-mean twin. */
  final case class TwsDay(event_type: String, day: Long, mi: Long)

  /** q104Daily's (type, day, exact-milli mean) table on Spark 4's
    * `transformWithState` — the arbitrary-state successor to
    * flatMapGroupsWithState. The capability on display is MULTIPLE
    * LIVE EVENT-TIME TIMERS PER KEY: each day bucket registers its own
    * timer at the day's exclusive end, `MapState[day → (n, Σmilli)]`
    * absorbs rows commutatively in any arrival order, and
    * `handleExpiredTimer` emits a day exactly when the watermark
    * crosses it — no reorder buffer, no replay-crossover bookkeeping.
    * fMGWS offers ONE timeout per key, which is precisely why the
    * orderedPerKeyBy harness (cusumStream et al.) had to buffer and
    * replay to close buckets; for commutative-per-bucket shapes this
    * API retires that machinery. State is bounded by open days per
    * type (≤ slack horizon / day) and removed on emission.
    * transformWithState requires the RocksDB state store provider —
    * the production backend the repo already pins. */
  trait DailyMeanCells extends StatefulProcessor[String, Ev, TwsDay] {
    import org.apache.spark.sql.Encoders
    @transient protected var cells: MapState[Long, (Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cells = getHandle.getMapState[Long, (Long, Long)]("cells",
        Encoders.scalaLong,
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)

    /** Add `n` rows summing to `sumMilli` to `day`'s cell and arm the
      * day's close timer. */
    protected def absorb(day: Long, n: Long, sumMilli: Long): Unit = {
      val cur = if (cells.containsKey(day)) cells.getValue(day) else (0L, 0L)
      cells.updateValue(day, (cur._1 + n, cur._2 + sumMilli))
      getHandle.registerTimer((day + 1L) * 86400000L)
    }

    override def handleInputRows(key: String, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[TwsDay] = {
      rows.foreach(e => absorb(Math.floorDiv(microsOf(e._2), 86400000000L),
        1L, halfUp(e._5 * 1000)))
      Iterator.empty
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[TwsDay] = {
      val day = expiredTimerInfo.getExpiryTimeInMs / 86400000L - 1L
      if (cells.containsKey(day)) {
        val (n, sum) = cells.getValue(day)
        cells.removeKey(day)
        Iterator.single(TwsDay(key, day, roundDiv(sum, n)))
      } else Iterator.empty
    }
  }

  /** The live daily-mean processor; the warm-started variant below
    * shares every cell and handler with it. */
  class DailyMeanProcessor extends DailyMeanCells

  /** One warm-start cell for the initial-state variant: a day bucket's
    * accumulated (n, Σmilli) from batch history. */
  final case class SeedCell(event_type: String, day: Long, n: Long,
      sum_milli: Long)

  /** DailyMeanProcessor with BATCH WARM-START — the lambda→kappa
    * migration move: a new streaming job must not reprocess months of
    * history, so its state store boots from a batch-computed snapshot
    * (`handleInitialState` seeds the MapState cells AND re-registers
    * each open day's timer) and the stream picks up from the cutover
    * point. Seeded days close on the streamed watermark exactly like
    * live days — history and tail emit through one code path. */
  class DailyMeanSeededProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        String, Ev, TwsDay, SeedCell] with DailyMeanCells {
    override def handleInitialState(key: String, seed: SeedCell,
        timerValues: TimerValues): Unit =
      absorb(seed.day, seed.n, seed.sum_milli)
  }

  /** The warm-started transformWithState daily-mean twin: `seed` is the
    * batch-history cell snapshot; the stream carries only post-cutover
    * rows. */
  def dailyMeansTwsSeeded(df: DataFrame, seed: Dataset[SeedCell],
      slack: String = "2 hours"): Dataset[TwsDay] = {
    import Derived.encoder
    evRows(df, slack).as[Ev].groupByKey(_._4)
      .transformWithState(new DailyMeanSeededProcessor,
        TimeMode.EventTime(), OutputMode.Append(),
        seed.groupByKey(_.event_type))
  }

  /** The transformWithState daily-mean twin (see DailyMeanProcessor).
    * Input: the standard event columns. */
  def dailyMeansTws(df: DataFrame, slack: String = "2 hours")
      : Dataset[TwsDay] = {
    import Derived.encoder
    evRows(df, slack).as[Ev].groupByKey(_._4)
      .transformWithState(new DailyMeanProcessor, TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** One closed day of the sequential-A/B experiment grid. */
  final case class SeqAbCell(day: Long, na_d: Long, xa_d: Long,
      nb_d: Long, xb_d: Long)
  final case class SeqAbState(na: Long, xa: Long, nb: Long, xb: Long)

  /** Streaming twin of q184's day pass — the LIVE interim analysis a
    * group-sequential experiment actually runs: arm/conversion flags
    * are row-local md5 projections of the feed (shared with batch via
    * operators.Statistics.q184Flags), state per day is FOUR
    * commutative BIGINT counters bounded by the calendar, and each
    * day's cell emits when the watermark closes it — the
    * "could we stop yet?" readout then runs via q184Finish over the
    * closed grid, identical code to batch, bit-for-bit. */
  def seqAbStream(df: DataFrame, endDayExclusive: Long,
      slack: String = "2 hours"): Dataset[SeqAbCell] = {
    val rows = graft.operators.Statistics
      .q184Flags(df.withWatermark("ts", slack))
      .select(col("day"), col("is_a"), col("is_p"), col("ts"))
    closeOnce[(Long, Long, Long, Timestamp), Long, SeqAbState, SeqAbCell](
      rows, _._4, _._1, _ => endDayExclusive * 86400000L,
      SeqAbState(0L, 0L, 0L, 0L))(
      (st, it, _) => it.foldLeft(st) { (s, r) =>
        if (r._2 == 1L) s.copy(na = s.na + 1L, xa = s.xa + r._3)
        else s.copy(nb = s.nb + 1L, xb = s.xb + r._3)
      },
      (day, s) => Some(SeqAbCell(day, s.na, s.xa, s.nb, s.xb)))
  }

  /** One closed (type, day) live-distinct cell: the sketch estimate
    * plus the exact count the spec gates it against. */
  final case class DistinctCell(event_type: String, day: Long,
      est_users: Long)

  /** Live approximate distinct users per (type, day) with a MERGEABLE
    * SKETCH AS THE STATE VALUE — the streaming rendition of q67's HLL
    * rollup and the 100 TB live-distinct primitive: per-key state is a
    * fixed-size DataSketches HLL register array (the same library
    * behind Spark's hll_sketch_agg), folded commutatively as events
    * arrive in ANY order. Each (type, day) cell closes at its own day's
    * end, so a day's distinct-user estimate emits the moment the
    * watermark crosses it and its registers are removed — no per-user
    * state, no exact set, no end-of-timeline parameter. Unlike every
    * bit-parity twin, a sketch's ESTIMATE is implementation-defined, so
    * the gate is a tolerance spec (estimate within the lgK=14 error
    * envelope of the exact count — the q67/q164 convention). */
  def hllDistinctStream(df: DataFrame, slack: String = "2 hours")
      : Dataset[DistinctCell] = {
    import org.apache.datasketches.hll.HllSketch
    closeOnce[(String, Timestamp, Long), (String, Long), Array[Byte],
        DistinctCell](df.withWatermark("ts", slack)
        .select(col("event_type"), col("ts"), col("user_id")),
      _._2, r => (r._1, Math.floorDiv(microsOf(r._2), 86400000000L)),
      k => (k._2 + 1L) * 86400000L, Array.emptyByteArray)(
      (bytes, it, _) => {
        val sk =
          if (bytes.isEmpty) new HllSketch(14) else HllSketch.heapify(bytes)
        it.foreach(r => sk.update(r._3))
        sk.toUpdatableByteArray
      },
      (key, bytes) => Some(DistinctCell(key._1, key._2,
        Math.round(HllSketch.heapify(bytes).getEstimate))))
  }

  /** One type's live quantile snapshot (milli-unit values; n is exact —
    * the sketch tracks its update count precisely). */
  final case class QuantileCell(event_type: String, n: Long,
      p50_milli: Long, p90_milli: Long, p99_milli: Long)

  /** Live quantile monitor — q86's GK posture carried into streaming
    * state, and the second sketch-state twin beside hllDistinctStream:
    * per event_type the state is a serialized KLL doubles sketch
    * (DataSketches, k=200 ⇒ ~1.7% normalized rank error) folded as
    * values arrive in ANY order; p50/p90/p99 emit once when the
    * watermark passes the timeline end. At 100 TB this is the only
    * way to watch a latency/value distribution live: per-key state is
    * a few KB regardless of event volume, where an exact percentile
    * would buffer the stream. Estimates are implementation-defined
    * (update-order-sensitive internals), so the parity gate is the
    * q67/q164 tolerance convention: OrderedReplaySpec pins each
    * estimate's TRUE rank within the sketch's error bound of its
    * target rank, and n exactly equal to the batch count. */
  def kllQuantileStream(df: DataFrame, endDayExclusive: Long,
      slack: String = "2 hours"): Dataset[QuantileCell] = {
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    def heapify(bytes: Array[Byte]) =
      if (bytes.isEmpty) KllDoublesSketch.newHeapInstance(200)
      else KllDoublesSketch.heapify(Memory.wrap(bytes))
    closeOnce[(String, Timestamp, Long), String, Array[Byte], QuantileCell](
      df.withWatermark("ts", slack).select(col("event_type"), col("ts"),
        expr("cast(round(value * 1000) as bigint)").as("vm")),
      _._2, _._1, _ => endDayExclusive * 86400000L, Array.emptyByteArray)(
      (bytes, it, _) => {
        val sk = heapify(bytes)
        it.foreach(r => sk.update(r._3.toDouble))
        sk.toByteArray
      },
      (key, bytes) => {
        val sk = heapify(bytes)
        Some(QuantileCell(key, sk.getN, Math.round(sk.getQuantile(0.5)),
          Math.round(sk.getQuantile(0.9)), Math.round(sk.getQuantile(0.99))))
      })
  }

  /** One (type, day, minute, kind) concurrency cell (q83's grids —
    * kind "net" carries interval deltas, "start" the session count). */
  final case class ConcCell(event_type: String, day: Long, minute: Long,
      kind: String, n: Long)

  /** Streaming twin of q83's delta pass — live peak-concurrency
    * tracking. Each event explodes row-locally into its interval
    * endpoints (+1 at the start minute, −1 at the clipped end) plus a
    * session-start marker, so state per (type, day, minute, kind) cell
    * is ONE commutative BIGINT counter bounded by the calendar×1440
    * minute grid — the interval sweep never buffers an interval.
    * Snapshots emit when the watermark passes `endDayExclusive`; the
    * cum/peak readout then runs via operators.Behavioral.q83Finish —
    * identical code to batch, exact integers, bit-for-bit. */
  def concurrencyStream(df: DataFrame, endDayExclusive: Long,
      slack: String = "2 hours"): Dataset[ConcCell] = {
    val cells = df.withWatermark("ts", slack)
      .select(col("event_type"), col("ts"),
        expr("unix_micros(ts) div 60000000").as("m0"))
      .withColumn("day", expr("m0 div 1440"))
      .select(col("event_type"), col("ts"), col("day"),
        explode(array(
          struct(col("m0").as("minute"), lit(1L).as("d"),
            lit("net").as("kind")),
          struct(least(col("m0") + 30L, (col("day") + 1L) * 1440L)
            .as("minute"), lit(-1L).as("d"), lit("net").as("kind")),
          struct(lit(-1L).as("minute"), lit(1L).as("d"),
            lit("start").as("kind")))).as("c"))
      .filter(!(col("c.d") === -1L &&
        col("c.minute") === (col("day") + 1L) * 1440L))
      .select(col("event_type"), col("day"), col("c.minute").as("minute"),
        col("c.kind").as("kind"), col("c.d").as("d"), col("ts"))
    closeOnce[(String, Long, Long, String, Long, Timestamp),
        (String, Long, Long, String), Long, ConcCell](cells, _._6,
      r => (r._1, r._2, r._3, r._4), _ => endDayExclusive * 86400000L, 0L)(
      (n, rows, _) => n + rows.map(_._5).sum,
      (key, n) => Option.when(n != 0L)(
        ConcCell(key._1, key._2, key._3, key._4, n)))
  }

  /** One closed session of the transformWithState sessionize twin. */
  final case class TwsSession(user_id: Long, session_seq: Long,
      n_events: Long, first_event: Long)
  /** The open-session accumulator of SessionProcessor. `active = false`
    * marks a silence-closed machine that only remembers the NEXT
    * session_seq (q37's per-user counter keeps counting across
    * sessions, so the counter must outlive the session). */
  final case class TwsSessState(seq: Long, lastUs: Long, nEvents: Long,
      firstEvent: Long, active: Boolean)

  /** q37's gaps-and-islands sessionizer on Spark 4's
    * `transformWithState` — the state-v2 rendition of the ordered-
    * replay reorder buffer. The capability on display beyond
    * DailyMeanProcessor's MapState: `ListState.appendValue` absorbs
    * the out-of-order feed O(1) per row (fMGWS must rewrite the WHOLE
    * buffer Seq into its single state cell every batch — state-v2's
    * granular list appends retire that write amplification), a
    * `ValueState` carries the open-session machine, and one event-time
    * timer per key re-arms each batch to drain rows strictly below the
    * watermark in (ts, event_id) order. A session closes when the
    * drained successor's gap exceeds 10 minutes — or, via the same
    * timer, when the watermark passes last-event + gap with no
    * successor (the onWatermark close fMGWS needed the harness hook
    * for). Emissions carry exact integers only, so parity with batch
    * q37 is bit-for-bit. Requires the RocksDB provider. */
  class SessionProcessor
      extends StatefulProcessor[Long, Ev, TwsSession] {
    private val GapUs = 600L * 1000000L
    @transient private var buf: ListState[Ev] = _
    @transient private var open: ValueState[TwsSessState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[Ev]("buf", Derived.encoder[Ev],
        TTLConfig.NONE)
      open = getHandle.getValueState[TwsSessState]("open",
        Derived.encoder[TwsSessState], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[TwsSession] = {
      rows.foreach(buf.appendValue)
      // one wakeup per watermark advance (idempotent: same-expiry
      // re-registration collapses onto the existing timer)
      getHandle.registerTimer(timerValues.getCurrentWatermarkInMs() + 1L)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[TwsSession] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      val all = buf.get().toSeq
      // strict <: the orderedPerKey microsecond-boundary caveat
      val (ready, hold) = all.partition(_._2.getTime < wm)
      val out = Seq.newBuilder[TwsSession]
      var st: TwsSessState =
        if (open.exists()) open.get()
        else TwsSessState(1L, 0L, 0L, 0L, active = false)
      ready.sortBy(e => (e._2.getTime, e._2.getNanos, e._3)).foreach { e =>
        val us = microsOf(e._2)
        if (st.active && us - st.lastUs <= GapUs)
          st = st.copy(lastUs = us, nEvents = st.nEvents + 1L)
        else {
          if (st.active) {
            out += TwsSession(key, st.seq, st.nEvents, st.firstEvent)
            st = st.copy(seq = st.seq + 1L)
          }
          st = TwsSessState(st.seq, us, 1L, e._3, active = true)
        }
      }
      // no successor can precede the watermark anymore: a gap-width of
      // silence past the last event closes the session timer-side,
      // leaving only the counter behind
      if (st.active && wm * 1000L > st.lastUs + GapUs) {
        out += TwsSession(key, st.seq, st.nEvents, st.firstEvent)
        st = TwsSessState(st.seq + 1L, 0L, 0L, 0L, active = false)
      }
      buf.clear()
      hold.foreach(buf.appendValue)
      open.update(st)
      if (hold.nonEmpty || st.active)
        getHandle.registerTimer(wm + 1L)
      out.result().iterator
    }
  }

  /** The transformWithState sessionize twin (see SessionProcessor). */
  def sessionizeTws(df: DataFrame, slack: String = "2 hours")
      : Dataset[TwsSession] = {
    import Derived.encoder
    evRows(df, slack).as[Ev].groupByKey(_._1)
      .transformWithState(new SessionProcessor, TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** One user's closed time-to-event observation (q143's `durs` row). */
  final case class DurRow(user_id: Long, t: Long, ev: Long)
  final case class SurvState(minSignupUs: Long, minQualUs: Long,
      pending: Seq[Long])

  /** Streaming twin of q143's per-user duration pass — the live
    * time-to-event tracker behind the survival curve. State per user:
    * the running min first-signup time (set-on-min), the min purchase
    * time known to be ≥ that signup, and the abStream pending-seq
    * posture for purchases that arrived BEFORE any signup: a pending
    * purchase only qualifies if a yet-earlier signup arrives, and any
    * future signup's event time is ≥ the watermark, so pending entries
    * below the watermark prune — state stays bounded by purchase-rate ×
    * watermark delay. When a new min signup lands, qualifying pendings
    * promote into the min. Each user emits one (t, ev) observation at
    * watermark close: event duration to the first qualifying purchase,
    * or censored at the exclusive timeline end; users who never signed
    * up stay silent. The risk table + survival product then run over
    * the emitted user-sized table via operators.Statistics.q143Finish —
    * identical code to batch. */
  def survivalStream(df: DataFrame, d1: Long, slack: String = "2 hours")
      : Dataset[DurRow] = {
    val DayUs = 86400000000L
    closeOnce[Ev, Long, SurvState, DurRow](evRows(df, slack), _._2, _._1,
      _ => (d1 + 1L) * 86400000L,
      SurvState(Long.MaxValue, Long.MaxValue, Nil))(
      (st, rows, wm) => {
        var sg = st.minSignupUs; var q = st.minQualUs
        var pend = st.pending
        rows.foreach { e =>
          val t = microsOf(e._2)
          e._4 match {
            case "signup" if t < sg =>
              sg = t
              val (promote, keep) = pend.partition(_ >= sg)
              if (promote.nonEmpty) q = math.min(q, promote.min)
              pend = keep
            case "purchase" =>
              if (t >= sg) q = math.min(q, t)
              else pend = pend :+ t
            case _ => ()
          }
        }
        // a future signup arrives with event time >= the watermark,
        // so pending purchases below it can never qualify — prune
        SurvState(sg, q, pend.filter(_ >= wm * 1000L))
      },
      (user, s) => Option.when(s.minSignupUs != Long.MaxValue) {
        val ev = s.minQualUs != Long.MaxValue
        val end = if (ev) s.minQualUs else (d1 + 1L) * DayUs
        DurRow(user, Math.floorDiv(end - s.minSignupUs, DayUs),
          if (ev) 1L else 0L)
      })
  }

  /** One (event_type, value-bin) drift cell (q137's `grid` table). */
  final case class PsiCell(event_type: String, bin: Long, train_n: Long,
      serve_n: Long)
  final case class PsiState(trainN: Long, serveN: Long)

  /** Streaming twin of q137's histogram pass — the LIVE drift monitor:
    * the model-serving stack wants PSI against the training snapshot
    * continuously, not at retrain time. Keyed by (event_type, bin) —
    * state is two commutative counters per cell, bounded by the
    * types × 10-bin GRID (a catalog constant), the smallest state shape
    * in the twin roster beside returnRateStream's brand grid. The
    * train/serve boundary (d0, d1 timeline span) arrives as ingest
    * catalog parameters (the q90/q104 convention — the batch query
    * reads the same span from its single-column scan). Cells emit once
    * when the watermark passes the timeline end, and the smoothed
    * ln-contribution report runs over the emitted grid via
    * operators.Statistics.q137Finish — identical code to batch.
    *
    * Input: the standard event columns (event_type, ts, value). */
  def psiStream(df: DataFrame, d0: Long, d1: Long,
      slack: String = "2 hours"): Dataset[PsiCell] = {
    val mid = (d0 + d1 + 1) / 2
    closeOnce[(String, Timestamp, Long), (String, Long), PsiState, PsiCell](
      df.withWatermark("ts", slack).select(col("event_type"), col("ts"),
        greatest(least(
          expr("cast(round(value * 1000) as bigint) div 50000"),
          lit(9L)), lit(0L)).as("bin")),
      _._2, r => (r._1, r._3), _ => (d1 + 1L) * 86400000L,
      PsiState(0L, 0L))(
      (st, rows, _) => rows.foldLeft(st) { (s, r) =>
        if (microsOf(r._2) / 86400000000L < mid) s.copy(trainN = s.trainN + 1L)
        else s.copy(serveN = s.serveN + 1L)
      },
      (key, s) => Some(PsiCell(key._1, key._2, s.trainN, s.serveN)))
  }

  /** One contingency cell's running count (q148's `obs` grid). */
  final case class ContingencyCell(l_returnflag: String,
      l_linestatus: String, o: Long)

  /** Streaming twin of q148's contingency pass — the LIVE
    * categorical-independence monitor: a data-quality gate wants the
    * return-flag × line-status chi-square continuously as snapshots
    * land, not at audit time. Keyed by the (flag, status) cell; state
    * is ONE commutative counter per cell, bounded by the R×C grid (a
    * catalog constant) — tied with psiStream for the smallest state
    * shape in the twin roster. Cells emit once when the watermark
    * passes `endDay` (max ship day, the catalog-at-ingest stat), and
    * the marginals/expected/chi-square projection then runs over the
    * emitted grid via operators.Statistics.q148Finish — identical
    * code to batch, so the twin is bit-for-bit.
    *
    * Input columns: l_returnflag, l_linestatus, ts (ship timestamp). */
  def chiSquareStream(df: DataFrame, endDay: Long,
      slack: String = "2 hours"): Dataset[ContingencyCell] =
    closeOnce[(String, String, Timestamp), (String, String), Long,
        ContingencyCell](df.withWatermark("ts", slack)
        .select("l_returnflag", "l_linestatus", "ts"),
      _._3, r => (r._1, r._2), _ => (endDay + 1L) * 86400000L, 0L)(
      (n, rows, _) => n + rows.size,
      (key, n) => Some(ContingencyCell(key._1, key._2, n)))

  /** One calendar cell's running revenue (q147/q154's shared grid). */
  final case class DayRevCell(event_type: String, day: Long, c: Long)

  /** Streaming builder of the (event_type, day) daily-revenue calendar
    * grid — ONE stream feeding TWO batch readouts: q147's Theil-Sen
    * robust trend and q154's sample ACF both consume exactly this grid,
    * so a single keyed state (one commutative exact-cents counter per
    * calendar cell, bounded by types × days — the dailyMean posture)
    * keeps both the live trend estimate and the live rhythm diagnostic
    * current. Cells emit once when the watermark passes `endDay`; the
    * pairwise-slope / lag-pairing projections then run over the emitted
    * calendar-sized grid via operators.Statistics.q147Finish /
    * q154Finish — identical code to batch, so both twins are
    * bit-for-bit.
    *
    * Input columns: event_type, ts, cents (exact BIGINT). */
  def dailyRevenueStream(df: DataFrame, endDay: Long,
      slack: String = "2 hours"): Dataset[DayRevCell] =
    closeOnce[(String, Timestamp, Long), (String, Long), Long, DayRevCell](
      df.withWatermark("ts", slack).select("event_type", "ts", "cents"),
      _._2, r => (r._1, Math.floorDiv(microsOf(r._2), 86400000000L)),
      _ => (endDay + 1L) * 86400000L, 0L)(
      (c, rows, _) => c + rows.map(_._3).sum,
      (key, c) => Some(DayRevCell(key._1, key._2, c)))

  /** One value-histogram bin's running group counts (q149's `h` grid). */
  final case class MwBin(vm: Long, n1: Long, n2: Long)
  final case class MwState(n1: Long, n2: Long)

  /** Streaming twin of q149's histogram pass — the LIVE Mann-Whitney
    * rank-sum monitor: an experimentation stack wants the
    * purchase-vs-click value comparison continuously as events land,
    * not at readout time. Keyed by the milli-unit value bin; state is
    * TWO commutative counters per bin, bounded by the value DOMAIN
    * (the q50/q54 histogram posture) — arrival order is irrelevant, so
    * no reorder buffer. Bins emit once when the watermark passes
    * `endDay`; the tied-rank/U/z/effect projection then runs over the
    * emitted histogram via operators.Statistics.q149Finish — identical
    * code to batch, so the twin is bit-for-bit. Rows whose `grp` is
    * neither 1 (purchase) nor 0 (click) count nowhere: a bin holding
    * only such rows closes as a (0, 0) cell, which every q149Finish
    * aggregate treats as exact zeros; rows past `endDay` (harness
    * sentinels) form no bin at all (see closeOnce).
    *
    * The same histogram is q188's twin, the LIVE two-sample
    * Kolmogorov–Smirnov monitor: the KS supremum folds over exactly
    * these counters, so one state store serves both the location test
    * (rank-sum) and the whole-distribution test (KS). The D/λ/p
    * projection runs via operators.Statistics.q188Finish — identical
    * code to batch; (0, 0) sentinel bins are inert (see q188Finish's
    * scaladoc).
    *
    * Input columns: vm (BIGINT milli-value bin), grp (1 purchase /
    * 0 click / anything else ignored), ts. */
  def mannWhitneyStream(df: DataFrame, endDay: Long,
      slack: String = "2 hours"): Dataset[MwBin] =
    closeOnce[(Long, Int, Timestamp), Long, MwState, MwBin](
      df.withWatermark("ts", slack).select("vm", "grp", "ts"),
      _._3, _._1, _ => (endDay + 1L) * 86400000L, MwState(0L, 0L))(
      (st, rows, _) => rows.foldLeft(st) { (s, r) =>
        if (r._2 == 1) s.copy(n1 = s.n1 + 1L)
        else if (r._2 == 0) s.copy(n2 = s.n2 + 1L)
        else s
      },
      (key, s) => Some(MwBin(key, s.n1, s.n2)))

  /** One closed order's SLA observation (q131's `j` table). */
  final case class SlaGap(o_orderpriority: String, gap_days: Long)
  final case class SlaState(openUs: Long, priority: String,
      lastShipUs: Long)

  /** Streaming twin of q131's per-order pass — live SLA attainment.
    * Order-open events (kind 0, carrying the priority) and line-ship
    * events (kind 1) fan into ONE keyed stream on the order key; state
    * per order is O(1) and fully commutative: a set-once open
    * timestamp + priority, and a running max over ship timestamps, so
    * no reorder buffer is needed and arrival order (opens after ships,
    * interleaved lines) is irrelevant. Each order emits its
    * (priority, gap_days) observation once, when the watermark passes
    * `endDay` (the corpus max ship day — the catalog-at-ingest stat);
    * orders that never saw both an open and a ship stay silent (the
    * batch inner-join semantics). The bucketed attainment rollup then
    * runs over the emitted orders-sized table via
    * operators.Relational3.q131Finish — identical code to batch.
    *
    * Input columns: o_orderkey, ts, kind (0 open / 1 ship), priority. */
  def slaStream(df: DataFrame, endDay: Long, slack: String = "2 hours")
      : Dataset[SlaGap] =
    closeOnce[(Long, Timestamp, Int, String), Long, SlaState, SlaGap](
      df.withWatermark("ts", slack)
        .select("o_orderkey", "ts", "kind", "priority"),
      _._2, _._1, _ => (endDay + 1L) * 86400000L,
      SlaState(Long.MinValue, "", Long.MinValue))(
      (st, rows, _) => rows.foldLeft(st) { (s, r) =>
        val t = microsOf(r._2)
        if (r._3 == 0) s.copy(openUs = t, priority = r._4)
        else s.copy(lastShipUs = math.max(s.lastShipUs, t))
      },
      (_, s) => Option.when(s.openUs != Long.MinValue &&
          s.lastShipUs != Long.MinValue)(
        SlaGap(s.priority, (s.lastShipUs - s.openUs) / 86400000000L)))

  /** One brand's running return counters (q136's `brands` grid). */
  final case class BrandCounts(p_brand: String, n_lines: Long,
      n_returned: Long, cents: Long, ret_cents: Long)
  final case class BrandState(n: Long, ret: Long, cents: Long,
      retCents: Long)

  /** Streaming twin of q136's per-brand pass — live return-rate QC.
    * State per brand is four exact BIGINT counters (line count,
    * returned count, cents, returned cents), all commutative sums, so
    * arrival order is irrelevant and state is bounded by the BRAND
    * GRID (a catalog-sized dimension), not line volume — the tightest
    * state shape in the twin roster. Snapshots emit when the watermark
    * passes `endDay` (max ship day, the catalog-at-ingest stat), and
    * the baseline-deviation projection then runs over the emitted
    * brand-grid table via operators.Relational3.q136Finish — identical
    * code to batch.
    *
    * Input columns: p_brand, ts, ret (0/1), cc (exact cents). */
  def returnRateStream(df: DataFrame, endDay: Long,
      slack: String = "2 hours"): Dataset[BrandCounts] =
    closeOnce[(String, Timestamp, Long, Long), String, BrandState,
        BrandCounts](df.withWatermark("ts", slack)
        .select("p_brand", "ts", "ret", "cc"),
      _._2, _._1, _ => (endDay + 1L) * 86400000L,
      BrandState(0L, 0L, 0L, 0L))(
      (st, rows, _) => rows.foldLeft(st) { (s, r) =>
        if (r._3 == 1L) BrandState(s.n + 1L, s.ret + 1L, s.cents + r._4,
          s.retCents + r._4)
        else s.copy(n = s.n + 1L, cents = s.cents + r._4)
      },
      (brand, s) => Some(BrandCounts(brand, s.n, s.ret, s.cents,
        s.retCents)))

  /** Per-customer running RFM state (q102's `per` table). */
  final case class RfmRow(o_custkey: Long, rec_days: Long, freq: Long,
      mon_cents: Long)
  final case class RfmState(lastDay: Long, freq: Long, cents: Long)

  /** Streaming twin of q102's per-customer pass: recency/frequency/
    * monetary folded as O(1) state per customer — max order day, an
    * order counter, and an exact BIGINT cents total, all commutative, so
    * no reorder buffer is needed and arrival order is irrelevant. The
    * snapshot emits once per customer when the watermark passes
    * `endDay` (the corpus max order day — the same catalog-at-ingest
    * stat the batch query takes from its single-column span scan), and
    * the banding + rollup then run over the emitted customers-sized
    * table via Behavioral.q102Rollup — identical code to batch.
    *
    * Input columns: o_custkey, ts (order timestamp), cents. */
  def rfmStream(df: DataFrame, endDay: Long, slack: String = "2 hours")
      : Dataset[RfmRow] =
    closeOnce[(Long, Timestamp, Long), Long, RfmState, RfmRow](
      df.withWatermark("ts", slack).select("o_custkey", "ts", "cents"),
      _._2, _._1, _ => (endDay + 1L) * 86400000L,
      RfmState(Long.MinValue, 0L, 0L))(
      (st, rows, _) => rows.foldLeft(st)((s, r) => RfmState(
        math.max(s.lastDay, microsOf(r._2) / 86400000000L), s.freq + 1L,
        s.cents + r._3)),
      (cust, s) => Some(RfmRow(cust, endDay - s.lastDay, s.freq, s.cents)))

  /** One (customer, order-month) accumulator cell (q103's `custMonth`
    * table): cm = the customer's cohort month, om = the order month. */
  final case class CustMonth(o_custkey: Long, cm: Long, om: Long, n: Long,
      mcents: Long)

  /** Streaming twin of q103's per-customer pass: each customer's order
    * history folds into a month → (order count, exact BIGINT cents)
    * map, state bounded by the CALENDAR (months in the timeline), not
    * order volume. The fold is commutative, so arrival order within the
    * watermark contract is irrelevant; the cohort month is resolved at
    * close as the minimum month seen (no ordering assumption on which
    * order arrives first). Snapshots emit when the watermark passes
    * `endDay` (the corpus max order day — the catalog-at-ingest stat),
    * and the cohort/age rollup then runs over the emitted table via
    * Behavioral.q103Rollup — identical code to batch.
    *
    * Input columns: o_custkey, ts (order timestamp), cents. */
  def cohortStream(df: DataFrame, endDay: Long, slack: String = "2 hours")
      : Dataset[CustMonth] =
    closeOnce[(Long, Timestamp, Long), Long, Seq[(Long, Long, Long)],
        CustMonth](df.withWatermark("ts", slack)
        .select("o_custkey", "ts", "cents"),
      _._2, _._1, _ => (endDay + 1L) * 86400000L, Nil)(
      (months, rows, _) => {
        val acc = scala.collection.mutable.LinkedHashMap
          .from(months.map(m => m._1 -> (m._2, m._3)))
        rows.foreach { r =>
          val c = java.util.Calendar.getInstance(
            java.util.TimeZone.getTimeZone("UTC"))
          c.setTimeInMillis(r._2.getTime)
          val om = (c.get(java.util.Calendar.YEAR) * 12
            + c.get(java.util.Calendar.MONTH) + 1).toLong
          val (n0, s0) = acc.getOrElse(om, (0L, 0L))
          acc(om) = (n0 + 1L, s0 + r._3)
        }
        acc.iterator.map(kv => (kv._1, kv._2._1, kv._2._2)).toSeq
      },
      (cust, months) => {
        val cm = months.iterator.map(_._1).min
        months.map(m => CustMonth(cust, cm, m._1, m._2, m._3))
      })

  /** Per-user event counts in each timeline half (q85's `wide` table). */
  final case class HalfCounts(user_id: Long, c1: Long, c2: Long)
  final case class HalfState(c1: Long, c2: Long)

  /** Streaming twin of q85's volume-proportional half: per-user event
    * counts before/after `splitDay`, emitted once when the watermark
    * passes `endDay` (both day parameters are timeline stats — the
    * catalog-at-ingest posture the batch query documents for its min/max
    * span agg). Counting is commutative, so no reorder buffer is needed:
    * state is exactly two counters per user, updated on arrival order.
    * The decile cross-tab then runs over the emitted user-sized snapshot
    * via Behavioral.q85DecileCrossTab — identical code to batch. */
  def halfCountsStream(df: DataFrame, splitDay: Long, endDay: Long,
      slack: String = "2 hours"): Dataset[HalfCounts] =
    closeOnce[Ev, Long, HalfState, HalfCounts](evRows(df, slack), _._2,
      _._1, _ => (endDay + 1L) * 86400000L, HalfState(0L, 0L))(
      (st, rows, _) => rows.foldLeft(st) { (s, e) =>
        if (microsOf(e._2) / 86400000000L < splitDay) s.copy(c1 = s.c1 + 1L)
        else s.copy(c2 = s.c2 + 1L)
      },
      (user, s) => Some(HalfCounts(user, s.c1, s.c2)))

  /** One closed hour of the live SLO monitor (q128's grid cell). */
  final case class HourCounts(hour: Long, errs: Long, total: Long)
  final case class HourState(errs: Long, total: Long)

  /** Streaming twin of q128's hourly grid: the live burn-rate monitor.
    * State per hour is TWO commutative BIGINT counters; each hour
    * emits once when the watermark passes its EXCLUSIVE end
    * (progressive close, the basketStream shape at hour grain — a
    * production deployment keys by (service, hour); the corpus has one
    * logical service). The multi-window burn/page computation runs
    * over the closed hours via Security.q128Finish — identical code to
    * batch. */
  def burnRateStream(df: DataFrame, slack: String = "2 hours")
      : Dataset[HourCounts] =
    closeOnce[Ev, Long, HourState, HourCounts](evRows(df, slack), _._2,
      e => microsOf(e._2) / 3600000000L, hour => (hour + 1L) * 3600000L,
      HourState(0L, 0L))(
      (st, rows, _) => rows.foldLeft(st)((s, e) => HourState(
        s.errs + (if (e._4 == "error") 1L else 0L), s.total + 1L)),
      (hour, s) => Some(HourCounts(hour, s.errs, s.total)))

  /** One brand's period totals for the live revenue bridge (q118's
    * pivot row): exact BIGINT quantity/cents per compared year. */
  final case class BridgeRow(p_brand: String, q1: Long, c1: Long,
      q2: Long, c2: Long)
  final case class BridgeState(q1: Long, c1: Long, q2: Long, c2: Long)

  /** Streaming twin of q118: the live price-volume bridge. Input rows
    * are brand-enriched line items (the dimension lookup happens at
    * ingest — broadcast join against the part/orders dims, the
    * documented enrichment posture); per-brand state is FOUR exact
    * BIGINT counters split by the compared years, all commutative, so
    * arrival order is irrelevant. Snapshots emit when the watermark
    * passes `endDay`, and the bridge arithmetic runs over the
    * brand-sized table via Relational3.q118Finish — identical code to
    * batch.
    *
    * Input columns: p_brand, ts (order timestamp), qc, cc. */
  def bridgeStream(df: DataFrame, y1: Int, y2: Int, endDay: Long,
      slack: String = "2 hours"): Dataset[BridgeRow] =
    closeOnce[(String, Timestamp, Long, Long), String, BridgeState,
        BridgeRow](df.withWatermark("ts", slack)
        .select("p_brand", "ts", "qc", "cc"),
      _._2, _._1, _ => (endDay + 1L) * 86400000L,
      BridgeState(0L, 0L, 0L, 0L))(
      (st, rows, _) => rows.foldLeft(st) { (s, r) =>
        val yr = java.time.Instant.ofEpochSecond(microsOf(r._2) / 1000000L)
          .atZone(java.time.ZoneOffset.UTC).getYear
        if (yr == y1) s.copy(q1 = s.q1 + r._3, c1 = s.c1 + r._4)
        else if (yr == y2) s.copy(q2 = s.q2 + r._3, c2 = s.c2 + r._4)
        else s
      },
      (brand, s) => Some(BridgeRow(brand, s.q1, s.c1, s.q2, s.c2)))

  /** One order's lifecycle for the live backlog (q122's per-order
    * row): open day + the day AFTER its last observed ship (None if
    * nothing shipped). */
  final case class OrderLife(o_orderkey: Long, open_day: Long,
      close_day: Option[Long])
  final case class OrderLifeState(openUs: Long, maxShipUs: Long)

  /** Streaming twin of q122: the live order-backlog tracker. The feed
    * interleaves order-open rows and line-ship rows keyed by order;
    * per-order state is TWO Longs — the open timestamp and the max
    * ship timestamp seen — both commutative folds, so arrival order
    * (even ships before their open row) is irrelevant. Snapshots emit
    * when the watermark passes `endDay`; the delta/cumulative series
    * then runs via Relational3.q122Rollup — identical code to batch.
    * (A production tracker would also emit provisional +1 deltas on
    * open for the live gauge; the snapshot path is the parity
    * surface.)
    *
    * Input columns: kind ('open' | 'ship'), o_orderkey, ts. */
  def backlogStream(df: DataFrame, endDay: Long,
      slack: String = "2 hours"): Dataset[OrderLife] = {
    val DayUs = 86400000000L
    closeOnce[(String, Long, Timestamp), Long, OrderLifeState, OrderLife](
      df.withWatermark("ts", slack).select("kind", "o_orderkey", "ts"),
      _._3, _._2, _ => (endDay + 1L) * 86400000L,
      OrderLifeState(Long.MinValue, Long.MinValue))(
      (st, rows, _) => rows.foldLeft(st) { (s, r) =>
        val us = microsOf(r._3)
        if (r._1 == "open") s.copy(openUs = us)
        else if (r._1 == "ship") s.copy(maxShipUs = math.max(s.maxShipUs, us))
        else s
      },
      (okey, s) => Some(OrderLife(okey, s.openUs / DayUs,
        if (s.maxShipUs == Long.MinValue) None
        else Some(s.maxShipUs / DayUs + 1L))))
  }

  /** One closed (user, day) basket as an event-type bitmask (q116's
    * distinct basket membership, packed). */
  final case class BasketRow(user_id: Long, day: Long, mask: Long)

  /** Streaming twin of q116's basket construction: per-(user, day)
    * state is ONE Long — a bitmask over the event-type taxonomy
    * (`typeIndex`, a catalog stat fitted at ingest; taxonomies are
    * single digits to hundreds, never data-sized). The fold is a
    * commutative OR, so arrival order is irrelevant and duplicate
    * events are absorbed for free — the streaming form of the batch
    * DISTINCT. Each basket emits once when the watermark passes the
    * EXCLUSIVE end of its own day (progressive per-day close, not a
    * timeline-end snapshot), after which the association rollup runs
    * over the emitted baskets via Behavioral.q116Rollup — identical
    * code to batch. */
  def basketStream(df: DataFrame, typeIndex: Map[String, Int],
      slack: String = "2 hours"): Dataset[BasketRow] = {
    val idx = df.sparkSession.sparkContext.broadcast(typeIndex)
    closeOnce[(Long, Timestamp, String), (Long, Long), Long, BasketRow](
      df.withWatermark("ts", slack).select("user_id", "ts", "event_type"),
      _._2, r => (r._1, microsOf(r._2) / 86400000000L),
      key => (key._2 + 1L) * 86400000L, 0L)(
      (mask, rows, _) => rows.foldLeft(mask)((m, r) =>
        idx.value.get(r._3).fold(m)(i => m | (1L << i))),
      (key, mask) => Some(BasketRow(key._1, key._2, mask)))
  }
}
