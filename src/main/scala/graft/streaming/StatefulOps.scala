package graft.streaming

import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

import graft.core.{EventEnvelope, Stamp}

/** One fired window: its id, the merged stamp of its member events
  * (min start / max end — reference NewEventFromOthers,
  * pkg/events/timestamper.go:22-50), and the member contents in order.
  */
final case class WindowBatch[T](windowId: Long, stamp: Stamp, events: Seq[T])

/** Internal state of the counting-window processor. `seen` = total events
  * ever received; `head` = global index of buf(0); `win` = next window id
  * to fire. Gap events of skipping windows (shift > n) are dropped at
  * arrival (reference: updateSelectionForBuffer advancing past pre-window
  * events, selection_policy.go:583-596).
  */
final case class CountingState[T](
    seen: Long, head: Long, win: Long, buf: Seq[EventEnvelope[T]])

/** Envelope + projected event-time column: the multi-input gapless
  * fan-in watermarks each branch on `event_time` (= stamp.start_time),
  * and Spark's event-time-timeout check requires that watermarked column
  * to flow into the stateful operator itself.
  */
final case class WatermarkedEnvelope[T](
    stamp: Stamp, content: T, event_time: java.sql.Timestamp)

/** State of the gapless temporal sequencer: window-grid origin (ms), the
  * next WINDOW index not yet emitted (window b starts at
  * origin + b * slide — slide-multiples, not length-multiples), the max
  * event time seen (the data-driven punctuation mark), and the buffered
  * events still visible to unemitted windows.
  */
final case class GaplessState[T](
    originMs: Long, nextBucket: Long, maxSeenMs: Long,
    buf: Seq[EventEnvelope[T]])

/** One finalized heavy-hitter: window id (epoch-seconds of window
  * start), 1-based rank (ordered by count desc, then value asc — a total
  * deterministic order), the value, and its exact in-window count.
  */
final case class TopKRow(windowId: Long, rank: Int, value: String, n: Long)

/** State of the per-key streaming EWMA: events not yet released by the
  * watermark as (tsMs, seq, value), the running average, alert total,
  * and how many events have been folded (0 = the next folded event
  * initializes the average).
  */
final case class EwmaState(
    pending: Seq[(Long, Long, Double)],
    ewma: Double, alerts: Long, nProcessed: Long)

/** One fold step of the streaming EWMA, emitted per processed event in
  * fold order: the event's time/sequence/value, the average AFTER
  * folding it, whether it fired the burst alert, and the per-key fold
  * position (1-based).
  */
final case class EwmaUpdate(key: String, tsMs: Long, seq: Long,
    value: Double, ewma: Double, alert: Boolean, n: Long)

/** The genuinely custom stateful operators — the reference semantics
  * Spark has no built-in for (SURVEY §7.3):
  *  - the window sequencers: counting windows with arbitrary slide
  *    (`countingWindows`, `countingWindowsByKey`) and gapless temporal
  *    windows over one input or a fan-in (`temporalBatchesGapless`,
  *    `…ByKey`, `…Multi`, `…MultiByKey`);
  *  - per-window top-k heavy hitters (`topKByWindow`);
  *  - the per-key streaming EWMA with burst alerts (`ewmaByKey`);
  *  - the streaming first-n Limit (`limit`).
  *
  * The six sequencer entry points are each one call into one of two
  * private cores: the counting core (`countingCore`) and the gapless
  * core (`gaplessCore`, whose punctuation mode — largest event time seen,
  * or the fan-in watermark — is set by the entry point). A core groups on
  * the constant 0 for the global variants and on the caller's key for
  * the keyed ones, so plans and state schemas match per variant.
  *
  * Scale stance: the GLOBAL versions key everything to one group — a
  * deliberate single-writer bottleneck matching the reference's
  * single-process semantics (a global "first 100 events" is inherently
  * sequential). The keyed variants partition by a user key and scale
  * horizontally; counting state per key is O(n + shift).
  */
object StatefulOps {

  /** Upper bound on windows the gapless sequencer will close in ONE
    * trigger. A gap of (length + MaxWindowsPerTrigger*slide) ms between
    * consecutive events — ~11.5 days at 1 s slide — is treated as a
    * corrupt timestamp and fails the query instead of OOMing the
    * sequencer task on millions of buffered empty windows.
    */
  val MaxWindowsPerTrigger: Long = 1000000L

  /** Shared single-pass counting-window engine: ArrayBuffer accumulation
    * (amortized O(1) append — a Seq `:+` loop is O(n²) over a large
    * micro-batch) and ONE physical trim per invocation; per-window work
    * is the O(n) slice that materializes the fired window.
    */
  private def processCounting[T](n: Int, shift: Int,
      st: CountingState[T],
      incoming: Seq[EventEnvelope[T]]): (CountingState[T], Seq[WindowBatch[T]]) = {
    var seen = st.seen
    var win = st.win
    val acc = new mutable.ArrayBuffer[EventEnvelope[T]](
      st.buf.size + incoming.size)
    acc ++= st.buf
    // absolute index of acc(0); only advances at the final trim
    var head0 = st.head
    var headIsSet = acc.nonEmpty
    incoming.foreach { e =>
      val g = seen; seen += 1
      if (g >= win * shift) { // not a gap/late event
        if (!headIsSet) { head0 = g; headIsSet = true }
        acc += e
      }
    }
    val out = mutable.Buffer.empty[WindowBatch[T]]
    while (seen >= win * shift + n) {
      val off = (win * shift - head0).toInt
      val evs = acc.slice(off, off + n).toSeq
      out += WindowBatch(win, Stamp.mergeAll(evs.map(_.stamp)),
        evs.map(_.content))
      win += 1
    }
    // single physical GC: drop everything below the next window start
    val drop = math.min(acc.size.toLong,
      math.max(0L, win * shift - head0)).toInt
    val newBuf = if (drop == 0) acc.toSeq else acc.drop(drop).toSeq
    (CountingState(seen, head0 + drop, win, newBuf), out.toSeq)
  }

  /** How a window sequencer groups its input and shapes each fired
    * window: the group key of an event, and the output row of a window
    * fired for a key. The global variants group on the constant 0 and
    * emit the bare window; the keyed ones group on the caller's key and
    * emit (key, window).
    */
  private final case class Grouping[T, K, O](
      key: EventEnvelope[T] => K, emit: (K, WindowBatch[T]) => O)(
      implicit val encKey: Encoder[K], val encOut: Encoder[O])

  private def global[T: TypeTag]: Grouping[T, Int, WindowBatch[T]] =
    Grouping[T, Int, WindowBatch[T]](_ => 0, (_, w) => w)(
      Encoders.scalaInt, ExpressionEncoder())

  private def byKey[T: TypeTag](key: EventEnvelope[T] => String)
      : Grouping[T, String, (String, WindowBatch[T])] =
    Grouping[T, String, (String, WindowBatch[T])](key, (k, w) => k -> w)(
      Encoders.STRING, ExpressionEncoder())

  /** The counting core behind `countingWindows` and
    * `countingWindowsByKey`: one counting sequence per group of `g`.
    */
  private def countingCore[T: TypeTag, K, O](n: Int, shift: Int)(
      g: Grouping[T, K, O], ds: Dataset[EventEnvelope[T]]): Dataset[O] = {
    require(n > 0, s"n=$n must be positive")
    require(shift > 0, s"shift=$shift must be positive")
    implicit val encState: Encoder[CountingState[T]] =
      ExpressionEncoder[CountingState[T]]()
    import g.{encKey, encOut}
    val emit = g.emit

    ds.groupByKey(g.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: K, it: Iterator[EventEnvelope[T]],
         state: GroupState[CountingState[T]]) =>
          val st = state.getOption.getOrElse(
            CountingState[T](0L, 0L, 0L, Seq.empty))
          val incoming = it.toSeq.sortBy(_.stamp.start_time.getTime)
          val (newState, out) = processCounting(n, shift, st, incoming)
          state.update(newState)
          out.iterator.map(emit(k, _))
      }
  }

  /** Counting windows of size n sliding by shift over a single logical
    * stream (reference: CountingWindowPolicy, selection_policy.go:122-128,
    * 140-176). shift == n tumbles, shift < n re-delivers (overlap), shift
    * > n drops gap events — semantics pinned by
    * selection_policy_test.go:67-95. A window fires as soon as its n-th
    * event arrives (NextSelectionReady, :144-146).
    *
    * Events are processed in event-time order within each micro-batch
    * (the reference's sorted-stream repair, stream.go:279-319); events
    * arriving after their window has fired are skipped, like any late
    * event in the reference.
    */
  def countingWindows[T: TypeTag](n: Int, shift: Int)(
      ds: Dataset[EventEnvelope[T]]): Dataset[WindowBatch[T]] =
    countingCore(n, shift)(global[T], ds)

  /** Keyed counting windows — the horizontally scalable variant: one
    * independent counting window per key, state partitioned across
    * executors.
    */
  def countingWindowsByKey[T: TypeTag](n: Int, shift: Int)(
      key: EventEnvelope[T] => String)(
      ds: Dataset[EventEnvelope[T]]): Dataset[(String, WindowBatch[T])] =
    countingCore(n, shift)(byKey(key), ds)

  /** When the gapless core closes a window. Each entry point picks one;
    * no caller can.
    */
  private sealed trait Punctuation

  /** Single input: close windows on the largest event time seen so far
    * (less the allowed lateness); no timeout.
    */
  private case object MaxSeen extends Punctuation

  /** Fan-in: each input branch gets its own watermark, delayed by the
    * allowed lateness, BEFORE the union, so the query watermark is their
    * minimum. Windows close against that watermark, which advances
    * BETWEEN micro-batches, so every call re-arms an event-time timeout
    * at the next unemitted window end: windows fire once the watermark
    * passes them even if no input sends another event.
    */
  private case object FanIn extends Punctuation

  /** The gapless core behind the four `temporalBatchesGapless*` entry
    * points: one gapless window sequence per group of `g` over `inputs`,
    * closed as `punctuation` says. Window b spans
    * [origin + b*slide, + length).
    */
  private def gaplessCore[T: TypeTag, K, O](lengthMs: Long, slideMs: Long,
      origin: Option[Long], alignToEpoch: Boolean, latenessMs: Long,
      punctuation: Punctuation)(
      g: Grouping[T, K, O], inputs: Seq[Dataset[EventEnvelope[T]]])
      : Dataset[O] = {
    require(inputs.nonEmpty, "inputs: fan-in needs at least one input stream")
    require(slideMs >= 0,
      s"slideMs=$slideMs must be non-negative (0 = tumbling)")
    require(latenessMs >= 0,
      s"latenessMs=$latenessMs (allowedLateness) must be non-negative")
    require(lengthMs >= 1000, s"lengthMs=$lengthMs: sub-second windows " +
      "unsupported: windowId is epoch-seconds")
    val slide = if (slideMs == 0) lengthMs else slideMs
    require(slide >= 1000, s"slideMs=$slideMs: sub-second windows " +
      "unsupported: windowId is epoch-seconds")
    implicit val encState: Encoder[GaplessState[T]] =
      ExpressionEncoder[GaplessState[T]]()
    import g.{encKey, encOut}
    val key = g.key
    val emit = g.emit
    val fanIn = punctuation == FanIn

    def sequence[I](in: Dataset[I], envelope: I => EventEnvelope[T],
        timeout: GroupStateTimeout): Dataset[O] =
      in.groupByKey(i => key(envelope(i)))
        .flatMapGroupsWithState(OutputMode.Append, timeout) {
          (k: K, it: Iterator[I], state: GroupState[GaplessState[T]]) =>
            val wm =
              if (fanIn) Some(state.getCurrentWatermarkMs()) else None
            // fan-in lateness already rides the watermark delay, so the
            // close bound is not lowered a second time
            val out = processGapless(lengthMs, slide, origin, alignToEpoch,
              it.map(envelope), state, closeBoundOverride = wm,
              latenessMs = if (fanIn) 0L else latenessMs)
            // re-arm: fire again when the watermark passes the next
            // unemitted window's end (must be strictly ahead of the
            // current watermark or Spark rejects the timestamp)
            for (w <- wm; st <- state.getOption) {
              val nextEnd = st.originMs + st.nextBucket * slide + lengthMs
              state.setTimeoutTimestamp(math.max(nextEnd, w + 1))
            }
            out.map(emit(k, _))
        }

    punctuation match {
      case MaxSeen =>
        sequence[EventEnvelope[T]](inputs.head, e => e,
          GroupStateTimeout.NoTimeout)
      case FanIn =>
        // the event-time timeout check requires the watermarked COLUMN
        // to reach the stateful operator, so the envelope rides in a
        // carrier with the projected event_time (stamp.start_time)
        implicit val encWm: Encoder[WatermarkedEnvelope[T]] =
          ExpressionEncoder[WatermarkedEnvelope[T]]()
        // allowedLateness rides the branch watermark delay itself: the
        // query watermark lags each source's max event time by the
        // grace, so rows less than the grace behind survive Spark's
        // pre-stateful late filter (it drops event_time <= watermark)
        // AND windows close exactly latenessMs later
        val union = inputs.map { ds =>
          EventEnvelope.withEventTime(ds.toDF(), s"$latenessMs milliseconds")
        }.reduce(_.unionByName(_))
          .as[WatermarkedEnvelope[T]]
        sequence[WatermarkedEnvelope[T]](union,
          w => EventEnvelope(w.stamp, w.content),
          GroupStateTimeout.EventTimeTimeout)
    }
  }

  /** Gapless temporal windows — the full reference TemporalWindowPolicy
    * sequence contract (selection_policy_test.go:100-232): windows
    * [origin + k*slide, + length) delivered strictly in order, with
    * EMPTY windows between distant events — the one temporal semantic
    * Spark's grouped aggregation cannot express (a group with no rows
    * never exists). slide == length tumbles, slide < length overlaps
    * (an event appears in length/slide consecutive windows), slide >
    * length hops with gaps (gap events dropped at trim, like the
    * reference's pre-window skip).
    *
    * Window anchoring: the reference policy is constructed with an
    * explicit start time (its tests anchor at e1's stamp); here `origin`
    * defaults to the FIRST event's start_time. A window closes once an
    * event at/past its end is seen — the same data-driven punctuation as
    * the grouped-agg path. Events earlier than the next open window are
    * dropped as late (reference: updateSelectionForBuffer,
    * selection_policy.go:583-596).
    *
    * Empty windows carry the window's own bounds as their stamp (there
    * are no member events to merge). Emission volume per trigger is
    * gap/slide — inherent to the semantics, not a buffering bug.
    *
    * Scale stance: single logical group, like `countingWindows` — the
    * reference's buffer is one sequential stream; state is O(open-window
    * events), trimmed on every emit. Keyed variant below partitions.
    */
  def temporalBatchesGapless[T: TypeTag](lengthMs: Long,
      slideMs: Long = 0L,
      origin: Option[Long] = None,
      alignToEpoch: Boolean = false,
      latenessMs: Long = 0L)(
      ds: Dataset[EventEnvelope[T]]): Dataset[WindowBatch[T]] =
    gaplessCore(lengthMs, slideMs, origin, alignToEpoch, latenessMs,
      MaxSeen)(global[T], Seq(ds))

  /** Keyed gapless temporal windows — the horizontally scalable variant
    * (one independent window sequence per key, state partitioned across
    * executors), same shape as `countingWindowsByKey`.
    */
  def temporalBatchesGaplessByKey[T: TypeTag](lengthMs: Long,
      slideMs: Long = 0L,
      origin: Option[Long] = None,
      alignToEpoch: Boolean = false,
      latenessMs: Long = 0L)(key: EventEnvelope[T] => String)(
      ds: Dataset[EventEnvelope[T]]): Dataset[(String, WindowBatch[T])] =
    gaplessCore(lengthMs, slideMs, origin, alignToEpoch, latenessMs,
      MaxSeen)(byKey(key), Seq(ds))

  /** Multi-input gapless temporal windows — the reference's
    * MultiTemporalWindowPolicy readiness rule (every buffer must hold an
    * event past the window end before the window fires,
    * selection_policy.go:385-398) over a fan-in of streams.
    *
    * A plain union of the inputs would close windows on EITHER side's
    * max event time; the reference waits for ALL sides. Spark's
    * min-over-sources watermark expresses exactly that (the gapless
    * core's fan-in punctuation): the sequencer closes windows up to the
    * watermark instead of the observed max event time. A fast input's events simply buffer in
    * state until the slow input catches up — the same buffering the
    * reference's per-input buffers do.
    *
    * Boundary convention: a window closes when watermark >= end — the
    * same equality convention as the single-input sequencer's
    * max-seen punctuation (the reference's strict `After` differs only
    * when a source's newest event sits exactly ON the window end).
    */
  def temporalBatchesGaplessMulti[T: TypeTag](lengthMs: Long,
      slideMs: Long = 0L,
      origin: Option[Long] = None,
      alignToEpoch: Boolean = false,
      latenessMs: Long = 0L)(
      inputs: Seq[Dataset[EventEnvelope[T]]]): Dataset[WindowBatch[T]] =
    gaplessCore(lengthMs, slideMs, origin, alignToEpoch, latenessMs,
      FanIn)(global[T], inputs)

  /** Keyed multi-input gapless windows — the horizontally scalable
    * variant of [[temporalBatchesGaplessMulti]]: one independent
    * watermark-gated window sequence per key, state partitioned across
    * executors. The watermark is still global (min over SOURCES) — the
    * reference readiness rule — while sequencing, buffering, and timeout
    * re-arming happen per key.
    */
  def temporalBatchesGaplessMultiByKey[T: TypeTag](lengthMs: Long,
      slideMs: Long = 0L,
      origin: Option[Long] = None,
      alignToEpoch: Boolean = false,
      latenessMs: Long = 0L)(key: EventEnvelope[T] => String)(
      inputs: Seq[Dataset[EventEnvelope[T]]])
      : Dataset[(String, WindowBatch[T])] =
    gaplessCore(lengthMs, slideMs, origin, alignToEpoch, latenessMs,
      FanIn)(byKey(key), inputs)

  /** Shared sequencer step: buffer incoming, emit every window closed by
    * the close bound (including empty ones), trim, update state. Window b
    * spans [origin + b*slide, + length). Without an override the close
    * bound is the max event time seen less `latenessMs` — single-input
    * punctuation; the fan-in punctuation overrides it with the query
    * watermark (min over sources).
    */
  private def processGapless[T](lengthMs: Long, slideMs: Long,
      origin: Option[Long], alignToEpoch: Boolean,
      it: Iterator[EventEnvelope[T]],
      state: GroupState[GaplessState[T]],
      closeBoundOverride: Option[Long],
      latenessMs: Long)
      : Iterator[WindowBatch[T]] = {
    val incoming = it.toSeq.sortBy(_.stamp.start_time.getTime)
    if (incoming.isEmpty && state.getOption.isEmpty) Iterator.empty
    else {
      val st = state.getOption.getOrElse {
        val first = incoming.head.stamp.start_time.getTime
        // alignToEpoch matches the grouped-agg path's window()
        // buckets (epoch-floored), so windowIds agree across both
        // temporal operators; the default anchors at the first
        // event like the reference policy's explicit start time.
        val o = origin.getOrElse(
          if (alignToEpoch) Math.floorDiv(first, slideMs) * slideMs
          else first)
        GaplessState[T](o, 0L, Long.MinValue, Seq.empty)
      }
      val o = st.originMs
      def winStart(b: Long) = o + b * slideMs
      val maxSeen = (st.maxSeenMs +: incoming.map(
        _.stamp.start_time.getTime)).max
      // late = before the next open window; dropped like the ref.
      // Re-sort after appending: a later micro-batch can deliver events
      // that precede buffered ones, and both window member order and
      // mergeAll's later-wins meta union depend on event-time order.
      val pending = (st.buf ++ incoming.filter(
        _.stamp.start_time.getTime >= winStart(st.nextBucket)))
        .sortBy(_.stamp.start_time.getTime)
        .toIndexedSeq
      // Two advancing indices over the time-sorted buffer: `base` tracks
      // the current window's start, `idx` its end. Tumbling emission is
      // O(events + windows) per trigger (a per-window rescan would be
      // O(events x windows) — ruinous when one trigger closes thousands
      // of windows, the long-gap case this operator exists for);
      // overlapping windows additionally re-deliver each event in its
      // length/slide windows, which is the output volume itself.
      // Guard the gap BEFORE buffering: one event with a corrupt
      // far-future timestamp would otherwise force (gap/slide)
      // WindowBatch objects — potentially billions of empty windows —
      // into this trigger's in-memory buffer and OOM the sequencer
      // task. Emission volume per trigger is inherent to the gapless
      // semantics; a gap this size is data corruption, so fail fast
      // with the numbers rather than degrade.
      // allowedLateness holds windows open for latenessMs PAST the raw
      // punctuation (max event time seen, or the fan-in watermark): a
      // window fires only once the bound passes end + lateness, so an
      // out-of-order event within the grace period finds its window
      // still open (nextBucket hasn't advanced past it — the late-drop
      // filter above keys off nextBucket). At the default 0 this is
      // byte-identical to the reference's drop-truly-late behavior.
      val closeBound = {
        val raw = closeBoundOverride.getOrElse(maxSeen)
        if (raw == Long.MinValue || latenessMs <= 0) raw
        else raw - latenessMs
      }
      val toClose =
        if (closeBound == Long.MinValue) 0L
        else (closeBound - lengthMs - winStart(st.nextBucket)) / slideMs + 1
      if (toClose > StatefulOps.MaxWindowsPerTrigger)
        throw new IllegalStateException(
          s"gapless sequencer asked to close $toClose windows in one " +
            s"trigger (close bound $closeBound, next window " +
            s"${winStart(st.nextBucket)}, slide $slideMs ms) — exceeds " +
            s"MaxWindowsPerTrigger=${StatefulOps.MaxWindowsPerTrigger}; " +
            "likely a corrupt far-future timestamp")
      val out = mutable.Buffer.empty[WindowBatch[T]]
      var b = st.nextBucket
      var base = 0
      var idx = 0
      while (winStart(b) + lengthMs <= closeBound) {
        val start = winStart(b)
        val end = start + lengthMs
        while (base < pending.size &&
          pending(base).stamp.start_time.getTime < start) base += 1
        if (idx < base) idx = base
        while (idx < pending.size &&
          pending(idx).stamp.start_time.getTime < end) idx += 1
        val members = pending.slice(base, idx)
        val stamp =
          if (members.nonEmpty) Stamp.mergeAll(members.map(_.stamp))
          else Stamp(new java.sql.Timestamp(start),
            new java.sql.Timestamp(end), Map.empty)
        out += WindowBatch(start / 1000L, stamp, members.map(_.content))
        b += 1
      }
      // keep only events still visible to window b and beyond
      var keep = 0
      while (keep < pending.size &&
        pending(keep).stamp.start_time.getTime < winStart(b)) keep += 1
      state.update(GaplessState(o, b, maxSeen, pending.drop(keep)))
      out.iterator
    }
  }

  /** Streaming per-window top-k heavy hitters — the ingest-time face of
    * the batch `q_window_topk`/`q_top_tokens`: exact counts per value
    * within tumbling event-time windows, the top k emitted ONCE per
    * window when the watermark passes its end (final-on-close, never a
    * retraction stream). Rank order is (count desc, value asc) — total
    * and deterministic, so replays emit identical rows.
    *
    * Scale shape — two chained stages (Spark 4's multi-stateful-operator
    * support, proven by the spec suite):
    *  1. a standard watermarked window+value COUNT aggregation: raw
    *     events are absorbed by map-side partial aggregation across ALL
    *     executors — no single task ever sees a whole window's event
    *     volume (the trap of ranking inside one stateful operator keyed
    *     by window); state is the per-(window, value) count the SQL
    *     engine already manages, emitted exactly once at window close.
    *  2. a STATELESS ranker over the finalized counts: a closed window's
    *     rows all emit in the same micro-batch, so the per-window group
    *     ranks O(distinct values) pre-aggregated rows, never events.
    * Late events are dropped by stage 1's watermark — the same contract
    * as the gapless sequencer. For adversarial per-window cardinality
    * the documented swap is the CMS grid + candidate heap in stage 1.
    */
  def topKByWindow(lengthMs: Long, k: Int)(
      ds: Dataset[EventEnvelope[String]]): Dataset[TopKRow] = {
    require(lengthMs >= 1000, "sub-second windows unsupported: windowId is epoch-seconds")
    require(k >= 1, s"k=$k must be >= 1")
    implicit val encOut: Encoder[TopKRow] = ExpressionEncoder[TopKRow]()
    implicit val encKey: Encoder[Long] = Encoders.scalaLong
    implicit val encRow: Encoder[(Long, String, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.scalaLong)

    import org.apache.spark.sql.functions._
    EventEnvelope.withEventTime(ds.toDF(), "0 seconds")
      .groupBy(window(col("event_time"), s"$lengthMs milliseconds"),
        col("content"))
      .count()
      .select(col("window.start").cast("long").as("win"),
        col("content"), col("count"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (win: Long, it: Iterator[(Long, String, Long)],
         _: GroupState[Long]) =>
          it.toSeq.sortBy { case (_, v, n) => (-n, v) }
            .take(k).iterator.zipWithIndex
            .map { case ((_, v, n), i) => TopKRow(win, i + 1, v, n) }
      }
  }

  /** Per-key streaming EWMA with burst alerts — the streaming face of the
    * batch q_ewma (identical fold: first event initializes the average;
    * each later event first tests `value > burst * ewma`, then folds
    * `ewma = alpha * ewma + (1 - alpha) * value`).
    *
    * An EWMA is a LEFT FOLD — order-sensitive — so arrival order is not
    * good enough: arrivals buffer in state and an event folds only once
    * the watermark passes its time, in (ts, seq) order, exactly the
    * batch query's sort. That makes the trajectory deterministic for
    * any event within the lateness horizon; a straggler beyond `delay`
    * is dropped by the engine's late-row filter before it reaches the
    * operator (EwmaStreamSpec pins this — the same late-drop contract
    * as the gapless sequencer). Strictly-past gating
    * (`ts < watermark`) means an event whose time EQUALS the watermark
    * stays pending — ties in event time can still receive lower-seq
    * peers until the watermark strictly passes them.
    *
    * Emission rides event-time timeouts like the multi-input sequencer:
    * after each invocation the group re-arms at its earliest pending
    * event time, so buffered events fold as soon as the watermark
    * releases them even if the key goes silent. State is the horizon's
    * working set per key (pending spans at most [watermark, max seen]),
    * partitioned across executors — RocksDB-backed via
    * Sessions.tuneLargeState at scale, like the other keyed state here.
    */
  def ewmaByKey(alpha: Double, burst: Double, delay: String)(
      key: EventEnvelope[(Long, Double)] => String)(
      ds: Dataset[EventEnvelope[(Long, Double)]]): Dataset[EwmaUpdate] = {
    require(alpha > 0 && alpha < 1, s"alpha=$alpha must be in (0, 1)")
    require(burst > 0, s"burst=$burst must be positive")
    implicit val encState: Encoder[EwmaState] = ExpressionEncoder[EwmaState]()
    implicit val encOut: Encoder[EwmaUpdate] = ExpressionEncoder[EwmaUpdate]()
    implicit val encKey: Encoder[String] = Encoders.STRING
    implicit val encWm: Encoder[WatermarkedEnvelope[(Long, Double)]] =
      ExpressionEncoder[WatermarkedEnvelope[(Long, Double)]]()

    EventEnvelope.withEventTime(ds.toDF(), delay)
      .as[WatermarkedEnvelope[(Long, Double)]]
      .groupByKey(w => key(EventEnvelope(w.stamp, w.content)))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (k: String, it: Iterator[WatermarkedEnvelope[(Long, Double)]],
         state: GroupState[EwmaState]) =>
          val wm = state.getCurrentWatermarkMs()
          val st = state.getOption.getOrElse(EwmaState(Seq.empty, 0.0, 0L, 0L))
          val pending = st.pending ++ it.map(w =>
            (w.stamp.start_time.getTime, w.content._1, w.content._2))
          val (ready, hold) = pending.partition(_._1 < wm)
          var ewma = st.ewma
          var alerts = st.alerts
          var n = st.nProcessed
          val out = ready.sortBy { case (ts, seq, _) => (ts, seq) }
            .map { case (ts, seq, v) =>
              val alert = n > 0 && v > burst * ewma
              ewma = if (n == 0) v else alpha * ewma + (1 - alpha) * v
              if (alert) alerts += 1
              n += 1
              EwmaUpdate(k, ts, seq, v, ewma, alert, n)
            }
          state.update(EwmaState(hold, ewma, alerts, n))
          if (hold.nonEmpty) {
            // earliest pending is > wm by the strict partition above;
            // fire when the watermark passes it
            state.setTimeoutTimestamp(math.max(hold.map(_._1).min, wm + 1))
          }
          out.iterator
      }
  }

  /** Streaming first-n limit (reference: Limit,
    * default_filter_operators.go:55-67). The reference's counter is
    * unsynchronized ("approximately first n"); this is exact-n in
    * event-time order within each micro-batch.
    */
  def limit[T: TypeTag](n: Int)(
      ds: Dataset[EventEnvelope[T]]): Dataset[EventEnvelope[T]] = {
    implicit val encState: Encoder[Long] = Encoders.scalaLong
    implicit val encOut: Encoder[EventEnvelope[T]] =
      ExpressionEncoder[EventEnvelope[T]]()
    implicit val encKey: Encoder[Int] = Encoders.scalaInt

    ds.groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, it: Iterator[EventEnvelope[T]],
         state: GroupState[Long]) =>
          val already = state.getOption.getOrElse(0L)
          val take = math.max(0L, n - already).toInt
          val sorted = it.toSeq.sortBy(_.stamp.start_time.getTime)
          val out = sorted.take(take)
          state.update(already + out.size)
          out.iterator
      }
  }
}
