package graft.streaming

import scala.collection.mutable.ArrayBuffer
import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders,
  Row, SparkSession}
import org.apache.spark.sql.functions.{array, col, inline, lit, struct,
  unix_micros}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.functions.{RowMatcher, RowPattern}

/** Streaming MATCH_RECOGNIZE for ARBITRARY row patterns: each output
  * mode's [[RowMatcher]] — the same per-entity step the batch folds in
  * operators/EventAnalytics run (oracle-checked as `ev_match_recognize`,
  * `t10_cep_twin`, `ev_updown_*`, `ev_vshape_*`) — rides
  * `flatMapGroupsWithState` as java-serialized per-key state, so every
  * mode runs incrementally with checkpointed state and survives restart
  * like any stateful query. One private driver owns the event-time
  * projection, the per-batch sort, the ordering guard and the state
  * update, and never calls the matcher's `finish`: only CONFIRMED
  * matches emit. CepPatternSpec twin-pins stream-with-restart against
  * the batch folds for disjoint AND non-disjoint patterns, and
  * CepTraceSpec runs every mode over generated traces against its fold.
  *
  * ORDERING GUARD (round 10 — violation is never a silent miscount):
  * matches are defined over each key's EVENT-TIME order (ts_us,
  * event_id). Within a micro-batch the group sorts before feeding;
  * across batches the state carries the last-FED (ts_us, event_id)
  * frontier plus a reorder buffer bounded by `allowedLatenessUs`:
  * an arriving event is held until the key's event-time high-water
  * mark passes it by MORE than the declared delay, then fed in sorted
  * order — so disorder up to AND INCLUDING the declared lateness is
  * absorbed exactly (a keyed Kafka topic declares lateness 0, which
  * buffers nothing and feeds immediately; a multi-source union or a
  * repartitioned upstream declares its delay). An event at or behind
  * the fed frontier — later than the declared lateness allows —
  * hits `onLate`: `"fail"` (default) kills the query loudly with the
  * contract in the message (the depthCap precedent); `"drop"` skips
  * the event and counts it in the emitted `n_late_dropped`, so a
  * lossy policy is visible in the output, never implicit.
  *
  * Emission (Update-shaped): each micro-batch computes the key's
  * count-if-the-stream-ended-here — finish() on a structural
  * [[RowPattern.MatchCounter.snapshot]] fed the still-buffered events
  * — and EMITS ONLY WHEN (n_matches, n_late_dropped) CHANGED since
  * the key's last emission, so an untouched key costs nothing
  * downstream. At quiescence the last emission per key equals the
  * batch fold over the full (undropped) history, for any pattern.
  *
  * [[matchSpans]] is the streaming ONE ROW PER MATCH twin of the batch
  * matchSpansOf fold: same admission guard, the span-mode machine plus
  * the minLivePos-pruned position→event ring as state, one row emitted
  * per CONFIRMED match (Append-shaped — a span confirms exactly once,
  * so there is nothing to retract and nothing to re-emit). A match
  * whose confirmation needs end-of-stream evidence (a greedy tail
  * that later events could still extend) stays unemitted until the
  * stream proves it — streaming semantics, pinned against the batch
  * fold at quiescence by CepPatternSpec. Under a declared lateness the
  * same holds for events still inside the reorder window: span mode is
  * exactly-once-confirmed and never speculates, so matches touching
  * buffered events emit only once the watermark releases them (count
  * mode's count-if-ended-here estimate covers its buffer through the
  * snapshot instead — an Update-shaped emission CAN speculate).
  *
  * State bound: the machine is the RowPattern contract
  * (terminator-disjoint patterns O(|pattern|) per key forever, others
  * capped at `depthCap` with loud failure); the reorder buffer holds
  * only events inside the declared lateness window — its natural size
  * is the key's arrival rate × allowedLatenessUs, zero when lateness
  * is 0, and it is HARD-CAPPED at `maxBufferedEvents` per key (round
  * 11): a hot key under a large declared lateness fails loudly at the
  * cap under `onLate="fail"` (the depthCap precedent) or sheds the
  * over-cap event into `n_late_dropped` under `"drop"` — per-key
  * state is bounded by an explicit constant either way, never by the
  * caller's lateness declaration alone. The cap counts only
  * WINDOW-RESIDENT occupancy (round 12): at the cap an interleaved
  * release pass drains everything the running watermark has already
  * passed, so a large in-order catch-up batch (Trigger.AvailableNow
  * over a backlog) never trips it on events that are not late.
  */
object CepPattern extends Serializable {

  /** Default per-key reorder-buffer cap (events awaiting event-time
    * release under a declared lateness). 64k events ≈ a few MB of
    * state-store per hot key — far past any sane micro-batch backlog,
    * tight enough that a runaway lateness declaration surfaces as a
    * loud failure instead of an OOM'd state store. */
  val DefaultMaxBuffered: Int = 1 << 16

  /** The standard funnel code mapping (view→v, click→c, purchase→p,
    * else o) — the default `codeExpr`; callers with their own alphabet
    * pass any SQL expression over the parsed columns that yields one
    * code char (or a multi-char code string, fed char by char; span
    * mode requires exactly one char). */
  val funnelCode: String =
    """CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
      |WHEN 'purchase' THEN 'p' ELSE 'o' END""".stripMargin

  /** One coded event — the shape the code-column entry points project
    * a parsed stream to (`ts_us` = unix_micros(ts), `code` = codeExpr;
    * the MEASURES form adds its value as `v`). */
  final case class CepEvent(user_id: Long, event_id: Long, ts_us: Long,
                            code: String)

  /** Per-key emission: the match count as of this batch plus the
    * running count of events dropped by the `"drop"` lateness policy
    * (always 0 under `"fail"`). */
  final case class CepPatternUpdate(user_id: Long, n_matches: Long,
                                    n_late_dropped: Long)

  /** One emitted row per confirmed match (streaming ONE ROW PER
    * MATCH): the key, the match's per-key ordinal in confirmation
    * order, and its first/last event coordinates. */
  final case class CepSpanMatch(user_id: Long, match_seq: Long,
                                start_us: Long, start_event_id: Long,
                                end_us: Long, end_event_id: Long)

  /** One emitted row per EVENT of each confirmed match (streaming ALL
    * ROWS PER MATCH): the key, the match's per-key ordinal in
    * confirmation order, the event's position inside the match, and
    * the event itself. */
  final case class CepRowMatch(user_id: Long, match_seq: Long,
                               ord_in_match: Long, us: Long,
                               event_id: Long, code: String)

  /** One emitted row per confirmed match with its MEASURES (streaming
    * MEASURES): FIRST/LAST event coordinates, COUNT(*) of matched
    * events, and the exact long sum of the value expression over
    * them. */
  final case class CepMeasureMatch(user_id: Long, match_seq: Long,
                                   start_us: Long, start_event_id: Long,
                                   end_us: Long, end_event_id: Long,
                                   n_events: Long, sum_value: Long)

  /** One emitted row per confirmed SKIP-mode match ([[matchSkip]]), or
    * per classified span ([[matchSpansBy]]). */
  final case class CepSkipMatch(user_id: Long, match_seq: Long,
                                start_us: Long, start_event_id: Long,
                                end_us: Long, end_event_id: Long,
                                n_events: Long)

  /** One emitted row per (confirmed match, pattern component) pair —
    * streaming PER-VARIABLE MEASURES ([[matchVarMeasuresBy]]): the
    * component's matched-row count and exact long sum over them. Long
    * form (one row per component) because streaming Datasets need a
    * static schema while the component list is a runtime argument;
    * pivot downstream if the batch wide shape is wanted. */
  final case class CepVarMeasure(user_id: Long, match_seq: Long,
                                 var_name: String, n_rows: Long,
                                 sum_value: Long)

  /** One emitted row per EVENT of each confirmed skip-mode match with
    * its pattern-variable label — streaming labeled ALL ROWS
    * ([[matchRowsSkipBy]]). */
  final case class CepVarRow(user_id: Long, match_seq: Long,
                             ord_in_match: Long, id: Long,
                             var_name: String)

  /** One emitted row per (confirmed match, pattern component) pair —
    * streaming FIRST/LAST VALUE NAVIGATION ([[matchVarNavBy]]): the
    * measure value of the component's first and last matched rows,
    * None both when the component matched ZERO rows (SQL:2016
    * navigation-on-empty) and when the boundary row's measure is
    * itself NULL (navigation is value-preserving — it reports the
    * value, unlike SUM which ignores NULLs). Long form like
    * [[CepVarMeasure]]; start_id/end_id are the whole match's bounds. */
  final case class CepVarNav(user_id: Long, match_seq: Long,
                             start_id: Long, end_id: Long,
                             var_name: String,
                             first_value: Option[Long],
                             last_value: Option[Long])

  /** One emitted row per EVENT of each confirmed match with its
    * RUNNING and FINAL sums — streaming ALL ROWS with RUNNING/FINAL
    * measures ([[matchRowsRunningBy]]): `running_sum` is the inclusive
    * prefix sum of the measure inside the match, `final_sum` the whole
    * match's total (equal on the last row); RUNNING COUNT(*) is
    * `ord_in_match` itself. */
  final case class CepRunningRow(user_id: Long, match_seq: Long,
                                 ord_in_match: Long, id: Long,
                                 cls: String, running_sum: Long,
                                 final_sum: Long)

  /** Checkpointed per-key state: the matcher's state (engine, PREV row,
    * match ordinal) plus the ordering-guard fields — the last-FED
    * event-time frontier, the key's high-water mark, the
    * lateness-bounded reorder buffer of whole rows (classification
    * waits for event-time release), and the late-drop counter. */
  private[graft] class GuardedState[E](val m: RowMatcher.State[E])
      extends Serializable {
    var lastTs: Long = Long.MinValue
    var lastId: Long = Long.MinValue
    var maxSeenTs: Long = Long.MinValue
    var buffer: ArrayBuffer[(Long, Long, Row)] = ArrayBuffer.empty
    var dropped: Long = 0L
  }

  /** Count mode's state adds the last emitted pair (emit-on-change). */
  private[graft] final class CountState[E](m: RowMatcher.State[E])
      extends GuardedState[E](m) {
    var emittedMatches: Long = -1L
    var emittedDropped: Long = -1L
  }

  /** The ordering guard's arguments, validated at plan time. */
  private final case class Guard(allowedLatenessUs: Long, onLate: String,
                                 maxBufferedEvents: Int) {
    require(allowedLatenessUs >= 0L,
      s"allowedLatenessUs must be >= 0, got $allowedLatenessUs")
    require(onLate == "fail" || onLate == "drop",
      s"onLate must be 'fail' or 'drop', got '$onLate'")
    require(maxBufferedEvents > 0,
      s"maxBufferedEvents must be > 0, got $maxBufferedEvents")
  }

  /** Admit a batch of events through the ordering guard: record the
    * high-water mark, reject-or-drop anything behind the fed frontier,
    * buffer the rest, then release — in (ts_us, event_id) order —
    * every buffered event the event-time watermark (high-water minus
    * the declared lateness) has passed, advancing the frontier to the
    * last released event. Returns the released events, ready to feed.
    *
    * The hard cap counts only POST-RELEASE occupancy (round 12): a
    * single large in-order catch-up batch (Trigger.AvailableNow over a
    * backlog) would otherwise fill the buffer with events the
    * end-of-call release drains anyway and trip the cap on events that
    * are not late — killing the query under onLate="fail" or
    * miscounting in-order events as n_late_dropped under "drop". At
    * the cap an interleaved release pass first moves everything
    * already below the running watermark out of the buffer; only
    * events genuinely inside the lateness window can refuse an
    * arrival. */
  private def admit(st: GuardedState[_], userId: Long,
                    evs: Array[(Long, Long, Row)], g: Guard,
                    skips: Row => Boolean): Seq[(Long, Long, Row)] = {
    import g.{allowedLatenessUs, maxBufferedEvents, onLate}
    // events moved out of the buffer by the cap's interleaved release
    // pass: NOT fed mid-loop (feeding would advance the frontier and
    // could misjudge a later same-batch event as late) — they merge
    // and sort with the end-of-call release, so the released set is
    // exactly what one end-of-call pass would release
    val early = ArrayBuffer.empty[(Long, Long, Row)]
    evs.foreach { case (ts, id, payload) =>
      if (ts > st.maxSeenTs) st.maxSeenTs = ts
      if (!skips(payload)) {
        val behindFrontier = ts < st.lastTs ||
          (ts == st.lastTs && id <= st.lastId)
        if (behindFrontier) {
          if (onLate == "drop") st.dropped += 1
          else throw new IllegalStateException(
            s"CEP ordering contract violated for key $userId: event " +
              s"(ts_us=$ts, event_id=$id) arrived " +
              s"after the key's fed frontier (ts_us=${st.lastTs}, " +
              s"event_id=${st.lastId}) — later than " +
              s"allowedLatenessUs=$allowedLatenessUs absorbs. Deliver " +
              "each key's events in event-time order (keyed topic), " +
              "raise allowedLatenessUs to cover the source's disorder, " +
              "or declare onLate=\"drop\" to skip-and-count.")
        } else {
          if (allowedLatenessUs > 0L &&
              st.buffer.length >= maxBufferedEvents) {
            // INTERLEAVED RELEASE before refusing (round 12 — the cap
            // bounds WINDOW-RESIDENT state, not batch size): move
            // every buffered event the running watermark has already
            // passed into the early set; mid-loop releases are a
            // subset of the end-of-call release (the watermark is
            // monotone within the call), so semantics are unchanged.
            val wm = st.maxSeenTs - allowedLatenessUs
            val (rel, keep) = st.buffer.partition(_._1 < wm)
            if (rel.nonEmpty) { early ++= rel; st.buffer = keep }
          }
          if (allowedLatenessUs > 0L &&
              st.buffer.length >= maxBufferedEvents) {
            // HARD CAP on the reorder buffer (round 11 — the admission
            // guard's missing bound): under a declared lateness the
            // buffer's natural size is arrival-rate × lateness, which a
            // hot key under a large declared lateness grows without
            // limit. Past the cap the arriving event is refused — loudly
            // under "fail" (the depthCap precedent), or dropped WITH the
            // count surfaced in n_late_dropped when the caller already
            // opted into lossy "drop". Lateness 0 buffers nothing across
            // batches, so the cap binds only when a reorder window
            // actually exists — and after the interleaved release above,
            // only when that window genuinely holds maxBufferedEvents.
            if (onLate == "drop") st.dropped += 1
            else throw new IllegalStateException(
              s"CEP reorder buffer for key $userId exceeded " +
                s"maxBufferedEvents=$maxBufferedEvents with " +
                s"allowedLatenessUs=$allowedLatenessUs: the key buffers " +
                "arrival-rate × lateness events awaiting event-time " +
                "release. Lower the declared lateness, raise " +
                "maxBufferedEvents, or declare onLate=\"drop\" to " +
                "shed-and-count past the cap.")
          } else st.buffer += ((ts, id, payload))
        }
      }
    }
    val watermark = st.maxSeenTs - allowedLatenessUs
    if (st.buffer.nonEmpty) {
      // the buffer PERSISTS SORTED — the count-mode snapshot feeders
      // walk it directly, so insertion order must never leak out
      val sorted = st.buffer.sortBy(e => (e._1, e._2))
      // lateness 0 keeps the documented zero-buffer contract (release
      // everything, in order); a declared lateness releases STRICTLY
      // below the watermark, so an event delayed by EXACTLY the
      // declared lateness is still absorbed — under `<=` the frontier
      // would already cover its timestamp and a same-ts tie would trip
      // the guard (the absorbed-up-to-and-including boundary is
      // spec-pinned)
      val (rel, keep) =
        if (allowedLatenessUs == 0L)
          (sorted, ArrayBuffer.empty[(Long, Long, Row)])
        else sorted.partition(_._1 < watermark)
      early ++= rel
      st.buffer = keep
    }
    if (early.isEmpty) Nil
    else {
      val sorted = early.sortBy(e => (e._1, e._2))
      sorted.lastOption.foreach { case (ts, id, _) =>
        st.lastTs = ts
        st.lastId = id
      }
      sorted.toSeq
    }
  }

  /** Run `matcher` per key over `events` — the one streaming driver.
    * Projects the event-time order as `__ts_us`, sorts each key's batch
    * by (ts_us, tieCol), admits it through the ordering guard, feeds
    * the released rows, and updates the state; the emitted rows are
    * (user_id, matcher fields...). Count mode adds `n_late_dropped` and
    * emits, on change only, the count as if the stream ended here. The
    * matcher reads ids from `tieCol`, micros from `__ts_us`, and codes
    * and measures from `codeCol` / `measureCol` when given. */
  private def drive[E](events: DataFrame, idCol: String, tieCol: String,
                       orderUs: Column, g: Guard, codeCol: String = null,
                       measureCol: String = null)(
      matcher: RowMatcher.Cols => RowMatcher.Matcher[E]): DataFrame = {
    val withOrder = events.withColumn("__ts_us", orderUs)
    val schema = withOrder.schema
    val idIdx = schema.fieldIndex(idCol)
    val tieIdx = schema.fieldIndex(tieCol)
    val usIdx = schema.fieldIndex("__ts_us")
    def idx(c: String): Int = if (c == null) -1 else schema.fieldIndex(c)
    val m = matcher(RowMatcher.Cols(usIdx, tieIdx, idx(codeCol),
      idx(measureCol)))
    val counting = m.isInstanceOf[RowMatcher.Counts]
    val fields = StructType(StructField("user_id", LongType) +:
      m.fields.fields)
    implicit val outEnc: Encoder[Row] = Encoders.row(
      if (counting) fields.add("n_late_dropped", LongType) else fields)
    implicit val stateEnc: Encoder[GuardedState[E]] =
      Encoders.javaSerialization[GuardedState[E]]

    def update(key: Long, rows: Iterator[Row],
               state: GroupState[GuardedState[E]]): Iterator[Row] = {
      val st = state.getOption.getOrElse(
        if (counting) new CountState(m.init()) else new GuardedState(m.init()))
      val evs = rows.map(r => (r.getLong(usIdx), r.getLong(tieIdx), r))
        .toArray.sortBy(e => (e._1, e._2))
      val out = ArrayBuffer.empty[Row]
      admit(st, key, evs, g, m.skips).foreach { case (_, _, r) =>
        m.feed(st.m, r).foreach(f => out += Row.fromSeq(Long.box(key) +: f))
      }
      st match {
        case c: CountState[E @unchecked] =>
          // count as if the stream ended here: buffered events would
          // all release at EOF, so they feed a snapshot before finishing
          val n = m.countIfEnded(c.m, c.buffer.view.map(_._3))
          if (n != c.emittedMatches || c.dropped != c.emittedDropped) {
            c.emittedMatches = n
            c.emittedDropped = c.dropped
            out += Row(key, n, c.dropped)
          }
        case _ => ()
      }
      state.update(st)
      out.iterator
    }

    withOrder.as(Encoders.row(schema))
      .groupByKey((r: Row) => r.getLong(idIdx))(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** The code-column forms: parsed events projected to the [[CepEvent]]
    * shape (plus `v` = `valueExpr` when given), keyed by user_id. */
  private def driveCoded[E](parsed: DataFrame, codeExpr: String, g: Guard,
                            valueExpr: String = null)(
      matcher: RowMatcher.Cols => RowMatcher.Matcher[E]): DataFrame =
    drive(parsed.selectExpr(Seq("user_id", "event_id",
      "unix_micros(ts) AS ts_us", s"($codeExpr) AS code") ++
      Option(valueExpr).map(v => s"($v) AS v"): _*),
      "user_id", "event_id", col("ts_us"), g, "code",
      if (valueExpr == null) null else "v")(matcher)

  private def driveBy[E](events: DataFrame, idCol: String, tieCol: String,
                         orderCol: String, g: Guard,
                         measureCol: String = null)(
      matcher: RowMatcher.Cols => RowMatcher.Matcher[E]): DataFrame =
    drive(events, idCol, tieCol, unix_micros(col(orderCol)), g,
      measureCol = measureCol)(matcher)

  /** The emitted rows as `T`, selecting its fields by name (`renames`:
    * field → emitted column). */
  private def typed[T <: Product : TypeTag](df: DataFrame,
                                            renames: (String, String)*)
      : Dataset[T] = {
    val enc = Encoders.product[T]
    val from = renames.toMap
    df.select(enc.schema.fieldNames.toIndexedSeq.map(n =>
      col(from.getOrElse(n, n)).as(n)): _*).as(enc)
  }

  /** Wire the matcher over a parsed stream (StreamingIngest.parse
    * output) — or a batch frame with the same columns, where the fold
    * sees each key's whole history at once. Append + NoTimeout: the
    * machine lives for the query. Emission is Update-shaped: per key
    * whose (n_matches, n_late_dropped) changed, the count as if the
    * stream ended here (a snapshot fed the still-buffered events); at
    * quiescence the last emission equals the batch fold. */
  def matches(spark: SparkSession, parsed: DataFrame, pattern: String,
              depthCap: Int = 4096,
              codeExpr: String = funnelCode,
              allowedLatenessUs: Long = 0L,
              onLate: String = "fail",
              maxBufferedEvents: Int = DefaultMaxBuffered)
      : Dataset[CepPatternUpdate] =
    typed[CepPatternUpdate](driveCoded(parsed, codeExpr,
      Guard(allowedLatenessUs, onLate, maxBufferedEvents))(
      new RowMatcher.Counts(pattern, depthCap, _)))

  /** Streaming MATCH_RECOGNIZE with DEFINE-style NAVIGATION (PREV) —
    * the streaming twin of the batch matchCountsClassified fold
    * (oracle-checked as `ev_updown_runs`): the code char is
    * `classify(prev, cur)` computed INSIDE the per-key state — `prev`
    * the key's previous event row in event-time order (null on the
    * key's first event), carried across micro-batches and restarts —
    * with [[matches]]' ordering guard and emission (the snapshot feeds
    * the buffered rows through a copy of the prev window). `events`
    * must carry `idCol` (LONG), `tieCol` (LONG), and `orderCol`
    * (TIMESTAMP); `classify` sees the caller's FULL projected row and
    * must be serializable. */
  def matchesBy(spark: SparkSession, events: DataFrame, pattern: String,
                idCol: String = "user_id", tieCol: String = "event_id",
                orderCol: String = "ts", depthCap: Int = 4096,
                allowedLatenessUs: Long = 0L, onLate: String = "fail",
                maxBufferedEvents: Int = DefaultMaxBuffered)
               (classify: (Row, Row) => Char)
      : Dataset[CepPatternUpdate] =
    typed[CepPatternUpdate](driveBy(events, idCol, tieCol, orderCol,
      Guard(allowedLatenessUs, onLate, maxBufferedEvents))(
      new RowMatcher.Counts(pattern, depthCap, _, classify)))

  /** Streaming ONE ROW PER MATCH: the batch matchSpansOf fold run
    * incrementally — each key's confirmed matches emit exactly once,
    * as they confirm, with the match's first/last event coordinates
    * and a per-key ordinal in confirmation order. Requires a
    * terminator-disjoint pattern and exactly one code char per event.
    * Per-key state: the machine + the minLivePos-pruned ring + the
    * reorder buffer — O(|pattern| + longest live match +
    * declared-lateness backlog), never the key's history. */
  def matchSpans(spark: SparkSession, parsed: DataFrame, pattern: String,
                 codeExpr: String = funnelCode,
                 allowedLatenessUs: Long = 0L,
                 onLate: String = "fail",
                 maxBufferedEvents: Int = DefaultMaxBuffered)
      : Dataset[CepSpanMatch] =
    typed[CepSpanMatch](driveCoded(parsed, codeExpr,
      Guard(allowedLatenessUs, onLate, maxBufferedEvents))(
      new RowMatcher.Spans(pattern, _, RowMatcher.PerMatch)))

  /** Streaming ONE ROW PER MATCH with DEFINE-style NAVIGATION: the
    * classifier runs inside the checkpointed per-key state (prev
    * carried across micro-batches and restarts, as in [[matchesBy]])
    * and feeds [[matchSpans]]' machine + ring. Emits (user_id,
    * match_seq, start_us, start_event_id, end_us, end_event_id,
    * n_events) with coordinates from (`orderCol`, `tieCol`) — the
    * streaming twin of the batch matchSpansClassified fold. Requires a
    * terminator-disjoint pattern. */
  def matchSpansBy(spark: SparkSession, events: DataFrame,
                   pattern: String,
                   idCol: String = "user_id", tieCol: String = "event_id",
                   orderCol: String = "ts",
                   allowedLatenessUs: Long = 0L, onLate: String = "fail",
                   maxBufferedEvents: Int = DefaultMaxBuffered)
                  (classify: (Row, Row) => Char)
      : Dataset[CepSkipMatch] =
    typed[CepSkipMatch](driveBy(events, idCol, tieCol, orderCol,
      Guard(allowedLatenessUs, onLate, maxBufferedEvents))(
      new RowMatcher.Spans(pattern, _, RowMatcher.PerMatch, classify)))

  /** Streaming ALL ROWS PER MATCH: when a match CONFIRMS, every event
    * it covers emits as its own row (match_seq in confirmation order,
    * ord_in_match inside the match), exactly once. The ring already
    * holds the covered events at confirmation, so per-event emission
    * costs nothing extra in state. Same bounds and contract as
    * [[matchSpans]]; at quiescence the emitted set equals the batch
    * matchRowsOf fold. */
  def matchRows(spark: SparkSession, parsed: DataFrame, pattern: String,
                codeExpr: String = funnelCode,
                allowedLatenessUs: Long = 0L,
                onLate: String = "fail",
                maxBufferedEvents: Int = DefaultMaxBuffered)
      : Dataset[CepRowMatch] =
    typed[CepRowMatch](driveCoded(parsed, codeExpr,
      Guard(allowedLatenessUs, onLate, maxBufferedEvents))(
      new RowMatcher.Spans(pattern, _, RowMatcher.AllRows)),
      "event_id" -> "id", "code" -> "cls")

  /** Streaming MEASURES: when a match confirms, ONE row emits with
    * FIRST/LAST event coordinates, COUNT(*) of matched events, and the
    * exact long sum of `valueExpr` over them, aggregated off the
    * bounded ring. `valueExpr` is any SQL expression over the parsed
    * columns yielding a LONG (pre-scale money to cents; the default is
    * the batch ev_match_measures cents cast). Same contract as
    * [[matchSpans]]; at quiescence the emitted set equals the batch
    * matchMeasuresOf fold. */
  def matchMeasures(spark: SparkSession, parsed: DataFrame,
                    pattern: String,
                    codeExpr: String = funnelCode,
                    valueExpr: String =
                      "cast(cast(value as decimal(18,2)) * 100 as long)",
                    allowedLatenessUs: Long = 0L,
                    onLate: String = "fail",
                    maxBufferedEvents: Int = DefaultMaxBuffered)
      : Dataset[CepMeasureMatch] =
    typed[CepMeasureMatch](driveCoded(parsed, codeExpr,
      Guard(allowedLatenessUs, onLate, maxBufferedEvents), valueExpr)(
      new RowMatcher.Spans(pattern, _, RowMatcher.PerMatch)))

  /** Streaming AFTER MATCH SKIP (every SQL:2016 skip mode over a
    * stream): the [[RowPattern.SkipScanner]] — the buffered current
    * attempt plus the anchored thread set — is the checkpointed
    * per-key state, so matches under SKIP TO FIRST/LAST `<var>` (and
    * PAST LAST ROW / TO NEXT ROW) emit EXACTLY ONCE as the scanner
    * confirms them, overlap allowed at the resume row. Per-key state is
    * one attempt's rows + the reorder buffer. Degenerate skips fail
    * loudly mid-stream exactly as in batch. At quiescence the emitted
    * set equals the batch matchSpansSkip fold over the same
    * components. */
  def matchSkip(spark: SparkSession, parsed: DataFrame,
                components: Seq[(String, String)],
                skip: RowPattern.SkipMode,
                codeExpr: String = funnelCode,
                allowedLatenessUs: Long = 0L,
                onLate: String = "fail",
                maxBufferedEvents: Int = DefaultMaxBuffered)
      : Dataset[CepSkipMatch] =
    typed[CepSkipMatch](driveCoded(parsed, codeExpr,
      Guard(allowedLatenessUs, onLate, maxBufferedEvents))(
      new RowMatcher.Skips(components, skip, _, RowMatcher.PerMatch)))

  /** Streaming PER-VARIABLE MEASURES: the skip scanner over
    * (tieCol id, measureCol value) rows with the classifier inside the
    * state ([[matchesBy]]'s DEFINE/PREV contract); every CONFIRMED
    * match emits one row PER COMPONENT — `(user_id, match_seq,
    * var_name, n_rows, sum_value)`, the count and exact long sum of
    * `measureCol` over exactly the rows java.regex's groups map to
    * that component — then one per SQL:2016 SUBSET (the batch
    * matchVarMeasures contract). `measureCol` must be LONG (pre-scale
    * money to cents). Same guard and one-attempt state bound as
    * [[matchSkip]]. */
  def matchVarMeasuresBy(spark: SparkSession, events: DataFrame,
                         components: Seq[(String, String)],
                         skip: RowPattern.SkipMode,
                         idCol: String = "user_id",
                         tieCol: String = "event_id",
                         orderCol: String = "ts",
                         measureCol: String = "value",
                         allowedLatenessUs: Long = 0L,
                         onLate: String = "fail",
                         maxBufferedEvents: Int = DefaultMaxBuffered,
                         subsets: Seq[(String, Seq[String])] = Nil)
                        (classify: (Row, Row) => Char)
      : Dataset[CepVarMeasure] = {
    val shape =
      RowMatcher.VarMeasures(components.map(_._1).toIndexedSeq, subsets)
    val wide = driveBy(events, idCol, tieCol, orderCol,
      Guard(allowedLatenessUs, onLate, maxBufferedEvents), measureCol)(
      new RowMatcher.Skips(components, skip, _, shape, classify))
    typed[CepVarMeasure](wide.select(col("user_id"), col("match_seq"),
      inline(array(shape.groups.map(n => struct(lit(n).as("var_name"),
        col(s"`${n}_n`").as("n_rows"), col(s"`${n}_sum`").as("sum_value")))
        : _*))))
  }

  /** Streaming FIRST/LAST VALUE NAVIGATION: when a match of the
    * named-component pattern confirms, one row emits PER COMPONENT with
    * the measure value of the first and last rows java.regex's group
    * assignment maps to it — `FIRST(down.price)` / `LAST(down.price)` —
    * None for a component that matched ZERO rows and for a NULL
    * boundary measure (navigation is value-preserving, unlike SUM).
    * Classification inside the state ([[matchesBy]]'s DEFINE/PREV
    * contract); composes with every AFTER MATCH SKIP mode; same guard
    * and one-attempt state bound as [[matchSkip]]. The streaming twin
    * of the batch matchVarNav fold (the oracle-checked
    * `ev_vshape_firstlast` path). */
  def matchVarNavBy(spark: SparkSession, events: DataFrame,
                    components: Seq[(String, String)],
                    skip: RowPattern.SkipMode,
                    idCol: String = "user_id",
                    tieCol: String = "event_id",
                    orderCol: String = "ts",
                    measureCol: String = "value",
                    allowedLatenessUs: Long = 0L,
                    onLate: String = "fail",
                    maxBufferedEvents: Int = DefaultMaxBuffered)
                   (classify: (Row, Row) => Char)
      : Dataset[CepVarNav] = {
    val names = components.map(_._1)
    val wide = driveBy(events, idCol, tieCol, orderCol,
      Guard(allowedLatenessUs, onLate, maxBufferedEvents), measureCol)(
      new RowMatcher.Skips(components, skip, _,
        RowMatcher.VarNav(names.toIndexedSeq), classify))
    typed[CepVarNav](wide.select(col("user_id"), col("match_seq"),
      col("start_id"), col("end_id"),
      inline(array(names.map(n => struct(lit(n).as("var_name"),
        col(s"`${n}_first`").as("first_value"),
        col(s"`${n}_last`").as("last_value"))): _*))))
  }

  /** Streaming labeled ALL ROWS for skip-mode patterns: when a match
    * confirms, EVERY row it covers emits with the NAME of the
    * component it mapped to — `(user_id, match_seq, ord_in_match, id,
    * var_name)` — exactly once; under an overlapping skip a shared row
    * re-emits once per match it participates in, with that match's
    * ordinal (the batch matchRowsSkip grain). Same guard, cap, and
    * bounds as [[matchSkip]]. */
  def matchRowsSkipBy(spark: SparkSession, events: DataFrame,
                      components: Seq[(String, String)],
                      skip: RowPattern.SkipMode,
                      idCol: String = "user_id",
                      tieCol: String = "event_id",
                      orderCol: String = "ts",
                      allowedLatenessUs: Long = 0L,
                      onLate: String = "fail",
                      maxBufferedEvents: Int = DefaultMaxBuffered)
                     (classify: (Row, Row) => Char)
      : Dataset[CepVarRow] =
    typed[CepVarRow](driveBy(events, idCol, tieCol, orderCol,
      Guard(allowedLatenessUs, onLate, maxBufferedEvents))(
      new RowMatcher.Skips(components, skip, _,
        RowMatcher.Labeled(components.map(_._1).toIndexedSeq), classify)),
      "var_name" -> "var")

  /** Streaming ALL ROWS with RUNNING/FINAL measures: when a match
    * confirms, every covered row emits with the SQL:2016 RUNNING SUM
    * (the inclusive prefix sum of `measureCol` inside the match) and
    * the FINAL SUM (the match total — known at confirmation, equal to
    * running on the last row; RUNNING COUNT(*) is `ord_in_match`),
    * exactly once. Classification inside the checkpointed state (the
    * DEFINE/PREV contract of [[matchSpansBy]]); terminator-disjoint
    * patterns only; `measureCol` must be LONG (pre-scale money to
    * cents). The streaming twin of the batch matchRowsRunning fold (the
    * oracle-checked `ev_updown_running` path). */
  def matchRowsRunningBy(spark: SparkSession, events: DataFrame,
                         pattern: String,
                         idCol: String = "user_id",
                         tieCol: String = "event_id",
                         orderCol: String = "ts",
                         measureCol: String = "value",
                         allowedLatenessUs: Long = 0L,
                         onLate: String = "fail",
                         maxBufferedEvents: Int = DefaultMaxBuffered)
                        (classify: (Row, Row) => Char)
      : Dataset[CepRunningRow] =
    typed[CepRunningRow](driveBy(events, idCol, tieCol, orderCol,
      Guard(allowedLatenessUs, onLate, maxBufferedEvents), measureCol)(
      new RowMatcher.Spans(pattern, _, RowMatcher.AllRows, classify)))
}
