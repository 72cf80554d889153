package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{DateType, TimestampType}

/** Public library facade for behavioral event analytics over ARBITRARY
  * caller DataFrames, delegating to the paths behind the
  * oracle-checked `ev_segment_overlap` / `ev_seq_patterns` queries.
  */
object Events {

  /** Pairwise audience overlap: (ta, tb, n_a, n_b, n_both) for every
    * unordered pair of segment values, n_both = entities present in
    * both. The incidence dedups before the entity-keyed pair join, so
    * cost is entities × segments-per-entity, never raw event volume. */
  def segmentOverlap(events: DataFrame, idCol: String = "user_id",
                     segCol: String = "event_type"): DataFrame =
    graft.operators.EventAnalytics.segmentOverlapOf(
      events.select(col(idCol), col(segCol)))

  /** Top-k consecutive label triples by distinct-entity support.
    * (orderCol, tieCol) must totally order each entity's stream. */
  def sequencePatterns(events: DataFrame, k: Int = 15,
                       idCol: String = "user_id",
                       tieCol: String = "event_id",
                       labelCol: String = "event_type",
                       orderCol: String = "ts"): DataFrame =
    graft.operators.EventAnalytics.seqPatternsOf(
      events.select(col(idCol), col(tieCol), col(labelCol),
        col(orderCol)), k)

  /** Row-pattern matching (MATCH_RECOGNIZE / CEP) over an arbitrary
    * event frame: per entity, the count of `pattern`'s leftmost /
    * non-overlapping / greedy matches against the entity's trace of
    * single-char codes in ((orderCol, tieCol)) order. `codeCol` must
    * hold one character per event (map event types to a code alphabet
    * first); `pattern` is a regex over that alphabet —
    * [[graft.functions.RowPattern.permute]] builds the SQL:2016
    * `PERMUTE(A, B, …)` any-order form. Delegates to
    * the path behind the oracle-checked `t10_cep_twin` /
    * `ev_match_recognize`; the same engine runs incrementally with
    * checkpointed per-key state in streaming.CepPattern.
    *
    * MEMORY CONTRACT (bounded for EVERY pattern this accepts): one
    * entity-keyed shuffle; per-entity state is the RowPattern
    * speculation chain — never the entity's history and never a
    * buffered trace. Terminator-disjoint patterns
    * (`RowPattern.terminatorDisjoint`, e.g. the funnel `v[co]*p`) are
    * O(|pattern|) by construction; other patterns (e.g. `v.*p`) run
    * bounded by `depthCap` unresolved speculative scans and FAIL
    * LOUDLY past it — reachable only for the degenerate
    * loop-alternation class where leftmost semantics genuinely need
    * trace-proportional state (see the RowPattern object doc).
    *
    * `orderCol` may be a TIMESTAMP or an epoch-micros LONG — both
    * facades normalize to micros internally, so a caller moving
    * between [[matchPattern]] and [[matchSpans]] never converts. */
  def matchPattern(events: DataFrame, pattern: String,
                   idCol: String = "user_id",
                   tieCol: String = "event_id",
                   codeCol: String = "code",
                   orderCol: String = "ts",
                   depthCap: Int = 4096): DataFrame =
    graft.operators.EventAnalytics.matchCountsOf(
      events.select(col(idCol), orderMicros(events, orderCol),
        col(tieCol), col(codeCol)), pattern, depthCap)

  /** Normalize the ordering column to epoch-micros: TIMESTAMP (and
    * DATE, via an implicit midnight cast) go through unix_micros; an
    * integral column passes through as-is. One rule for matchPattern
    * AND matchSpans — the round-9 ts-vs-us facade asymmetry removed. */
  private def orderMicros(events: DataFrame, orderCol: String): Column = {
    val c = events.schema(orderCol).dataType match {
      case TimestampType => unix_micros(col(orderCol))
      case DateType => unix_micros(col(orderCol).cast(TimestampType))
      case _ => col(orderCol).cast("long")
    }
    c.as(orderCol)
  }

  /** MATCH_RECOGNIZE **ONE ROW PER MATCH**: every match of `pattern`
    * in the entity's ordered code stream as its own row —
    * (idCol, start_us, start_event_id, end_us, end_event_id), where
    * start is the match's first event and end its last. Same
    * one-shuffle ordered fold as [[matchPattern]]; delegates to the
    * path behind the oracle-checked `ev_match_spans`. Span mode
    * requires a TERMINATOR-DISJOINT pattern (loud failure otherwise:
    * speculative span buffers are only bounded under that contract)
    * and exactly one code char per event; `orderCol` may be a
    * TIMESTAMP or an epoch-micros LONG — either way the span rows
    * carry epoch-micros back (start_us/end_us). */
  def matchSpans(events: DataFrame, pattern: String,
                 idCol: String = "user_id",
                 tieCol: String = "event_id",
                 codeCol: String = "code",
                 orderCol: String = "us"): DataFrame =
    graft.operators.EventAnalytics.matchSpansOf(
      events.select(col(idCol), orderMicros(events, orderCol),
        col(tieCol), col(codeCol)), pattern)

  /** MATCH_RECOGNIZE **ALL ROWS PER MATCH** — the third SQL:2016
    * output mode: EVERY event of every match as its own row,
    * (idCol, match_seq, ord_in_match, us, event_id, code), where
    * match_seq numbers the entity's matches in start order and
    * ord_in_match the events inside each match. Same one-shuffle
    * ordered fold and the same terminator-disjoint + one-char-code
    * contract as [[matchSpans]] (per-entity memory O(|pattern| +
    * longest live match)); delegates to the path behind the
    * oracle-checked `ev_match_rows`. Counts, spans, and rows are
    * mutually consistent by construction — EventFoldSpec pins
    * rows-per-match endpoints == matchSpans and distinct match_seq ==
    * matchPattern counts. */
  def matchRows(events: DataFrame, pattern: String,
                idCol: String = "user_id",
                tieCol: String = "event_id",
                codeCol: String = "code",
                orderCol: String = "us"): DataFrame =
    graft.operators.EventAnalytics.matchRowsOf(
      events.select(col(idCol), orderMicros(events, orderCol),
        col(tieCol), col(codeCol)), pattern)

  /** MATCH_RECOGNIZE **AFTER MATCH SKIP TO NEXT ROW** — the other
    * SQL:2016 skip mode ([[matchPattern]] is SKIP PAST LAST ROW): per
    * entity, the number of rows where a match of `pattern` STARTS,
    * counting OVERLAPPING matches — per-position
    * `Matcher.lookingAt()` semantics (RowPatternSpec pins the
    * equality). Engine: a reversed-NFA subset machine folded in
    * DESCENDING event order — one entity-keyed shuffle and ONE
    * O(|pattern|)-bit liveness set per entity for ANY pattern (start
    * existence is pure reachability, so no speculation chain and no
    * depthCap — this mode is bounded even where find() counting caps).
    * Nullable patterns are rejected loudly (an empty match would
    * start at every row). Delegates to the path behind the
    * oracle-checked `ev_overlap_counts`. */
  def matchStarts(events: DataFrame, pattern: String,
                  idCol: String = "user_id",
                  tieCol: String = "event_id",
                  codeCol: String = "code",
                  orderCol: String = "ts"): DataFrame =
    graft.operators.EventAnalytics.overlapCountsOf(
      events.select(col(idCol), orderMicros(events, orderCol),
        col(tieCol), col(codeCol)), pattern)

  /** MATCH_RECOGNIZE **MEASURES** (the SQL:2016 MEASURES clause at
    * ONE ROW PER MATCH grain): every match of `pattern` as one row
    * carrying its aggregates — (idCol, match_seq, start_us,
    * start_event_id, end_us, end_event_id, n_events, sum_cents) —
    * FIRST/LAST ts and ids, COUNT(*) of matched events, and the exact
    * long sum of `valueCol` over them. The span fold's bounded ring
    * also carries the value, so measures aggregate AS SPANS CONFIRM:
    * matched rows are never re-shuffled or joined back, and the whole
    * clause costs the one entity-keyed shuffle [[matchPattern]] pays.
    * `valueCol` must be integral (pre-scale money to cents — the
    * library's decimal-exactness contract); same terminator-disjoint
    * + one-char-code contract as [[matchSpans]]. Delegates to the
    * path behind the oracle-checked `ev_match_measures`. */
  def matchMeasures(events: DataFrame, pattern: String,
                    valueCol: String,
                    idCol: String = "user_id",
                    tieCol: String = "event_id",
                    codeCol: String = "code",
                    orderCol: String = "us"): DataFrame =
    graft.operators.EventAnalytics.matchMeasuresOf(
      events.select(col(idCol), orderMicros(events, orderCol),
        col(tieCol), col(codeCol), col(valueCol).cast("long")), pattern)

  /** MATCH_RECOGNIZE with DEFINE-style NAVIGATION (PREV): real
    * MATCH_RECOGNIZE classifies events by predicates over neighbors
    * (`DEFINE U AS price > PREV(price)`), which a precomputed per-row
    * code column cannot express. Here the code char is computed
    * INSIDE the ordered fold by `classify(prev, cur)` — `prev` is the
    * entity's previous event row in (orderCol, tieCol) order, or null
    * on the entity's first event — and the match count per entity
    * comes off the same speculation-chain machine as [[matchPattern]]
    * (same memory contract; delegates to the path behind the
    * oracle-checked `ev_updown_runs`). `classify` must be serializable
    * (a plain function literal is); rows passed to it carry the
    * caller's FULL row, so predicates can read any column. */
  def matchPatternBy(events: DataFrame, pattern: String)
                    (classify: (org.apache.spark.sql.Row,
                      org.apache.spark.sql.Row) => Char,
                     idCol: String = "user_id",
                     tieCol: String = "event_id",
                     orderCol: String = "ts",
                     depthCap: Int = 4096): DataFrame =
    graft.operators.EventAnalytics.matchCountsClassified(
      events, pattern, Seq(idCol), Seq(orderCol, tieCol),
      depthCap)(classify)

  /** ONE ROW PER MATCH with DEFINE-style NAVIGATION (round 11): the
    * [[matchPatternBy]] classifier composed with span output — every
    * match as (idCol..., match_seq, start_id, end_id, n_events),
    * start/end being `tieCol` (LONG) of the match's first/last rows.
    * Same memory contract as [[matchSpans]] plus ONE held row (the
    * PREV window); requires a terminator-disjoint pattern. Delegates
    * to the path behind the oracle-checked `ev_updown_spans`. */
  def matchSpansBy(events: DataFrame, pattern: String)
                  (classify: (org.apache.spark.sql.Row,
                    org.apache.spark.sql.Row) => Char,
                   idCol: String = "user_id",
                   tieCol: String = "event_id",
                   orderCol: String = "ts"): DataFrame =
    graft.operators.EventAnalytics.matchSpansClassified(
      events, pattern, Seq(idCol), Seq(orderCol, tieCol), tieCol)(classify)

  /** ALL ROWS PER MATCH with DEFINE-style NAVIGATION: every matched
    * row as (idCol..., match_seq, ord_in_match, id, cls) — `cls` the
    * row's CLASSIFIER() label as computed by `classify` inside the
    * fold, the SQL:2016 per-row output grain composed with navigation
    * predicates. Same contract as [[matchSpansBy]]; delegates to the
    * path behind the oracle-checked `ev_updown_rows`. */
  def matchRowsBy(events: DataFrame, pattern: String)
                 (classify: (org.apache.spark.sql.Row,
                   org.apache.spark.sql.Row) => Char,
                  idCol: String = "user_id",
                  tieCol: String = "event_id",
                  orderCol: String = "ts"): DataFrame =
    graft.operators.EventAnalytics.matchRowsClassified(
      events, pattern, Seq(idCol), Seq(orderCol, tieCol), tieCol)(classify)

  /** MEASURES with DEFINE-style NAVIGATION: every match as one
    * aggregate row (idCol..., match_seq, start_id, end_id, n_events,
    * sum_measure), the sum taken over `valueCol` (integral — pre-scale
    * money to cents) off the bounded ring as matches confirm. Same
    * contract as [[matchSpansBy]]; delegates to the path behind the
    * oracle-checked `ev_updown_measures`. */
  def matchMeasuresBy(events: DataFrame, pattern: String,
                      valueCol: String)
                     (classify: (org.apache.spark.sql.Row,
                       org.apache.spark.sql.Row) => Char,
                      idCol: String = "user_id",
                      tieCol: String = "event_id",
                      orderCol: String = "ts"): DataFrame =
    graft.operators.EventAnalytics.matchMeasuresClassified(
      events, pattern, Seq(idCol), Seq(orderCol, tieCol), tieCol,
      valueCol)(classify)

  /** AFTER MATCH SKIP TO FIRST/LAST `<var>` (round 11 — the remaining
    * SQL:2016 skip modes, with [[matchPattern]] covering PAST LAST ROW
    * and [[matchStarts]] TO NEXT ROW): `components` is the ordered
    * named-component sequence (`PATTERN (strt down+ up+)` ≈
    * `Seq("strt" -> ".", "down" -> "D+", "up" -> "U+")`), `skip` a
    * [[graft.functions.RowPattern.SkipMode]]; after each match the
    * scan resumes AT the first/last row mapped to the named component,
    * so matches may overlap at the shared row (the V-shape chain).
    * Emits (idCol..., match_seq, start_id, end_id, n_events) with ids
    * from `tieCol`. Classification runs inside the fold
    * ([[matchPatternBy]]'s DEFINE/PREV contract). A skip that
    * resolves to the match's own first row, or targets a component
    * that matched no rows, fails loudly — SQL:2016 makes both errors.
    * Delegates to the path behind the oracle-checked
    * `ev_vshape_skip_last` / `ev_vshape_skip_first`. */
  def matchSpansSkipBy(events: DataFrame,
                       components: Seq[(String, String)],
                       skip: graft.functions.RowPattern.SkipMode)
                      (classify: (org.apache.spark.sql.Row,
                        org.apache.spark.sql.Row) => Char,
                       idCol: String = "user_id",
                       tieCol: String = "event_id",
                       orderCol: String = "ts"): DataFrame =
    graft.operators.EventAnalytics.matchSpansSkip(
      events, components, skip, Seq(idCol), Seq(orderCol, tieCol),
      tieCol)(classify)

  /** ALL ROWS PER MATCH for skip-mode patterns: every matched row as
    * (idCol..., match_seq, ord_in_match, id, var), `var` the NAME of
    * the pattern component the row mapped to (java.regex's group
    * assignment — SQL:2016 CLASSIFIER() at variable grain). Under an
    * overlapping skip a shared row emits once per match it
    * participates in. Delegates to the path behind the oracle-checked
    * `ev_vshape_rows`. */
  def matchRowsSkipBy(events: DataFrame,
                      components: Seq[(String, String)],
                      skip: graft.functions.RowPattern.SkipMode)
                     (classify: (org.apache.spark.sql.Row,
                       org.apache.spark.sql.Row) => Char,
                      idCol: String = "user_id",
                      tieCol: String = "event_id",
                      orderCol: String = "ts"): DataFrame =
    graft.operators.EventAnalytics.matchRowsSkip(
      events, components, skip, Seq(idCol), Seq(orderCol, tieCol),
      tieCol)(classify)

  /** PER-VARIABLE MEASURES (round 11 — the SQL:2016 MEASURES clause at
    * component scope: `COUNT(down.*)`, `SUM(down.price)` …): every
    * confirmed match of the named-component pattern emits one row with
    * (idCol..., match_seq, start_id, end_id) plus, per component
    * `name`, `name_n` and `name_sum` — the count of and exact long
    * sum of `valueCol` over exactly the rows java.regex's group
    * assignment maps to that component (replay-pinned). Composes with
    * every AFTER MATCH SKIP mode; classification runs inside the fold
    * ([[matchPatternBy]]'s DEFINE/PREV contract). Delegates to the
    * path behind the oracle-checked `ev_vshape_measures`. */
  def matchVarMeasuresBy(events: DataFrame,
                         components: Seq[(String, String)],
                         skip: graft.functions.RowPattern.SkipMode,
                         valueCol: String,
                         subsets: Seq[(String, Seq[String])] = Nil)
                        (classify: (org.apache.spark.sql.Row,
                          org.apache.spark.sql.Row) => Char,
                         idCol: String = "user_id",
                         tieCol: String = "event_id",
                         orderCol: String = "ts"): DataFrame =
    graft.operators.EventAnalytics.matchVarMeasures(
      events, components, skip, Seq(idCol), Seq(orderCol, tieCol),
      tieCol, valueCol, subsets)(classify)

  /** FIRST/LAST VALUE NAVIGATION in MEASURES (round 13 — SQL:2016's
    * `FIRST(down.price)` / `LAST(down.price)`): per confirmed match,
    * (idCol..., match_seq, start_id, end_id) plus, per component
    * `name`, `name_first` / `name_last` — the `valueCol` value of the
    * first and last row java.regex's group assignment maps to that
    * component, NULL when the component matched zero rows (navigation
    * on empty). Composes with every AFTER MATCH SKIP mode;
    * classification inside the fold. Delegates to the path behind the
    * oracle-checked `ev_vshape_firstlast`. */
  def matchVarNavBy(events: DataFrame,
                    components: Seq[(String, String)],
                    skip: graft.functions.RowPattern.SkipMode,
                    valueCol: String)
                   (classify: (org.apache.spark.sql.Row,
                     org.apache.spark.sql.Row) => Char,
                    idCol: String = "user_id",
                    tieCol: String = "event_id",
                    orderCol: String = "ts"): DataFrame =
    graft.operators.EventAnalytics.matchVarNav(
      events, components, skip, Seq(idCol), Seq(orderCol, tieCol),
      tieCol, valueCol)(classify)

  /** ALL ROWS PER MATCH with RUNNING vs FINAL measures (round 12 —
    * SQL:2016's RUNNING SUM(x) is the aggregate up to and including
    * the current row, FINAL SUM(x) the whole match's): every matched
    * row as (idCol..., match_seq, ord_in_match, id, cls, running_sum,
    * final_sum); RUNNING COUNT(*) is ord_in_match itself. The running
    * accumulator rides the confirming span's ring slice — no window,
    * no re-join. Terminator-disjoint patterns only; delegates to the
    * path behind the oracle-checked `ev_updown_running`. */
  def matchRowsRunningBy(events: DataFrame, pattern: String,
                         valueCol: String)
                        (classify: (org.apache.spark.sql.Row,
                          org.apache.spark.sql.Row) => Char,
                         idCol: String = "user_id",
                         tieCol: String = "event_id",
                         orderCol: String = "ts"): DataFrame =
    graft.operators.EventAnalytics.matchRowsRunning(
      events, pattern, Seq(idCol), Seq(orderCol, tieCol),
      tieCol, valueCol)(classify)

  /** Row-pattern match counts with DEEP NAVIGATION — PREV(col, n) for
    * n up to 64 (round 12; [[matchPatternBy]] is n = 1): `classify`
    * sees the entity's last `lag` rows ordered OLDEST→NEWEST
    * (`prevs.last` = PREV(1), `prevs.head` = PREV(lag) once full;
    * shorter near the entity's start), so `DEFINE U AS price >
    * PREV(price, 2)` is expressible. Per-entity state is the machine
    * plus a bounded lag-row ring. Delegates to the path behind the
    * oracle-checked `ev_updown_lag2`. */
  def matchPatternByLag(events: DataFrame, pattern: String, lag: Int)
                       (classify: (collection.IndexedSeq[
                          org.apache.spark.sql.Row],
                          org.apache.spark.sql.Row) => Char,
                        idCol: String = "user_id",
                        tieCol: String = "event_id",
                        orderCol: String = "ts"): DataFrame =
    graft.operators.EventAnalytics.matchCountsClassifiedLag(
      events, pattern, Seq(idCol), Seq(orderCol, tieCol), lag)(classify)

  /** Streaming twin of [[matchPattern]]: the SAME machine carried as
    * checkpointed per-key state through flatMapGroupsWithState
    * (streaming/CepPattern — restart-twin-pinned against the batch
    * fold in CepPatternSpec). `parsed` is a streaming frame with
    * (user_id, event_id, ts TIMESTAMP, event_type) — the
    * StreamingIngest.parse shape; `codeExpr` is any SQL expression
    * over those columns yielding the per-event code char(s), default
    * the funnel mapping. Each micro-batch emits, per key WHOSE RESULT
    * CHANGED, the match count as if the stream ended there (equal to
    * the batch fold at quiescence, for any pattern) plus the running
    * late-drop counter. Memory contract as [[matchPattern]].
    *
    * ORDERING CONTRACT (guarded — see streaming/CepPattern): matches
    * are defined over each key's (ts, event_id) event-time order.
    * Disorder up to `allowedLatenessUs` is absorbed exactly by a
    * watermark-bounded per-key reorder buffer (a keyed Kafka topic
    * needs 0; declare the real delay for a union/repartitioned
    * source). An event later than that is NEVER silently fed:
    * `onLate="fail"` (default) kills the query with the contract in
    * the message; `onLate="drop"` skips it and surfaces the count in
    * the emitted `n_late_dropped`. The buffer itself is HARD-CAPPED at
    * `maxBufferedEvents` per key (default 65536): its natural size is
    * arrival-rate × declared lateness, so a hot key under a large
    * lateness would otherwise grow state silently until the state
    * store pays — at the cap the query fails loudly under `"fail"`,
    * or sheds the over-cap event into `n_late_dropped` under
    * `"drop"`; per-key state is bounded by an explicit constant
    * either way. */
  def matchPatternStream(spark: org.apache.spark.sql.SparkSession,
                         parsed: DataFrame, pattern: String,
                         depthCap: Int = 4096,
                         codeExpr: String =
                           graft.streaming.CepPattern.funnelCode,
                         allowedLatenessUs: Long = 0L,
                         onLate: String = "fail",
                         maxBufferedEvents: Int =
                           graft.streaming.CepPattern.DefaultMaxBuffered)
      : org.apache.spark.sql.Dataset[
        graft.streaming.CepPattern.CepPatternUpdate] =
    graft.streaming.CepPattern.matches(
      spark, parsed, pattern, depthCap, codeExpr,
      allowedLatenessUs, onLate, maxBufferedEvents)

  /** Streaming twin of [[matchPatternBy]] (DEFINE/PREV over a
    * stream): the code char is computed inside the checkpointed
    * per-key state by `classify(prev, cur)` — `prev` the key's
    * previous event row in event-time order, carried across
    * micro-batches AND restarts (null on the key's first event) — so
    * neighbor predicates (`DEFINE U AS price > PREV(price)`) run
    * streaming. Same ordering guard, buffer hard cap, and
    * emit-on-change emission as [[matchPatternStream]]; the reorder
    * buffer holds whole rows because classification must wait for
    * event-time release. `events` needs `idCol`/`tieCol` LONG and
    * `orderCol` TIMESTAMP; `classify` sees the caller's full row and
    * must be serializable. Restart-twin-pinned against the batch
    * classified fold in CepPatternSpec. */
  def matchPatternStreamBy(spark: org.apache.spark.sql.SparkSession,
                           events: DataFrame, pattern: String,
                           idCol: String = "user_id",
                           tieCol: String = "event_id",
                           orderCol: String = "ts",
                           depthCap: Int = 4096,
                           allowedLatenessUs: Long = 0L,
                           onLate: String = "fail",
                           maxBufferedEvents: Int =
                             graft.streaming.CepPattern.DefaultMaxBuffered)
                          (classify: (org.apache.spark.sql.Row,
                            org.apache.spark.sql.Row) => Char)
      : org.apache.spark.sql.Dataset[
        graft.streaming.CepPattern.CepPatternUpdate] =
    graft.streaming.CepPattern.matchesBy(
      spark, events, pattern, idCol, tieCol, orderCol, depthCap,
      allowedLatenessUs, onLate, maxBufferedEvents)(classify)

  /** Streaming twin of [[matchSpansBy]] (DEFINE/PREV × ONE ROW PER
    * MATCH over a stream, round 11): the classifier runs inside the
    * checkpointed per-key state (prev row carried across batches and
    * restarts) and confirmed spans emit exactly once — (user_id,
    * match_seq, start_us, start_event_id, end_us, end_event_id,
    * n_events) with the order/tie coordinates of the match's first and
    * last rows. Requires a terminator-disjoint pattern; same ordering
    * guard, buffer cap, and confirmation timing as
    * [[matchSpansStream]]; restart-twin-pinned against the batch
    * classified span fold in CepPatternSpec. */
  def matchSpansStreamBy(spark: org.apache.spark.sql.SparkSession,
                         events: DataFrame, pattern: String,
                         idCol: String = "user_id",
                         tieCol: String = "event_id",
                         orderCol: String = "ts",
                         allowedLatenessUs: Long = 0L,
                         onLate: String = "fail",
                         maxBufferedEvents: Int =
                           graft.streaming.CepPattern.DefaultMaxBuffered)
                        (classify: (org.apache.spark.sql.Row,
                          org.apache.spark.sql.Row) => Char)
      : org.apache.spark.sql.Dataset[
        graft.streaming.CepPattern.CepSkipMatch] =
    graft.streaming.CepPattern.matchSpansBy(
      spark, events, pattern, idCol, tieCol, orderCol,
      allowedLatenessUs, onLate, maxBufferedEvents)(classify)

  /** Streaming twin of [[matchSpans]] (ONE ROW PER MATCH over a
    * stream): each key's confirmed matches emit EXACTLY ONCE, as they
    * confirm — (user_id, match_seq, start_us, start_event_id, end_us,
    * end_event_id), Append-shaped with nothing to retract. A match
    * whose greedy tail later events could still extend stays unemitted
    * until the stream proves it; likewise, under a declared lateness,
    * a match touching events still inside the reorder window emits
    * only once the watermark releases them — span mode is exactly-once
    * Append and never speculates (count mode's estimate covers its
    * buffer instead). At lateness 0 — the keyed-topic shape — the
    * quiescent emitted set equals the batch fold's confirmed spans
    * (restart-twin-pinned in CepPatternSpec). Same ordering guard and
    * buffer hard cap as [[matchPatternStream]]; requires a
    * terminator-disjoint pattern and exactly one code char per event,
    * like the batch span mode. */
  def matchSpansStream(spark: org.apache.spark.sql.SparkSession,
                       parsed: DataFrame, pattern: String,
                       codeExpr: String =
                         graft.streaming.CepPattern.funnelCode,
                       allowedLatenessUs: Long = 0L,
                       onLate: String = "fail",
                       maxBufferedEvents: Int =
                         graft.streaming.CepPattern.DefaultMaxBuffered)
      : org.apache.spark.sql.Dataset[
        graft.streaming.CepPattern.CepSpanMatch] =
    graft.streaming.CepPattern.matchSpans(
      spark, parsed, pattern, codeExpr, allowedLatenessUs, onLate,
      maxBufferedEvents)

  /** Streaming twin of [[matchRows]] (ALL ROWS PER MATCH over a
    * stream, round 11): when a match confirms, EVERY event it covers
    * emits as its own row — (user_id, match_seq, ord_in_match, us,
    * event_id, code), match_seq per key in confirmation order —
    * exactly once, Append-shaped (a confirmed span's rows are final).
    * Confirmation timing, ordering guard, buffer hard cap, and the
    * terminator-disjoint + one-char-code contract are all exactly
    * [[matchSpansStream]]'s; at quiescence the emitted set equals the
    * batch [[matchRows]] fold (restart-twin-pinned in
    * CepPatternSpec). */
  def matchRowsStream(spark: org.apache.spark.sql.SparkSession,
                      parsed: DataFrame, pattern: String,
                      codeExpr: String =
                        graft.streaming.CepPattern.funnelCode,
                      allowedLatenessUs: Long = 0L,
                      onLate: String = "fail",
                      maxBufferedEvents: Int =
                        graft.streaming.CepPattern.DefaultMaxBuffered)
      : org.apache.spark.sql.Dataset[
        graft.streaming.CepPattern.CepRowMatch] =
    graft.streaming.CepPattern.matchRows(
      spark, parsed, pattern, codeExpr, allowedLatenessUs, onLate,
      maxBufferedEvents)

  /** Streaming twin of [[matchSpansSkipBy]]'s skip semantics over a
    * parsed code stream (round 11 — every SQL:2016 AFTER MATCH SKIP
    * mode, streaming): the SkipScanner itself is the checkpointed
    * per-key state, so overlapping matches under SKIP TO FIRST/LAST
    * `<var>` emit exactly once as they confirm — (user_id, match_seq,
    * start_us, start_event_id, end_us, end_event_id, n_events),
    * Append-shaped. A match whose confirmation needs evidence the
    * stream has not yet delivered stays unemitted until it arrives
    * (the matchSpansStream contract); state is ONE buffered attempt
    * per key, never the history. Same ordering guard and hard cap as
    * [[matchPatternStream]]; degenerate skips fail loudly. */
  def matchSkipStream(spark: org.apache.spark.sql.SparkSession,
                      parsed: DataFrame,
                      components: Seq[(String, String)],
                      skip: graft.functions.RowPattern.SkipMode,
                      codeExpr: String =
                        graft.streaming.CepPattern.funnelCode,
                      allowedLatenessUs: Long = 0L,
                      onLate: String = "fail",
                      maxBufferedEvents: Int =
                        graft.streaming.CepPattern.DefaultMaxBuffered)
      : org.apache.spark.sql.Dataset[
        graft.streaming.CepPattern.CepSkipMatch] =
    graft.streaming.CepPattern.matchSkip(
      spark, parsed, components, skip, codeExpr, allowedLatenessUs,
      onLate, maxBufferedEvents)

  /** Streaming twin of [[matchMeasures]] (round 11 — completes the
    * streaming output-mode matrix): one row per CONFIRMED match
    * carrying its MEASURES — (user_id, match_seq, start_us,
    * start_event_id, end_us, end_event_id, n_events, sum_value), the
    * sum taken over `valueExpr` (a SQL expression over the parsed
    * columns yielding LONG; pre-scale money to cents) — exactly once,
    * Append-shaped, aggregated off the checkpointed ring at
    * confirmation. Confirmation timing, ordering guard, buffer hard
    * cap, and contracts exactly as [[matchSpansStream]]; at quiescence
    * the emitted set equals the batch [[matchMeasures]] fold
    * (restart-twin-pinned in CepPatternSpec). */
  def matchMeasuresStream(spark: org.apache.spark.sql.SparkSession,
                          parsed: DataFrame, pattern: String,
                          codeExpr: String =
                            graft.streaming.CepPattern.funnelCode,
                          valueExpr: String =
                            "cast(cast(value as decimal(18,2)) * 100 " +
                              "as long)",
                          allowedLatenessUs: Long = 0L,
                          onLate: String = "fail",
                          maxBufferedEvents: Int =
                            graft.streaming.CepPattern.DefaultMaxBuffered)
      : org.apache.spark.sql.Dataset[
        graft.streaming.CepPattern.CepMeasureMatch] =
    graft.streaming.CepPattern.matchMeasures(
      spark, parsed, pattern, codeExpr, valueExpr, allowedLatenessUs,
      onLate, maxBufferedEvents)

  /** Streaming twin of [[matchVarMeasuresBy]] (round 12 — streaming
    * PER-VARIABLE MEASURES): every confirmed match emits one row per
    * pattern component — (user_id, match_seq, var_name, n_rows,
    * sum_value), the count and exact long sum of `measureCol` over
    * exactly the rows java.regex's group assignment maps to that
    * component — exactly once as the checkpointed SkipScanner confirms
    * it, classification inside the state ([[matchPatternStreamBy]]'s
    * DEFINE/PREV contract). Long form (the component list is a runtime
    * argument; pivot for the batch wide shape). `measureCol` must be
    * LONG — pre-scale money to cents. Restart-twin-pinned against the
    * batch fold in CepPatternSpec. */
  def matchVarMeasuresStreamBy(spark: org.apache.spark.sql.SparkSession,
                               events: DataFrame,
                               components: Seq[(String, String)],
                               skip: graft.functions.RowPattern.SkipMode,
                               measureCol: String,
                               idCol: String = "user_id",
                               tieCol: String = "event_id",
                               orderCol: String = "ts",
                               allowedLatenessUs: Long = 0L,
                               onLate: String = "fail",
                               maxBufferedEvents: Int =
                                 graft.streaming.CepPattern.DefaultMaxBuffered,
                               subsets: Seq[(String, Seq[String])] = Nil)
                              (classify: (org.apache.spark.sql.Row,
                                org.apache.spark.sql.Row) => Char)
      : org.apache.spark.sql.Dataset[
        graft.streaming.CepPattern.CepVarMeasure] =
    graft.streaming.CepPattern.matchVarMeasuresBy(
      spark, events, components, skip, idCol, tieCol, orderCol,
      measureCol, allowedLatenessUs, onLate, maxBufferedEvents,
      subsets)(classify)

  /** Streaming twin of [[matchVarNavBy]] (round 14 — streaming
    * FIRST/LAST VALUE NAVIGATION, the last MEASURES form to gain its
    * streaming leg): every confirmed match emits one row per pattern
    * component — (user_id, match_seq, start_id, end_id, var_name,
    * first_value, last_value), the `measureCol` values of the first
    * and last rows java.regex's group assignment maps to that
    * component — exactly once as the checkpointed SkipScanner confirms
    * it, classification inside the state (DEFINE/PREV contract, prev
    * carried across batches and restarts). NULL semantics carried
    * faithfully: None/None for a component that matched empty
    * (SQL:2016 navigation-on-empty) and None for a NULL-valued
    * boundary row (navigation is value-preserving). Long form (the
    * component list is a runtime argument; pivot for the batch wide
    * shape). `measureCol` must be LONG — pre-scale money to cents.
    * Restart-twin-pinned against the batch fold behind the
    * oracle-checked `ev_vshape_firstlast` in CepPatternSpec. */
  def matchVarNavStreamBy(spark: org.apache.spark.sql.SparkSession,
                          events: DataFrame,
                          components: Seq[(String, String)],
                          skip: graft.functions.RowPattern.SkipMode,
                          measureCol: String,
                          idCol: String = "user_id",
                          tieCol: String = "event_id",
                          orderCol: String = "ts",
                          allowedLatenessUs: Long = 0L,
                          onLate: String = "fail",
                          maxBufferedEvents: Int =
                            graft.streaming.CepPattern.DefaultMaxBuffered)
                         (classify: (org.apache.spark.sql.Row,
                           org.apache.spark.sql.Row) => Char)
      : org.apache.spark.sql.Dataset[
        graft.streaming.CepPattern.CepVarNav] =
    graft.streaming.CepPattern.matchVarNavBy(
      spark, events, components, skip, idCol, tieCol, orderCol,
      measureCol, allowedLatenessUs, onLate, maxBufferedEvents)(classify)

  /** Streaming twin of [[matchRowsRunningBy]] (round 13 — streaming
    * ALL ROWS with RUNNING/FINAL measures, the last batch-only
    * MEASURES leg): when a match confirms, every covered row emits as
    * (user_id, match_seq, ord_in_match, id, cls, running_sum,
    * final_sum) — `running_sum` the SQL:2016 RUNNING SUM(measure) up
    * to and including the row, `final_sum` the FINAL SUM over the
    * whole match (equal on the last row; RUNNING COUNT(*) is
    * `ord_in_match`) — exactly once off the checkpointed ring at
    * confirmation, classification inside the state (the DEFINE/PREV
    * contract). `measureCol` must be LONG — pre-scale money to cents.
    * Restart-twin-pinned against the batch fold behind the
    * oracle-checked `ev_updown_running` in CepPatternSpec. */
  def matchRowsRunningStreamBy(spark: org.apache.spark.sql.SparkSession,
                               events: DataFrame, pattern: String,
                               measureCol: String,
                               idCol: String = "user_id",
                               tieCol: String = "event_id",
                               orderCol: String = "ts",
                               allowedLatenessUs: Long = 0L,
                               onLate: String = "fail",
                               maxBufferedEvents: Int =
                                 graft.streaming.CepPattern.DefaultMaxBuffered)
                              (classify: (org.apache.spark.sql.Row,
                                org.apache.spark.sql.Row) => Char)
      : org.apache.spark.sql.Dataset[
        graft.streaming.CepPattern.CepRunningRow] =
    graft.streaming.CepPattern.matchRowsRunningBy(
      spark, events, pattern, idCol, tieCol, orderCol, measureCol,
      allowedLatenessUs, onLate, maxBufferedEvents)(classify)

  /** Streaming twin of [[matchRowsSkipBy]] (round 12 — streaming
    * labeled ALL ROWS for skip-mode patterns): when a match confirms,
    * every covered row emits with its pattern-variable label —
    * (user_id, match_seq, ord_in_match, id, var_name) — exactly once;
    * under an overlapping skip a shared row re-emits once per match it
    * participates in, with that match's ordinal. Classification inside
    * the checkpointed state; restart-twin-pinned against the batch
    * fold in CepPatternSpec. */
  def matchRowsSkipStreamBy(spark: org.apache.spark.sql.SparkSession,
                            events: DataFrame,
                            components: Seq[(String, String)],
                            skip: graft.functions.RowPattern.SkipMode,
                            idCol: String = "user_id",
                            tieCol: String = "event_id",
                            orderCol: String = "ts",
                            allowedLatenessUs: Long = 0L,
                            onLate: String = "fail",
                            maxBufferedEvents: Int =
                              graft.streaming.CepPattern.DefaultMaxBuffered)
                           (classify: (org.apache.spark.sql.Row,
                             org.apache.spark.sql.Row) => Char)
      : org.apache.spark.sql.Dataset[
        graft.streaming.CepPattern.CepVarRow] =
    graft.streaming.CepPattern.matchRowsSkipBy(
      spark, events, components, skip, idCol, tieCol, orderCol,
      allowedLatenessUs, onLate, maxBufferedEvents)(classify)
}
