package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import graft.Tables
import graft.functions.{RowMatcher, RowPattern}

/** Product-analytics operators over the events stream — the two
  * questions every event warehouse answers daily, expressed as exact
  * integer plans:
  *
  *  - **Funnel** (view → click → purchase, strictly ordered in time):
  *    per user, the first view, the first click AFTER that view, the
  *    first purchase AFTER that click. Each stage is one filtered
  *    aggregation joined to the previous stage's timestamps — three
  *    user-keyed hash aggregations, no window over the raw stream, no
  *    self-join explosion. At 100 TB each stage's input is the events
  *    of ONE type (a pushed-down filter) and the join key is user_id:
  *    the classic funnel stays three cheap passes whatever the corpus.
  *  - **Retention cohorts**: users bucket by first-seen day; activity
  *    counts by (cohort_day, day_offset). Two aggregations plus a
  *    user-keyed join against the first-seen table (strategy left to
  *    stats/AQE: broadcast when the user base fits, shuffle join when
  *    it doesn't) — the day-N retention triangle.
  *
  * All timestamps export as epoch micros (exact integers), so the
  * DuckDB oracles hash-match with zero tolerance.
  */
object EventAnalytics extends graft.QuerySet {
  val queries: Map[String, Q] = Map(
    "ev_funnel" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("us"))
      def firstAfter(tpe: String, prev: DataFrame,
                     prevCol: String, out: String): DataFrame =
        e.filter(col("event_type") === tpe)
          .join(prev, "user_id")
          .filter(col("us") > col(prevCol))
          .groupBy("user_id").agg(min("us").as(out))
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("us").as("view_us"))
      val c = firstAfter("click", v, "view_us", "click_us")
      val p = firstAfter("purchase", c, "click_us", "purchase_us")
      v.join(c.select("user_id", "click_us"), Seq("user_id"), "left")
        .join(p.select("user_id", "purchase_us"), Seq("user_id"), "left")
        .orderBy("user_id")
    }),

    "ev_retention" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      // no broadcast hint: the first-seen table is one row PER USER —
      // unbounded cardinality — so the join strategy is left to stats/
      // AQE (broadcast when it fits, user_id-keyed shuffle join when a
      // 100 TB user base doesn't; the hint would bypass that guard)
      val cohort = e.groupBy("user_id").agg(min("day").as("cohort_day"))
      e.join(cohort, "user_id")
        .groupBy(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("users"))
        .select(col("cohort_day").cast("string").as("cohort_day"),
          col("day_offset"), col("users"))
        .orderBy("cohort_day", "day_offset")
    }),

    // Marketing ATTRIBUTION — first-touch vs last-touch for every
    // conversion: each purchase credits the user's earliest and the
    // most recent preceding non-purchase event type over the
    // strictly-prior frame, total-ordered by (ts, event_id);
    // purchases with no prior touch credit 'none'. Output is the
    // first×last attribution matrix — the report that shows how much
    // credit moves when the model changes. The per-purchase touches
    // come from an api.Folds ordered fold (one user-keyed shuffle +
    // secondary sort, two words of per-user state — the one-pass
    // shape sz_sessionize set); the ignore-nulls window form is kept
    // as [[attributionWindowed]] and parity-pinned in EventFoldSpec.
    // The matrix aggregate is category-scale.
    "ev_attribution" -> ((s, dir) =>
      attributionTouches(Tables.events(s, dir)
        .select(col("user_id"), expr("unix_micros(ts)").as("us"),
          col("event_id"), col("event_type")))
        .groupBy(
          coalesce(col("first_touch"), lit("none")).as("first_touch"),
          coalesce(col("last_touch"), lit("none")).as("last_touch"))
        .agg(count(lit(1)).as("n_purchases"))
        .orderBy("first_touch", "last_touch")),

    // AUDIENCE OVERLAP matrix — for every pair of event types, how
    // many users did both (the segment-intersection report behind
    // "does retargeting reach the purchasers?"). The user×type
    // incidence dedups first (one distinct on the (user, type)
    // grain), then a self-equi-join on user_id emits each unordered
    // type pair once (ta < tb); per-type audience sizes join on the
    // type key (category-scale broadcast). At 100 TB the join grain
    // is users × types-per-user — bounded by the type vocabulary,
    // never by raw event volume, because the dedup ran first.
    "ev_segment_overlap" -> ((s, dir) =>
      segmentOverlapOf(Tables.events(s, dir)
        .select(col("user_id"), col("event_type")))),

    // SEQUENTIAL PATTERNS — the top behavior trigrams: each user's
    // event stream (total-ordered by ts, event_id) contributes its
    // consecutive type triples, and the report ranks triples by
    // support (distinct users exhibiting the pattern — the standard
    // sequence-mining support, robust to one user looping). The
    // triples come from an api.Folds ordered fold (one user-keyed
    // shuffle + secondary sort, two words of per-user state — no
    // window pass), then a (user, triple) dedup, a triple-keyed
    // count, and a TakeOrdered top-15 — no self-joins, no pattern
    // enumeration beyond what the data contains. The two-lag window
    // form is kept as [[seqPatternsWindowed]] and parity-pinned in
    // EventFoldSpec.
    "ev_seq_patterns" -> ((s, dir) =>
      seqPatternsOf(Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("unix_micros(ts)").as("us")), 15)),

    // ROW-PATTERN MATCHING — the MATCH_RECOGNIZE workload (SQL:2016;
    // Snowflake/Trino/Flink ship it, Spark does not): per user, count
    // the non-overlapping occurrences of the pattern
    // `view (click|other)* purchase` — a view that converts to a
    // purchase with no intervening re-view — in the user's stream,
    // total-ordered by (ts, event_id). The plan compiles the pattern
    // to an NFA (functions.RowPattern) and FOLDS it over each user's
    // ordered events (matchCountsOf — one user-keyed shuffle with a
    // secondary sort, exact Matcher.find() semantics), and the report
    // is the conversions-per-user histogram (robust shape at every
    // scale factor). The DuckDB oracle scans per-user traces with its
    // own regex engine — leftmost / non-overlapping / greedy on both
    // sides, so counts are exact.
    //
    // Scale shape: one shuffle on user_id; per-user state is
    // O(|pattern|) machine threads — by construction, since v[co]*p
    // is terminator-disjoint (the 'p' that completes a match is
    // outside the loop class; RowPattern.terminatorDisjoint) — NOT
    // the user's history (the old trace-aggregation buffer was
    // unbounded on a hyperactive bot), so one hot entity is a wide
    // sorted run, never a multi-GB aggregation buffer. No second
    // shuffle, no self-join, no explode.
    "ev_match_recognize" -> ((s, dir) =>
      matchCountsOf(funnelCoded(s, dir), "v[co]*p")
        .groupBy("n_matches")
        .agg(count(lit(1)).as("n_users"),
          min("user_id").as("min_user"), max("user_id").as("max_user"))
        .orderBy("n_matches")),

    // MATCH_RECOGNIZE **ONE ROW PER MATCH** — the other SQL:2016
    // output mode: per user, EVERY `v[co]*p` match as its own row
    // carrying the anchor view's and converting purchase's timestamps
    // and event ids (the funnel-latency grain downstream attribution
    // consumes). The engine side is fully general: the RowPattern
    // speculation chain emits each confirmed match's (start, end)
    // positions through the same one-shuffle ordered fold as
    // ev_match_recognize, with a bounded position→event ring pruned
    // by the machine's minLivePos (span mode requires a
    // terminator-disjoint pattern — enforced loudly — so the ring and
    // the speculative span buffers are O(|pattern| + match length)).
    // The ORACLE is an independent closed form, not a port of the
    // engine: for v[co]*p, leftmost/non-overlapping/greedy matches
    // are EXACTLY the p-events whose predecessor in the per-user
    // v/p-filtered subsequence is a v (that predecessor is the match
    // start): the one-bit DFA re-derived as a single window lag.
    // Cross-engine agreement of two unrelated formulations is the
    // strongest oracle in the event family.
    "ev_match_spans" -> ((s, dir) =>
      matchSpansOf(funnelCoded(s, dir), "v[co]*p")
        .select(col("user_id"), col("start_us"), col("start_event_id"),
          col("end_us"), col("end_event_id"))
        .orderBy("user_id", "start_us", "start_event_id")),

    // MATCH_RECOGNIZE **ALL ROWS PER MATCH** — the third SQL:2016
    // output mode: EVERY event of every `v[co]*p` match as its own
    // row, labeled with the match's per-user ordinal (start order)
    // and the event's position inside the match — the grain SQL:2016
    // defines for per-event measures (RUNNING aggregates, CLASSIFIER).
    // Engine: the ev_match_spans fold (same machine, same
    // minLivePos-pruned ring), emitting the ring slice each span
    // covers instead of its endpoints; match_seq order rests on the
    // span machine's prepend-merge (spans confirm in start order for
    // any disjoint pattern — EventFoldSpec pins counts/spans/rows
    // mutually consistent). ORACLE: derived from the ev_match_spans
    // closed form, NOT the engine — the window-lag span table joined
    // back to the events in each span's (us, event_id) range, with
    // row_number() producing both ordinals. Matched events are
    // exactly the in-range events because the closed form puts no
    // v/p strictly inside a span (every interior event is c/o, all
    // consumed by the loop).
    "ev_match_rows" -> ((s, dir) =>
      matchRowsOf(funnelCoded(s, dir), "v[co]*p")
        .select(col("user_id"), col("match_seq"), col("ord_in_match"),
          col("us"), col("event_id"), col("code"))
        .orderBy("user_id", "match_seq", "ord_in_match")),

    // AFTER MATCH SKIP TO NEXT ROW — OVERLAPPING matches, the other
    // SQL:2016 skip mode: per user, count the rows where a `v[co]*v`
    // match STARTS (view→view chains with only clicks/others between —
    // the re-engagement metric find() counting understates, because a
    // chain's middle view ends one match AND starts the next). Engine:
    // the reversed-NFA StartDetector folded in descending event-time
    // order — one user-keyed shuffle, O(|pattern|)-bit state for ANY
    // pattern. ORACLE: a closed form again independent of any regex
    // engine — a row starts a match iff its code is v and the NEXT
    // breaking event (v or p — the chars [co] excludes) is a v, one
    // lead() over the v/p-filtered subsequence. Report: the
    // starts-per-user histogram over ALL users with events.
    "ev_overlap_counts" -> ((s, dir) =>
      overlapCountsOf(funnelCoded(s, dir), "v[co]*v")
        .groupBy("n_starts")
        .agg(count(lit(1)).as("n_users"),
          min("user_id").as("min_user"), max("user_id").as("max_user"))
        .orderBy("n_starts")),

    // MATCH_RECOGNIZE **MEASURES** (SQL:2016 MEASURES clause, ONE ROW
    // PER MATCH): every `v[co]*p` match as one row carrying its
    // aggregates — FIRST/LAST timestamps and event ids, COUNT(*) of
    // matched events, SUM of their values (exact cents), and the
    // match duration. Engine: the span fold's position→event ring
    // also carries each event's cents, and every confirmed span
    // aggregates its ring slice AS IT CONFIRMS — the matched rows are
    // never re-shuffled or joined back to compute their measures, so
    // MEASURES costs exactly the one user-keyed shuffle the count
    // fold pays. ORACLE: the ev_match_spans closed form (window lag
    // over the v/p-filtered subsequence) joined back to the in-range
    // events and aggregated per span — engine-free, like the rows
    // oracle. Money is decimal-cast to cents BEFORE summation (the
    // cross-engine exactness contract from Relational).
    "ev_match_measures" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), expr("unix_micros(ts)").as("us"),
          col("event_id"),
          when(col("event_type") === "view", "v")
            .when(col("event_type") === "click", "c")
            .when(col("event_type") === "purchase", "p")
            .otherwise("o").as("code"),
          expr("cast(cast(value as decimal(18,2)) * 100 as long)")
            .as("v_cents"))
      matchMeasuresOf(ev, "v[co]*p")
        .select(col("user_id"), col("match_seq"), col("start_us"),
          col("start_event_id"), col("end_us"), col("end_event_id"),
          col("n_events"), col("sum_cents"),
          (col("end_us") - col("start_us")).as("duration_us"))
        .orderBy("user_id", "match_seq")
    }),

    // MATCH_RECOGNIZE with DEFINE NAVIGATION (PREV) — real
    // MATCH_RECOGNIZE classifies rows by predicates over neighbors
    // (`DEFINE U AS price > PREV(price)`), which no precomputed code
    // column can express. Per customer, orders in (o_orderdate,
    // o_orderkey) order classify U/D/e against the PREVIOUS order's
    // total ('o' for the first order, whose PREV is null), and the
    // machine counts `U+D` matches — rising runs that reverse — with
    // the classifier running INSIDE the one-shuffle ordered fold
    // (matchCountsClassified: machine + ONE held row per entity).
    // ORACLE: an independent closed form via window lags, not a regex
    // engine — leftmost/greedy U+D matches are EXACTLY the D-events
    // whose predecessor classifies U (greedy U+ absorbs the whole
    // rising run; a D ending it is one match; the next match's run
    // restarts after it), so DuckDB counts pairs of adjacent
    // classifier chars. Report: reversals-per-customer histogram.
    "ev_updown_runs" -> ((s, dir) =>
      matchCountsClassified(updownOrders(s, dir), "U+D", Seq("o_custkey"),
        Seq("o_orderdate", "o_orderkey"))(updownClassify)
        .withColumnRenamed("n_matches", "n_reversals")
        .groupBy("n_reversals")
        .agg(count(lit(1)).as("n_customers"),
          min("o_custkey").as("min_cust"),
          max("o_custkey").as("max_cust"))
        .orderBy("n_reversals")),

    // COUNTED REPETITION × DEFINE/PREV (round 11 — SQL:2016's
    // `U{2,}` bounds over the navigation classifier): reversals that
    // end a rising run of AT LEAST TWO consecutive increases — the
    // "sustained rally then drop" pattern `U{2,}D`, which `U+D`
    // cannot express. ORACLE: greedy U{2,}D matches are exactly the
    // D-rows whose two predecessors both classify U — two lags, no
    // regex engine. Report: the per-customer histogram.
    "ev_updown_long_runs" -> ((s, dir) =>
      matchCountsClassified(updownOrders(s, dir), "U{2,}D",
        Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"))(updownClassify)
        .withColumnRenamed("n_matches", "n_long_reversals")
        .groupBy("n_long_reversals")
        .agg(count(lit(1)).as("n_customers"),
          min("o_custkey").as("min_cust"),
          max("o_custkey").as("max_cust"))
        .orderBy("n_long_reversals")),

    // DEFINE/PREV × ONE ROW PER MATCH (round 11 — the classifier
    // threaded through the span-family output modes): every `U+D`
    // rising-run-then-reversal match as its own row carrying the
    // anchor and reversal orderkeys and the run length, with the U/D/e
    // classification computed INSIDE the fold from the previous order's
    // total (no precomputed code column exists). ORACLE: an
    // independent closed form, no regex engine — a match is exactly a
    // D-row whose predecessor classifies U; greedy U+ absorbs the
    // whole maximal rising run, so the span start is the run's first U
    // = (last non-U row before the D) + 1, one extra window max over
    // the lag-classified sequence.
    "ev_updown_spans" -> ((s, dir) =>
      matchSpansClassified(updownOrders(s, dir), "U+D", Seq("o_custkey"),
        Seq("o_orderdate", "o_orderkey"), "o_orderkey")(updownClassify)
        .orderBy("o_custkey", "match_seq")),

    // DEFINE/PREV × ALL ROWS PER MATCH: every order of every `U+D`
    // match, labeled with the match ordinal, the in-match position,
    // and the row's CLASSIFIER() label (U for the run, D for the
    // reversal) — the SQL:2016 per-row output grain composed with
    // navigation classification. ORACLE: the ev_updown_spans closed
    // form joined back to the classified rows in each span's rn range.
    "ev_updown_rows" -> ((s, dir) =>
      matchRowsClassified(updownOrders(s, dir), "U+D", Seq("o_custkey"),
        Seq("o_orderdate", "o_orderkey"), "o_orderkey")(updownClassify)
        .select(col("o_custkey"), col("match_seq"), col("ord_in_match"),
          col("id").as("o_orderkey"), col("cls"))
        .orderBy("o_custkey", "match_seq", "ord_in_match")),

    // DEFINE/PREV × MEASURES: each `U+D` match as one aggregate row —
    // FIRST/LAST orderkeys, COUNT(*) of matched orders, and the exact
    // cents SUM of their totals — aggregated off the bounded ring as
    // the match confirms, with the classification computed inside the
    // fold. ORACLE: the closed-form span table joined to the rows in
    // range and aggregated per span (cents decimal-cast before the
    // sum on both engines — the exactness contract).
    "ev_updown_measures" -> ((s, dir) =>
      matchMeasuresClassified(updownOrders(s, dir), "U+D",
        Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"),
        "o_orderkey", "cents")(updownClassify)
        .withColumnRenamed("sum_measure", "sum_cents")
        .orderBy("o_custkey", "match_seq")),

    // AFTER MATCH SKIP TO LAST `<var>` — the Oracle/SQL:2016 V-shape
    // classic: PATTERN (strt down+ up+), a fall run then a rise run
    // anchored at any row, with the scan resuming AT THE PEAK (the
    // last `up` row) so consecutive V's CHAIN — one match's peak is
    // the next match's anchor, which PAST LAST ROW would skip over
    // (a 1-row descent straight after a peak is invisible to it).
    // Classification is DEFINE/PREV U/D/e inside the fold. ORACLE: an
    // independent islands closed form — a match per maximal D-run
    // immediately followed by a U, spanning [run start − 1, end of the
    // following maximal U-run]; runs built from two lag-flag island
    // sums, no pattern engine anywhere.
    "ev_vshape_skip_last" -> ((s, dir) =>
      matchSpansSkip(updownOrders(s, dir), vshapeComponents,
        graft.functions.RowPattern.SkipMode.ToLast("up"),
        Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"),
        "o_orderkey")(updownClassify)
        .orderBy("o_custkey", "match_seq")),

    // AFTER MATCH SKIP TO FIRST `<var>` — the maximally-overlapping
    // skip: resuming AT the first `down` row re-anchors inside the
    // same descent, so a length-L fall run followed by a rise yields L
    // nested matches (every suffix of the descent), all sharing the
    // peak — the enumeration TO NEXT ROW only counts and PAST LAST
    // ROW collapses to one. Same fold, classifier, and oracle
    // technique: the islands closed form emits one match per rn in
    // [run start − 1, run end − 1] per qualifying run.
    "ev_vshape_skip_first" -> ((s, dir) =>
      matchSpansSkip(updownOrders(s, dir), vshapeComponents,
        graft.functions.RowPattern.SkipMode.ToFirst("down"),
        Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"),
        "o_orderkey")(updownClassify)
        .orderBy("o_custkey", "match_seq")),

    // PER-VARIABLE MEASURES over the V-shape — `COUNT(down.*)`,
    // `SUM(down.cents)`, `COUNT(up.*)`, `SUM(up.cents)` per match:
    // the component-scoped MEASURES real MATCH_RECOGNIZE users write
    // (how deep was the fall, how much money rose back), composed
    // with SKIP TO LAST up so chained V's each aggregate their own
    // rows. Boundaries are java.regex's group assignment
    // (replay-pinned); ORACLE: the islands closed form joined per
    // component range — down rows are [j..k], up rows [k+1..m], the
    // anchor is row j−1 — aggregated per match with decimal-exact
    // cents.
    "ev_vshape_measures" -> ((s, dir) =>
      matchVarMeasures(updownOrders(s, dir), vshapeComponents,
        graft.functions.RowPattern.SkipMode.ToLast("up"),
        Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"),
        "o_orderkey", "cents")(updownClassify)
        .orderBy("o_custkey", "match_seq")),

    // ALL ROWS over the V-shape with the pattern-variable label —
    // every matched order labeled strt/down/up with its in-match
    // position, overlapping matches each re-emitting their shared
    // peak/anchor rows under their own ordinal (the SQL:2016 ALL ROWS
    // grain for skip-mode patterns). ORACLE: the islands closed form's
    // component ranges unioned — the anchor at ord 1, the down run at
    // ords 2..k−j+2, the up run after — per match.
    "ev_vshape_rows" -> ((s, dir) =>
      matchRowsSkip(updownOrders(s, dir), vshapeComponents,
        graft.functions.RowPattern.SkipMode.ToLast("up"),
        Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"),
        "o_orderkey")(updownClassify)
        .select(col("o_custkey"), col("match_seq"), col("ord_in_match"),
          col("id").as("o_orderkey"), col("var"))
        .orderBy("o_custkey", "match_seq", "ord_in_match")),

    // SQL:2016 SUBSET — named unions of pattern variables: over the
    // V-shape with SKIP TO LAST up, `SUBSET w = (down, up)` measures
    // the WHOLE excursion (fall + recovery) as one variable —
    // COUNT(w.*) and SUM(w.cents) per match — without the caller
    // summing components by hand. Engine: the same SkipScanner
    // boundaries aggregate the union of the member components' rows
    // (a row maps to exactly one component, so member sums add —
    // replay-pinned in EventFoldSpec against java.regex groups).
    // ORACLE: down ∪ up is the contiguous rn range [j..m] of the
    // islands closed form (the members are ADJACENT components), so
    // one in-range aggregate names the subset arithmetically.
    "ev_vshape_subset" -> ((s, dir) =>
      matchVarMeasures(updownOrders(s, dir), vshapeComponents,
        graft.functions.RowPattern.SkipMode.ToLast("up"),
        Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"),
        "o_orderkey", "cents",
        subsets = Seq("w" -> Seq("down", "up")))(updownClassify)
        .select(col("o_custkey"), col("match_seq"), col("start_id"),
          col("end_id"), col("w_n"), col("w_sum"))
        .orderBy("o_custkey", "match_seq")),

    // FIRST/LAST VALUE NAVIGATION — `FIRST(down.cents)`,
    // `LAST(down.cents)`, `FIRST(up.cents)`, `LAST(up.cents)` per
    // V-shape match (SQL:2016 MEASURES navigation at pattern-variable
    // scope: where did the fall start and bottom out, where did the
    // recovery start and peak), composed with SKIP TO LAST up so
    // chained V's each navigate their own rows. Boundaries are
    // java.regex's group assignment (replay-pinned in EventFoldSpec);
    // ORACLE: the islands closed form joined at the component
    // boundary rows themselves — down first/last are the cents at
    // rn = j and rn = k, up first/last at rn = k+1 and rn = m — so
    // the oracle names each navigated VALUE by coordinate, no
    // aggregation at all.
    "ev_vshape_firstlast" -> ((s, dir) =>
      matchVarNav(updownOrders(s, dir), vshapeComponents,
        graft.functions.RowPattern.SkipMode.ToLast("up"),
        Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"),
        "o_orderkey", "cents")(updownClassify)
        .select(col("o_custkey"), col("match_seq"), col("start_id"),
          col("end_id"), col("down_first"), col("down_last"),
          col("up_first"), col("up_last"))
        .orderBy("o_custkey", "match_seq")),

    // RUNNING vs FINAL measures at ALL ROWS grain (SQL:2016: RUNNING
    // SUM(x) aggregates the match's rows up to and including the
    // current row, FINAL SUM(x) the whole match): every row of every
    // U+D match carries its classifier label, the running cents sum,
    // and the match's final cents sum — the running accumulator rides
    // the same ordered fold that emits the rows, so the clause costs
    // nothing beyond the one entity-keyed shuffle. ORACLE: the
    // closed-form span table joined to the classified rows in range
    // with a ROWS UNBOUNDED PRECEDING window sum (running) and a
    // whole-partition sum (final) — no regex engine anywhere.
    "ev_updown_running" -> ((s, dir) =>
      matchRowsRunning(updownOrders(s, dir), "U+D", Seq("o_custkey"),
        Seq("o_orderdate", "o_orderkey"), "o_orderkey", "cents")(
        updownClassify)
        .select(col("o_custkey"), col("match_seq"), col("ord_in_match"),
          col("id").as("o_orderkey"), col("cls"),
          col("running_sum").as("running_cents"),
          col("final_sum").as("final_cents"))
        .orderBy("o_custkey", "match_seq", "ord_in_match")),

    // DEEP NAVIGATION — PREV(col, 2): rows classify against the order
    // TWO back (`DEFINE U AS total > PREV(total, 2)`), which no lag-1
    // classifier can express; the fold holds a 2-row ring per
    // customer. Pattern U+D over the lag-2 classification counts
    // "two-step rallies that reverse". ORACLE: the same closed form as
    // ev_updown_runs — a match per D whose predecessor classifies U —
    // over a lag(total, 2) classification, so the oracle runs two lags
    // and no regex engine.
    "ev_updown_lag2" -> ((s, dir) =>
      matchCountsClassifiedLag(updownOrders(s, dir), "U+D",
        Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"), lag = 2)(
        (prevs, cur) =>
          if (prevs.length < 2) 'o'
          else {
            val p = prevs.head.getAs[Double]("o_totalprice")
            val c = cur.getAs[Double]("o_totalprice")
            if (c > p) 'U' else if (c < p) 'D' else 'e'
          })
        .withColumnRenamed("n_matches", "n_lag2_reversals")
        .groupBy("n_lag2_reversals")
        .agg(count(lit(1)).as("n_customers"),
          min("o_custkey").as("min_cust"),
          max("o_custkey").as("max_cust"))
        .orderBy("n_lag2_reversals")),

    // RFM SEGMENTATION — the marketing-analytics classic: per
    // purchasing user, Recency (days from last purchase to the corpus
    // high-water mark), Frequency (purchase count), Monetary (decimal-
    // exact cents); each dimension scores 1–5 against its exact
    // quintile thresholds, and the report is the (r, f, m) segment
    // census. Scores come from comparisons against a BROADCAST
    // 1-row threshold table (exact interpolated percentiles over the
    // user grain) — NOT a global ntile window, which would single-
    // partition the unbounded user dimension; the cross-engine
    // contract is integer/decimal inputs and IEEE-identical threshold
    // evaluation. Two user-grain aggregates + one codegen scoring
    // projection.
    "ev_rfm" -> ((s, dir) => {
      val p = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("unix_micros(ts)").as("us"),
          col("value").cast("decimal(38,2)").as("v"))
      val hw = p.agg(max("us").as("hw_us"))
      val rfm = p.crossJoin(broadcast(hw))
        .groupBy("user_id")
        .agg(expr("(max(hw_us) - max(us)) div 86400000000")
          .as("r_days"),
          count(lit(1)).as("f"),
          (sum("v") * lit(100)).cast("long").as("m_cents"))
      def qs(c: String) =
        expr(s"percentile($c, array(0.2d, 0.4d, 0.6d, 0.8d))")
          .as(s"${c}_q")
      val thr = rfm.agg(qs("r_days"), qs("f"), qs("m_cents"))
      def score(c: String) =
        (lit(1) + (col(c) > expr(s"${c}_q[0]")).cast("int")
          + (col(c) > expr(s"${c}_q[1]")).cast("int")
          + (col(c) > expr(s"${c}_q[2]")).cast("int")
          + (col(c) > expr(s"${c}_q[3]")).cast("int"))
      rfm.crossJoin(broadcast(thr))
        .select(col("user_id"), score("r_days").as("r_score"),
          score("f").as("f_score"), score("m_cents").as("m_score"))
        .groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_users"),
          min("user_id").as("min_user"), max("user_id").as("max_user"))
        .orderBy("r_score", "f_score", "m_score")
    }),

    // WINDOWED FUNNEL (ClickHouse's windowFunnel): the deepest
    // view → click → purchase chain each user completes INSIDE a
    // 6-hour window anchored at the chain's first event — ev_funnel
    // without the window answers "ever converted", this answers
    // "converted in one sitting". Per view anchor: the FIRST click in
    // (anchor, anchor+T], then the FIRST purchase after that click
    // still inside the anchor's window; user level = max depth over
    // anchors (0 = no view). Each stage is one user-keyed equi-join
    // with a range residual — per-user event volume bounds the join
    // grain (the seqPatternsOf contract), never corpus size — and the
    // report is the level histogram.
    "ev_window_funnel" -> ((s, dir) => {
      val T = 6L * 3600 * 1000000
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("us"))
      def stage(tpe: String) = ev.filter(col("event_type") === tpe)
      val v = stage("view").select(col("user_id"), col("us").as("vus"))
      val c = stage("click").select(col("user_id").as("cu"),
        col("us").as("cus"))
      val p = stage("purchase").select(col("user_id").as("pu"),
        col("us").as("pus"))
      val vc = v.join(c, col("user_id") === col("cu") &&
          col("cus") > col("vus") && col("cus") <= col("vus") + T, "left")
        .groupBy("user_id", "vus").agg(min("cus").as("cus"))
      val vcp = vc.join(p, col("user_id") === col("pu") &&
          col("pus") > col("cus") && col("pus") <= col("vus") + T, "left")
        .groupBy("user_id", "vus", "cus").agg(min("pus").as("pus"))
      val depth = vcp.select(col("user_id"),
        (lit(1) + col("cus").isNotNull.cast("int") +
          col("pus").isNotNull.cast("int")).as("d"))
        .groupBy("user_id").agg(max("d").as("level"))
      Tables.events(s, dir).select("user_id").distinct()
        .join(depth, Seq("user_id"), "left")
        .select(col("user_id"),
          coalesce(col("level"), lit(0)).cast("long").as("level"))
        .groupBy("level")
        .agg(count(lit(1)).as("n_users"),
          min("user_id").as("min_user"), max("user_id").as("max_user"))
        .orderBy("level")
    })
  )

  /** Orders projected for the U/D navigation family: key, total order
    * (o_orderdate, o_orderkey), the double total the classifier reads,
    * and its exact cents (decimal-cast before the long cast — integer-
    * exact, so DuckDB's rounding and Spark's truncation agree). */
  private[graft] def updownOrders(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_totalprice"),
        expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as long)")
          .as("cents"))

  /** `DEFINE U AS total > PREV(total), D AS total < PREV(total)` as a
    * fold classifier: 'o' on the entity's first row (PREV is null),
    * 'e' on equal totals. Shared by the whole ev_updown_* family. */
  private[graft] val updownClassify: (org.apache.spark.sql.Row,
    org.apache.spark.sql.Row) => Char = (prev, cur) =>
    if (prev == null) 'o'
    else {
      val p = prev.getAs[Double]("o_totalprice")
      val c = cur.getAs[Double]("o_totalprice")
      if (c > p) 'U' else if (c < p) 'D' else 'e'
    }

  /** The SQL:2016 V-shape component sequence: any anchor row, a fall
    * run, a rise run — `PATTERN (strt down+ up+)` over the U/D/e
    * classification. Shared by both ev_vshape_skip_* queries. */
  private[graft] val vshapeComponents: Seq[(String, String)] =
    Seq("strt" -> ".", "down" -> "D+", "up" -> "U+")

  /** The standard funnel code mapping over the events table:
    * view→v, click→c, purchase→p, anything else→o. */
  private[graft] def funnelCoded(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
        col("event_id"),
        when(col("event_type") === "view", "v")
          .when(col("event_type") === "click", "c")
          .when(col("event_type") === "purchase", "p")
          .otherwise("o").as("code"))

  /** Fold a row-pattern matcher (functions.RowMatcher) over each
    * entity's rows in `orderCols` order: one entity-keyed shuffle with a
    * secondary sort, emission streaming out as matches confirm, and the
    * matcher's state — the engine, the PREV row, the match ordinal — the
    * only per-entity memory, never the entity's history. Every
    * MATCH_RECOGNIZE output mode below is this fold over one matcher;
    * streaming/CepPattern runs the same matchers as checkpointed state. */
  private def matchFold[E](ev: DataFrame, keyCols: Seq[String],
                           orderCols: Seq[String],
                           m: RowMatcher.Matcher[E]): DataFrame =
    graft.api.Folds.flatFoldOrdered(ev, keyCols, orderCols, m.fields)(
      () => m.init())(m.feed)(m.finish)

  /** The code-column folds' input, (user_id, us, event_id, code[, v]),
    * ordered by (us, event_id); a code may carry several chars in count
    * mode and exactly one elsewhere, and a NULL code skips its event. */
  private def codedFold[E](ev: DataFrame)(
      m: RowMatcher.Cols => RowMatcher.Matcher[E]): DataFrame = {
    val n = ev.columns.length
    matchFold(ev.toDF(Seq("user_id", "us", "event_id", "code", "v")
      .take(n): _*), Seq("user_id"), Seq("us", "event_id"),
      m(RowMatcher.Cols(us = 1, id = 2, code = 3, v = if (n > 4) 4 else -1)))
  }

  /** Column positions for the classifier folds: ids from `idCol`, the
    * measure (if any) from `measureCol`; no order micros. */
  private def classified(ev: DataFrame, idCol: String,
                         measureCol: String = null): RowMatcher.Cols =
    RowMatcher.Cols(id = ev.schema.fieldIndex(idCol),
      v = if (measureCol == null) -1 else ev.schema.fieldIndex(measureCol))

  private def keyed(df: DataFrame, keyCols: Seq[String],
                    cols: org.apache.spark.sql.Column*): DataFrame =
    df.select(keyCols.map(col) ++ cols: _*)

  /** Per-entity row-pattern match counts — the MATCH_RECOGNIZE core
    * behind ev_match_recognize / t10_cep_twin / api.Events
    * .matchPattern: the regex's leftmost / non-overlapping / greedy
    * matches (exact `Matcher.find()` semantics, pinned by
    * RowPatternSpec), counted by folding the RowPattern speculation
    * chain over each entity's events in (us, tie) order. State is
    * O(|pattern|) for terminator-disjoint patterns like the funnel
    * (proven by construction — RowPattern.terminatorDisjoint), and
    * ≤ depthCap×O(|pattern|) with loud failure past the cap otherwise;
    * EventFoldSpec pins the hot-entity bound. Multi-char codes feed
    * their chars in order and NULL codes are skipped, as the trace
    * concatenation the oracle mirrors would. */
  private[graft] def matchCountsOf(ev: DataFrame, pattern: String,
                                   depthCap: Int = 4096): DataFrame =
    codedFold(ev)(new RowMatcher.Counts(pattern, depthCap, _))

  /** Per-entity row-pattern match SPANS (ONE ROW PER MATCH) — behind
    * ev_match_spans / api.Events.matchSpans: each confirmed match as
    * (start_us, start_event_id, end_us, end_event_id). Needs a
    * terminator-disjoint pattern (loud failure otherwise) and exactly
    * one code char per event; per-entity memory is O(|pattern| +
    * longest live match) — the ring keeps only events at or past the
    * machine's minLivePos. */
  private[graft] def matchSpansOf(ev: DataFrame,
                                  pattern: String): DataFrame =
    codedFold(ev)(new RowMatcher.Spans(pattern, _, RowMatcher.PerMatch))
      .select("user_id", "start_us", "start_event_id", "end_us",
        "end_event_id")

  /** Per-entity row-pattern match ROWS (ALL ROWS PER MATCH) — behind
    * ev_match_rows / api.Events.matchRows: every event of each
    * confirmed match as (match_seq, ord_in_match, us, event_id, code),
    * match_seq numbering the entity's matches in start order (the
    * span machine's prepend-merge) and ord_in_match the events inside
    * the match. Same contract and bounds as [[matchSpansOf]]. */
  private[graft] def matchRowsOf(ev: DataFrame,
                                 pattern: String): DataFrame =
    codedFold(ev)(new RowMatcher.Spans(pattern, _, RowMatcher.AllRows))
      .select(col("user_id"), col("match_seq"), col("ord_in_match"),
        col("us"), col("id").as("event_id"), col("cls").as("code"))

  /** Row-pattern MEASURES (ONE ROW PER MATCH) — behind
    * ev_match_measures / api.Events.matchMeasures: per confirmed match
    * (match_seq, start_us, start_event_id, end_us, end_event_id,
    * n_events, sum_cents), the sum taken over the fifth input column
    * (integral; NULL counts as 0) off the bounded ring as the match
    * confirms — matched rows are never re-shuffled or joined back. Same
    * contract and bounds as [[matchSpansOf]]. */
  private[graft] def matchMeasuresOf(ev: DataFrame,
                                     pattern: String): DataFrame =
    codedFold(ev)(new RowMatcher.Spans(pattern, _, RowMatcher.PerMatch))
      .select(col("user_id"), col("match_seq"), col("start_us"),
        col("start_event_id"), col("end_us"), col("end_event_id"),
        col("n_events"), col("sum_value").as("sum_cents"))

  /** AFTER MATCH SKIP TO NEXT ROW — the other SQL:2016 skip mode
    * ([[matchCountsOf]] is SKIP PAST LAST ROW): per entity, the rows
    * where a match STARTS, overlapping matches counted — exactly
    * `Matcher.region(i, n).lookingAt()` per position (RowPatternSpec).
    * The reversed-NFA StartDetector folds over the entity's events in
    * DESCENDING (us, event_id) order: one O(|pattern|)-bit liveness set
    * per entity for ANY pattern, no speculation chain, no depth cap. */
  private[graft] def overlapCountsOf(ev: DataFrame,
                                     pattern: String): DataFrame =
  {
    val c = ev.toDF("user_id", "us", "event_id", "code")
    matchFold(c.withColumn("neg_us", -col("us"))
      .withColumn("neg_id", -col("event_id")), Seq("user_id"),
      Seq("neg_us", "neg_id"),
      new RowMatcher.Starts(pattern, RowMatcher.Cols(code = 3)))
  }

  /** Row-pattern match counts with DEFINE-style NAVIGATION — behind
    * ev_updown_runs / api.Events.matchPatternBy: real MATCH_RECOGNIZE
    * classifies events by predicates over neighbors (`DEFINE U AS
    * price > PREV(price)`), which a precomputed code column cannot
    * express, so the code char is `classify(prev, cur)` computed INSIDE
    * the fold — prev the entity's previous row in `orderCols` order
    * (null on the first). Per-entity state is [[matchCountsOf]]'s plus
    * ONE held row. */
  private[graft] def matchCountsClassified(
      ev: DataFrame, pattern: String, keyCols: Seq[String],
      orderCols: Seq[String], depthCap: Int = 4096)(
      classify: RowMatcher.Classify): DataFrame =
    matchFold(ev, keyCols, orderCols, new RowMatcher.Counts(pattern,
      depthCap, RowMatcher.Cols(), classify))

  /** Row-pattern match counts with DEEP NAVIGATION — PREV(col, n) for
    * n > 1 ([[matchCountsClassified]] is n = 1): the classifier sees
    * the entity's last `lag` rows OLDEST→NEWEST (`prevs.last` is
    * PREV(1), `prevs.head` PREV(n) once the window is full; shorter
    * near the entity's start). State is the machine plus a `lag`-row
    * window, lag capped at 64 like counted repetition. NEXT(k) is the
    * same window over the reversed order (the overlapCountsOf
    * technique). */
  private[graft] def matchCountsClassifiedLag(
      ev: DataFrame, pattern: String, keyCols: Seq[String],
      orderCols: Seq[String], lag: Int, depthCap: Int = 4096)(
      classify: (collection.IndexedSeq[org.apache.spark.sql.Row],
        org.apache.spark.sql.Row) => Char): DataFrame = {
    require(lag >= 1 && lag <= 64, s"navigation depth $lag out of [1,64]")
    val prog = RowPattern.compile(pattern)
    graft.api.Folds.foldOrdered(ev, keyCols, orderCols,
      out = new StructType().add("n_matches", LongType))(
      () => (new RowPattern.MatchCounter(prog, depthCap),
        scala.collection.mutable.ArrayDeque.empty[org.apache.spark.sql.Row]))(
      { case (st @ (m, prevs), r) =>
        m.feed(classify(prevs, r))
        prevs.append(r)
        if (prevs.length > lag) prevs.removeHead()
        st
      })(
      st => Seq(Long.box(st._1.finish())))
  }

  /** ONE ROW PER MATCH with DEFINE-style NAVIGATION — behind
    * ev_updown_spans / api.Events.matchSpansBy: [[matchCountsClassified]]'s
    * classifier feeding [[matchSpansOf]]'s span machine and ring. Emits
    * (keyCols..., match_seq, start_id, end_id, n_events), ids from
    * `idCol` (LONG), match_seq in start order. Terminator-disjoint
    * patterns only; state O(|pattern| + longest live match) plus ONE
    * held row. */
  private[graft] def matchSpansClassified(
      ev: DataFrame, pattern: String, keyCols: Seq[String],
      orderCols: Seq[String], idCol: String)(
      classify: RowMatcher.Classify): DataFrame =
    keyed(matchFold(ev, keyCols, orderCols, new RowMatcher.Spans(pattern,
      classified(ev, idCol), RowMatcher.PerMatch, classify)), keyCols,
      col("match_seq"), col("start_event_id").as("start_id"),
      col("end_event_id").as("end_id"), col("n_events"))

  /** ALL ROWS PER MATCH with DEFINE-style NAVIGATION — behind
    * ev_updown_rows / api.Events.matchRowsBy: every row of every match
    * as (keyCols..., match_seq, ord_in_match, id, cls), `cls` the row's
    * CLASSIFIER() label as the fold computed it. Same contract as
    * [[matchSpansClassified]]. */
  private[graft] def matchRowsClassified(
      ev: DataFrame, pattern: String, keyCols: Seq[String],
      orderCols: Seq[String], idCol: String)(
      classify: RowMatcher.Classify): DataFrame =
    keyed(matchFold(ev, keyCols, orderCols, new RowMatcher.Spans(pattern,
      classified(ev, idCol), RowMatcher.AllRows, classify)), keyCols,
      col("match_seq"), col("ord_in_match"), col("id"), col("cls"))

  /** ALL ROWS PER MATCH with RUNNING vs FINAL measures — behind
    * ev_updown_running / api.Events.matchRowsRunningBy (SQL:2016:
    * `RUNNING SUM(x)` aggregates the match's rows up to and including
    * the current one, `FINAL SUM(x)` the whole match, equal on the last
    * row): [[matchRowsClassified]]'s rows plus running_sum and
    * final_sum of `measureCol` (integral — pre-scale money to cents;
    * NULL counts as 0). RUNNING COUNT(*) is ord_in_match itself. */
  private[graft] def matchRowsRunning(
      ev: DataFrame, pattern: String, keyCols: Seq[String],
      orderCols: Seq[String], idCol: String, measureCol: String)(
      classify: RowMatcher.Classify): DataFrame =
    keyed(matchFold(ev, keyCols, orderCols, new RowMatcher.Spans(pattern,
      classified(ev, idCol, measureCol), RowMatcher.AllRows, classify)),
      keyCols, col("match_seq"), col("ord_in_match"), col("id"),
      col("cls"), col("running_sum"), col("final_sum"))

  /** MEASURES with DEFINE-style NAVIGATION — behind ev_updown_measures /
    * api.Events.matchMeasuresBy: per match (keyCols..., match_seq,
    * start_id, end_id, n_events, sum_measure), the exact long sum of
    * `measureCol` (integral — pre-scale money to cents) over the matched
    * rows, aggregated off the ring as the match confirms. Same contract
    * as [[matchSpansClassified]]. */
  private[graft] def matchMeasuresClassified(
      ev: DataFrame, pattern: String, keyCols: Seq[String],
      orderCols: Seq[String], idCol: String, measureCol: String)(
      classify: RowMatcher.Classify): DataFrame =
    keyed(matchFold(ev, keyCols, orderCols, new RowMatcher.Spans(pattern,
      classified(ev, idCol, measureCol), RowMatcher.PerMatch, classify)),
      keyCols, col("match_seq"), col("start_event_id").as("start_id"),
      col("end_event_id").as("end_id"), col("n_events"),
      col("sum_value").as("sum_measure"))

  /** AFTER MATCH SKIP TO FIRST/LAST `<var>` — behind ev_vshape_skip_* /
    * api.Events.matchSpansSkipBy: the pattern is an ordered sequence of
    * NAMED components (`PATTERN (strt down+ up+)`) and after each match
    * the scan resumes AT the first/last row mapped to the named
    * component, so matches may overlap at the shared row (the V-shape
    * chain). Classification runs inside the fold as in
    * [[matchCountsClassified]]. Emits (keyCols..., match_seq, start_id,
    * end_id, n_events). Engine: RowPattern.SkipScanner — an anchored
    * Pike-VM attempt with component boundaries from a priority-order
    * DFS (java.regex's group assignment, replay-pinned); per-entity
    * state is ONE attempt's rows, worst-case work attempts × attempt
    * length (PAST LAST ROW and TO NEXT ROW have cheaper paths above). */
  private[graft] def matchSpansSkip(
      ev: DataFrame, components: Seq[(String, String)],
      skip: RowPattern.SkipMode,
      keyCols: Seq[String], orderCols: Seq[String], idCol: String)(
      classify: RowMatcher.Classify): DataFrame =
    keyed(matchFold(ev, keyCols, orderCols, new RowMatcher.Skips(components,
      skip, classified(ev, idCol), RowMatcher.PerMatch, classify)), keyCols,
      col("match_seq"), col("start_event_id").as("start_id"),
      col("end_event_id").as("end_id"), col("n_events"))

  /** PER-VARIABLE MEASURES (`COUNT(down.*)`, `SUM(down.price)` …) —
    * behind ev_vshape_measures / ev_vshape_subset /
    * api.Events.matchVarMeasuresBy: per match (keyCols..., match_seq,
    * start_id, end_id) plus `{name}_n` / `{name}_sum` per component
    * over exactly the rows java.regex would put in its group, then the
    * same per SQL:2016 SUBSET (`SUBSET W = (down, up)` — a named union
    * of components, validated like the standard). Skip modes compose as
    * in [[matchSpansSkip]]. */
  private[graft] def matchVarMeasures(
      ev: DataFrame, components: Seq[(String, String)],
      skip: RowPattern.SkipMode,
      keyCols: Seq[String], orderCols: Seq[String],
      idCol: String, measureCol: String,
      subsets: Seq[(String, Seq[String])] = Nil)(
      classify: RowMatcher.Classify): DataFrame =
    matchFold(ev, keyCols, orderCols, new RowMatcher.Skips(components,
      skip, classified(ev, idCol, measureCol),
      RowMatcher.VarMeasures(components.map(_._1).toIndexedSeq, subsets),
      classify))

  /** FIRST/LAST VALUE NAVIGATION (`FIRST(down.price)`,
    * `LAST(down.price)`) — behind ev_vshape_firstlast /
    * api.Events.matchVarNavBy: per match (keyCols..., match_seq,
    * start_id, end_id) plus `{name}_first` / `{name}_last` per
    * component — NULL when the component matched zero rows (SQL:2016
    * navigation-on-empty) and when the boundary row's measure is NULL
    * (navigation is value-preserving; EventFoldSpec pins both). */
  private[graft] def matchVarNav(
      ev: DataFrame, components: Seq[(String, String)],
      skip: RowPattern.SkipMode,
      keyCols: Seq[String], orderCols: Seq[String],
      idCol: String, measureCol: String)(
      classify: RowMatcher.Classify): DataFrame =
    matchFold(ev, keyCols, orderCols, new RowMatcher.Skips(components,
      skip, classified(ev, idCol, measureCol),
      RowMatcher.VarNav(components.map(_._1).toIndexedSeq), classify))

  /** ALL ROWS PER MATCH for skip-mode patterns — behind ev_vshape_rows /
    * api.Events.matchRowsSkipBy: every matched row as (keyCols...,
    * match_seq, ord_in_match, id, var), `var` the component the row
    * mapped to (SQL:2016 CLASSIFIER() at variable grain); under an
    * overlapping skip a shared row emits once per match. */
  private[graft] def matchRowsSkip(
      ev: DataFrame, components: Seq[(String, String)],
      skip: RowPattern.SkipMode,
      keyCols: Seq[String], orderCols: Seq[String], idCol: String)(
      classify: RowMatcher.Classify): DataFrame =
    matchFold(ev, keyCols, orderCols, new RowMatcher.Skips(components,
      skip, classified(ev, idCol),
      RowMatcher.Labeled(components.map(_._1).toIndexedSeq), classify))

  /** Pairwise audience overlap of an (user_id, event_type) frame —
    * the helper behind ev_segment_overlap; the incidence dedups
    * before the user-keyed pair join, so the join grain is users ×
    * types-per-user, never raw event volume. The deduped incidence
    * feeds three consumers (both self-join sides + the audience
    * census) WITHOUT a cache: its distinct-shuffle subtree is
    * identical under all three, so Spark's exchange reuse computes it
    * once per execution — fully distributed, and nothing persists
    * past the call (a facade used repeatedly in a long session must
    * not leak storage; ApiSpec pins zero cached RDDs after use). */
  private[graft] def segmentOverlapOf(ue: DataFrame): DataFrame = {
    val ut = ue.toDF("user_id", "event_type").distinct()
    val aud = ut.groupBy("event_type").agg(count(lit(1)).as("n"))
    val pairs = ut.select(col("user_id"), col("event_type").as("ta"))
      .join(ut.select(col("user_id"), col("event_type").as("tb")),
        "user_id")
      .filter(col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(aud.select(col("event_type").as("ta"),
        col("n").as("n_a"))), "ta")
      .join(broadcast(aud.select(col("event_type").as("tb"),
        col("n").as("n_b"))), "tb")
      .select("ta", "tb", "n_a", "n_b", "n_both")
      .orderBy("ta", "tb")
  }

  /** Top-k consecutive type triples by distinct-user support over a
    * (user_id, event_id, event_type, us) frame — the helper behind
    * ev_seq_patterns and api.Events.sequencePatterns. (us, event_id)
    * must totally order each user's stream. The triples come from an
    * ordered fold whose state is the last two labels. */
  private[graft] def seqPatternsOf(ev: DataFrame, k: Int): DataFrame = {
    final class Last2 { var n = 0; var a: String = _; var b: String = _ }
    graft.api.Folds.flatFoldOrdered(
      ev.toDF("user_id", "event_id", "event_type", "us"),
      keyCols = Seq("user_id"), orderCols = Seq("us", "event_id"),
      out = new org.apache.spark.sql.types.StructType()
        .add("e1", org.apache.spark.sql.types.StringType)
        .add("e2", org.apache.spark.sql.types.StringType)
        .add("e3", org.apache.spark.sql.types.StringType))(
      () => new Last2)(
      (st, r) => {
        val t = r.getString(2)
        val out = if (st.n >= 2) (st.a :: st.b :: t :: Nil) :: Nil else Nil
        st.a = st.b; st.b = t; if (st.n < 2) st.n += 1
        out
      })(
      _ => Nil)
      .distinct()
      .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("e1"), col("e2"), col("e3"))
      .limit(k)
  }

  /** the two-lag window formulation of seqPatternsOf — the reference
    * implementation EventFoldSpec pins the fold against. */
  private[graft] def seqPatternsWindowed(ev: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us", "event_id")
    ev.toDF("user_id", "event_id", "event_type", "us")
      .withColumn("e1", lag("event_type", 2).over(w))
      .withColumn("e2", lag("event_type", 1).over(w))
      .filter(col("e1").isNotNull)
      .select(col("user_id"), col("e1"), col("e2"),
        col("event_type").as("e3"))
      .distinct()
      .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("e1"), col("e2"), col("e3"))
      .limit(k)
  }

  /** per-purchase (first_touch, last_touch) rows over a (user_id, us,
    * event_id, event_type) frame in (us, event_id) order — the fold
    * behind ev_attribution; touches are the strictly-prior first/last
    * non-purchase label (null when no prior touch exists). */
  private final class Touch extends Serializable {
    var first: String = _; var last: String = _
  }
  private[graft] def attributionTouches(ev: DataFrame): DataFrame =
    graft.api.Folds.flatFoldOrdered(
      ev.toDF("user_id", "us", "event_id", "event_type"),
      keyCols = Seq("user_id"), orderCols = Seq("us", "event_id"),
      out = new org.apache.spark.sql.types.StructType()
        .add("first_touch", org.apache.spark.sql.types.StringType)
        .add("last_touch", org.apache.spark.sql.types.StringType))(
      () => new Touch)(
      (st, r) => {
        val t = r.getString(3)
        if (t == "purchase") (st.first :: st.last :: Nil) :: Nil
        else {
          if (st.first == null) st.first = t
          st.last = t
          Nil
        }
      })(
      _ => Nil)

  /** the ignore-nulls window formulation of ev_attribution — the
    * reference implementation EventFoldSpec pins the fold against. */
  private[graft] def attributionWindowed(s: SparkSession,
                                         dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(Long.MinValue, -1)
    val touch = when(col("event_type") =!= "purchase", col("event_type"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("first_touch",
        first(touch, ignoreNulls = true).over(w))
      .withColumn("last_touch",
        last(touch, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(
        coalesce(col("first_touch"), lit("none")).as("first_touch"),
        coalesce(col("last_touch"), lit("none")).as("last_touch"))
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy("first_touch", "last_touch")
  }

  /** Shared CTE bodies for the ev_updown_* closed forms: the same
    * (o_orderdate, o_orderkey) total order and U/D/e/first-'o'
    * classification as the Spark classifier, each row numbered, plus
    * the match table — a D-row whose predecessor classifies U, its
    * span start the first U of the maximal preceding run (last non-U
    * row + 1; always defined, the first row classifies 'o'). */
  private val updownClsSql =
    """SELECT o_custkey, o_orderkey,
      |    CAST(row_number() OVER w AS BIGINT) AS rn,
      |    CASE WHEN lag(o_totalprice) OVER w IS NULL THEN 'o'
      |         WHEN o_totalprice > lag(o_totalprice) OVER w THEN 'U'
      |         WHEN o_totalprice < lag(o_totalprice) OVER w THEN 'D'
      |         ELSE 'e' END AS c,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey
      |               ORDER BY o_orderdate, o_orderkey)""".stripMargin

  private val updownMatchSql =
    """SELECT o_custkey, rn AS end_rn, last_nonu + 1 AS start_rn,
      |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY rn)
      |      AS BIGINT) AS match_seq
      |  FROM (
      |    SELECT *, lag(c) OVER w2 AS pc,
      |      max(CASE WHEN c <> 'U' THEN rn END) OVER
      |        (PARTITION BY o_custkey ORDER BY rn
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |        AS last_nonu
      |    FROM cls
      |    WINDOW w2 AS (PARTITION BY o_custkey ORDER BY rn)) l
      |  WHERE c = 'D' AND pc = 'U'""".stripMargin

  /** Islands CTE chain for the V-shape skip oracles: maximal D-runs
    * [j..k] and U-runs [ju..m] from lag-flag island sums over the
    * classified sequence, joined where a U-run starts right after a
    * D-run — the qualifying descents. `cls` must be in scope. */
  private val updownRunsSql =
    """g AS (
      |  SELECT o_custkey, o_orderkey, rn, c,
      |    CASE WHEN c = 'D' AND coalesce(lag(c) OVER w2, 'x') <> 'D'
      |         THEN 1 ELSE 0 END AS dh,
      |    CASE WHEN c = 'U' AND coalesce(lag(c) OVER w2, 'x') <> 'U'
      |         THEN 1 ELSE 0 END AS uh
      |  FROM cls
      |  WINDOW w2 AS (PARTITION BY o_custkey ORDER BY rn)),
      |g2 AS (
      |  SELECT *, sum(dh) OVER w3 AS dg, sum(uh) OVER w3 AS ug
      |  FROM g
      |  WINDOW w3 AS (PARTITION BY o_custkey ORDER BY rn
      |                ROWS UNBOUNDED PRECEDING)),
      |druns AS (SELECT o_custkey, dg, min(rn) AS j, max(rn) AS k
      |          FROM g2 WHERE c = 'D' GROUP BY 1, 2),
      |uruns AS (SELECT o_custkey, ug, min(rn) AS ju, max(rn) AS m
      |          FROM g2 WHERE c = 'U' GROUP BY 1, 2),
      |q AS (SELECT d.o_custkey, d.j, d.k, u.m
      |      FROM druns d JOIN uruns u
      |        ON u.o_custkey = d.o_custkey AND u.ju = d.k + 1)"""
      .stripMargin

  val oracles: Map[String, String] = Map(
    "ev_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (
        |  SELECT user_id, min(us) AS view_us FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(e.us) AS click_us
        |  FROM e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.us > v.view_us
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(e.us) AS purchase_us
        |  FROM e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.us > c.click_us
        |  GROUP BY e.user_id)
        |SELECT v.user_id, v.view_us, c.click_us, p.purchase_us
        |FROM v
        |LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin,

    "ev_retention" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |cohort AS (
        |  SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
        |SELECT CAST(c.cohort_day AS VARCHAR) AS cohort_day,
        |  CAST(e.day - c.cohort_day AS INTEGER) AS day_offset,
        |  count(DISTINCT e.user_id) AS users
        |FROM e JOIN cohort c ON e.user_id = c.user_id
        |GROUP BY 1, 2
        |ORDER BY cohort_day, day_offset""".stripMargin,

    // identical strictly-prior ignore-nulls frames
    "ev_attribution" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |t AS (
        |  SELECT event_type,
        |    first_value(CASE WHEN event_type <> 'purchase'
        |                     THEN event_type END IGNORE NULLS)
        |      OVER w AS first_touch,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |                    THEN event_type END IGNORE NULLS)
        |      OVER w AS last_touch
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT coalesce(first_touch, 'none') AS first_touch,
        |  coalesce(last_touch, 'none') AS last_touch,
        |  count(*) AS n_purchases
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1, 2
        |ORDER BY first_touch, last_touch""".stripMargin,

    "ev_segment_overlap" ->
      """WITH ut AS (
        |  SELECT DISTINCT user_id, event_type FROM events),
        |aud AS (
        |  SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb,
        |    count(*) AS n_both
        |  FROM ut a JOIN ut b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.ta, p.tb, aa.n AS n_a, ab.n AS n_b, p.n_both
        |FROM pairs p
        |JOIN aud aa ON aa.event_type = p.ta
        |JOIN aud ab ON ab.event_type = p.tb
        |ORDER BY ta, tb""".stripMargin,

    // identical total order (us, event_id); support = distinct users
    "ev_seq_patterns" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |tri AS (
        |  SELECT DISTINCT user_id,
        |    lag(event_type, 2) OVER w AS e1,
        |    lag(event_type, 1) OVER w AS e2,
        |    event_type AS e3
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        |SELECT e1, e2, e3, count(*) AS support
        |FROM tri WHERE e1 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY support DESC, e1, e2, e3 LIMIT 15""".stripMargin,

    // identical total order (us, event_id); both regex engines scan
    // leftmost, non-overlapping, greedy — counts match exactly
    "ev_match_recognize" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
        |         WHEN 'purchase' THEN 'p' ELSE 'o' END AS code
        |  FROM events),
        |tr AS (
        |  SELECT user_id,
        |    string_agg(code, '' ORDER BY us, event_id) AS trace
        |  FROM e GROUP BY user_id),
        |m AS (
        |  SELECT user_id,
        |    CAST(len(regexp_extract_all(trace, 'v[co]*p')) AS BIGINT)
        |      AS n_matches
        |  FROM tr)
        |SELECT n_matches, count(*) AS n_users,
        |  min(user_id) AS min_user, max(user_id) AS max_user
        |FROM m GROUP BY 1 ORDER BY n_matches""".stripMargin,

    // INDEPENDENT closed form, not a regex scan: for v[co]*p the
    // leftmost / non-overlapping / greedy matches are exactly the
    // p-events whose predecessor in the per-user v/p-filtered
    // subsequence (total order us, event_id) is a v, and that
    // predecessor is the match's anchor — the one-bit DFA as a single
    // window lag. Agreement with the engine's general NFA fold is a
    // two-formulation cross-check, not an implementation twin.
    "ev_match_spans" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
        |         WHEN 'purchase' THEN 'p' ELSE 'o' END AS code
        |  FROM events),
        |vp AS (SELECT * FROM e WHERE code IN ('v', 'p')),
        |l AS (
        |  SELECT user_id, us, event_id, code,
        |    lag(code) OVER w AS pc,
        |    lag(us) OVER w AS pus,
        |    lag(event_id) OVER w AS pid
        |  FROM vp
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        |SELECT user_id, pus AS start_us, pid AS start_event_id,
        |  us AS end_us, event_id AS end_event_id
        |FROM l WHERE code = 'p' AND pc = 'v'
        |ORDER BY user_id, start_us, start_event_id""".stripMargin,

    // ALL ROWS PER MATCH from the ev_match_spans CLOSED FORM (window
    // lag over the v/p-filtered subsequence), joined back to the
    // events inside each span's (us, event_id) range — an engine-free
    // derivation: interior events are all c/o by the closed form, so
    // matched events == in-range events; row_number() yields both the
    // per-user match ordinal and the in-match position
    "ev_match_rows" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
        |         WHEN 'purchase' THEN 'p' ELSE 'o' END AS code
        |  FROM events),
        |vp AS (SELECT * FROM e WHERE code IN ('v', 'p')),
        |l AS (
        |  SELECT user_id, us, event_id, code,
        |    lag(code) OVER w AS pc,
        |    lag(us) OVER w AS pus,
        |    lag(event_id) OVER w AS pid
        |  FROM vp
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sp AS (
        |  SELECT user_id, pus AS sus, pid AS sid,
        |    us AS eus, event_id AS eid,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY pus, pid) AS BIGINT) AS match_seq
        |  FROM l WHERE code = 'p' AND pc = 'v')
        |SELECT sp.user_id, sp.match_seq,
        |  CAST(row_number() OVER (PARTITION BY sp.user_id, sp.match_seq
        |    ORDER BY e.us, e.event_id) AS BIGINT) AS ord_in_match,
        |  e.us, e.event_id, e.code
        |FROM sp JOIN e ON e.user_id = sp.user_id
        |  AND (e.us > sp.sus OR (e.us = sp.sus AND e.event_id >= sp.sid))
        |  AND (e.us < sp.eus OR (e.us = sp.eus AND e.event_id <= sp.eid))
        |ORDER BY sp.user_id, match_seq, ord_in_match""".stripMargin,

    // the closed form: a row starts a v[co]*v match iff it is a v
    // whose successor in the v/p-filtered subsequence is a v (p breaks
    // the chain; c/o are loop chars) — one lead(), no regex engine;
    // zero-start users kept via the distinct-user left join
    "ev_overlap_counts" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
        |         WHEN 'purchase' THEN 'p' ELSE 'o' END AS code
        |  FROM events),
        |brk AS (SELECT * FROM e WHERE code IN ('v', 'p')),
        |l AS (
        |  SELECT user_id, code, lead(code) OVER w AS nc
        |  FROM brk
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |m AS (
        |  SELECT user_id, CAST(count(CASE WHEN code = 'v' AND nc = 'v'
        |    THEN 1 END) AS BIGINT) AS n_starts
        |  FROM l GROUP BY user_id),
        |u AS (SELECT DISTINCT user_id FROM e),
        |c AS (SELECT u.user_id,
        |    coalesce(m.n_starts, CAST(0 AS BIGINT)) AS n_starts
        |  FROM u LEFT JOIN m USING (user_id))
        |SELECT n_starts, count(*) AS n_users, min(user_id) AS min_user,
        |  max(user_id) AS max_user
        |FROM c GROUP BY n_starts ORDER BY n_starts""".stripMargin,

    // MEASURES from the same closed-form span table, aggregated over
    // the in-range join — cents are decimal-cast BEFORE the sum on
    // both engines (DECIMAL(18,2)*100 is an exact integer, so the
    // BIGINT casts agree although DuckDB rounds and Spark truncates)
    "ev_match_measures" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
        |         WHEN 'purchase' THEN 'p' ELSE 'o' END AS code,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS v_cents
        |  FROM events),
        |vp AS (SELECT * FROM e WHERE code IN ('v', 'p')),
        |l AS (
        |  SELECT user_id, us, event_id, code,
        |    lag(code) OVER w AS pc,
        |    lag(us) OVER w AS pus,
        |    lag(event_id) OVER w AS pid
        |  FROM vp
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sp AS (
        |  SELECT user_id, pus AS sus, pid AS sid,
        |    us AS eus, event_id AS eid,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY pus, pid) AS BIGINT) AS match_seq
        |  FROM l WHERE code = 'p' AND pc = 'v')
        |SELECT sp.user_id, sp.match_seq, sp.sus AS start_us,
        |  sp.sid AS start_event_id, sp.eus AS end_us,
        |  sp.eid AS end_event_id,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(e.v_cents) AS BIGINT) AS sum_cents,
        |  sp.eus - sp.sus AS duration_us
        |FROM sp JOIN e ON e.user_id = sp.user_id
        |  AND (e.us > sp.sus OR (e.us = sp.sus AND e.event_id >= sp.sid))
        |  AND (e.us < sp.eus OR (e.us = sp.eus AND e.event_id <= sp.eid))
        |GROUP BY sp.user_id, sp.match_seq, sp.sus, sp.sid, sp.eus, sp.eid
        |ORDER BY sp.user_id, sp.match_seq""".stripMargin,

    // same (o_orderdate, o_orderkey) total order and the same
    // U/D/e/first-'o' classification; the count is the closed form —
    // D-events whose predecessor classifies U — via a second lag, so
    // the oracle never runs a regex engine at all
    "ev_updown_runs" ->
      """WITH cls AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey,
        |    CASE WHEN lag(o_totalprice) OVER w IS NULL THEN 'o'
        |         WHEN o_totalprice > lag(o_totalprice) OVER w THEN 'U'
        |         WHEN o_totalprice < lag(o_totalprice) OVER w THEN 'D'
        |         ELSE 'e' END AS c
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate, o_orderkey)),
        |rev AS (
        |  SELECT o_custkey,
        |    CASE WHEN c = 'D' AND lag(c) OVER w2 = 'U'
        |         THEN 1 ELSE 0 END AS r
        |  FROM cls
        |  WINDOW w2 AS (PARTITION BY o_custkey
        |                ORDER BY o_orderdate, o_orderkey)),
        |m AS (
        |  SELECT o_custkey, CAST(sum(r) AS BIGINT) AS n_reversals
        |  FROM rev GROUP BY o_custkey)
        |SELECT n_reversals, count(*) AS n_customers,
        |  min(o_custkey) AS min_cust, max(o_custkey) AS max_cust
        |FROM m GROUP BY 1 ORDER BY n_reversals""".stripMargin,

    // U{2,}D closed form: a match per D whose TWO predecessors both
    // classify U (greedy absorbs the whole run; runs of length 1
    // cannot satisfy the lower bound) — two lags over the classified
    // sequence
    "ev_updown_long_runs" ->
      s"""WITH cls AS ($updownClsSql),
         |l AS (
         |  SELECT o_custkey, c,
         |    lag(c) OVER w2 AS p1, lag(c, 2) OVER w2 AS p2
         |  FROM cls
         |  WINDOW w2 AS (PARTITION BY o_custkey ORDER BY rn)),
         |m AS (
         |  SELECT o_custkey,
         |    CAST(count(CASE WHEN c = 'D' AND p1 = 'U' AND p2 = 'U'
         |      THEN 1 END) AS BIGINT) AS n_long_reversals
         |  FROM l GROUP BY o_custkey)
         |SELECT n_long_reversals, count(*) AS n_customers,
         |  min(o_custkey) AS min_cust, max(o_custkey) AS max_cust
         |FROM m GROUP BY 1 ORDER BY n_long_reversals""".stripMargin,

    // classified ONE ROW PER MATCH closed form (see updownClsSql /
    // updownMatchSql): greedy U+D spans = [first U of the maximal run,
    // the D], never overlapping — one lag + one frame-bounded max,
    // no regex engine anywhere
    "ev_updown_spans" ->
      s"""WITH cls AS ($updownClsSql),
         |m AS ($updownMatchSql)
         |SELECT m.o_custkey, m.match_seq, s.o_orderkey AS start_id,
         |  e.o_orderkey AS end_id,
         |  CAST(m.end_rn - m.start_rn + 1 AS BIGINT) AS n_events
         |FROM m
         |JOIN cls s ON s.o_custkey = m.o_custkey AND s.rn = m.start_rn
         |JOIN cls e ON e.o_custkey = m.o_custkey AND e.rn = m.end_rn
         |ORDER BY 1, 2""".stripMargin,

    // classified ALL ROWS: the span table joined back to the
    // lag-classified rows in each span's rn range; ord_in_match is the
    // offset inside the span and cls the row's classifier label
    "ev_updown_rows" ->
      s"""WITH cls AS ($updownClsSql),
         |m AS ($updownMatchSql)
         |SELECT m.o_custkey, m.match_seq,
         |  CAST(r.rn - m.start_rn + 1 AS BIGINT) AS ord_in_match,
         |  r.o_orderkey, r.c AS cls
         |FROM m JOIN cls r ON r.o_custkey = m.o_custkey
         |  AND r.rn BETWEEN m.start_rn AND m.end_rn
         |ORDER BY 1, 2, 3""".stripMargin,

    // V-shape SKIP TO LAST up closed form: one match per qualifying
    // maximal D-run (followed directly by a U), spanning the row
    // before the run through the end of the following U-run —
    // resuming at the peak never suppresses a chained V, so the match
    // set IS the qualifying-run set
    "ev_vshape_skip_last" ->
      s"""WITH cls AS ($updownClsSql),
         |$updownRunsSql,
         |m0 AS (SELECT o_custkey, j - 1 AS start_rn, m AS end_rn FROM q),
         |mm AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY o_custkey
         |    ORDER BY start_rn) AS BIGINT) AS match_seq
         |  FROM m0)
         |SELECT mm.o_custkey, mm.match_seq, s.o_orderkey AS start_id,
         |  e.o_orderkey AS end_id,
         |  CAST(mm.end_rn - mm.start_rn + 1 AS BIGINT) AS n_events
         |FROM mm
         |JOIN cls s ON s.o_custkey = mm.o_custkey AND s.rn = mm.start_rn
         |JOIN cls e ON e.o_custkey = mm.o_custkey AND e.rn = mm.end_rn
         |ORDER BY 1, 2""".stripMargin,

    // V-shape SKIP TO FIRST down closed form: a qualifying run [j..k]
    // with peak m yields one match per start rn in [j−1, k−1] (each
    // suffix of the descent re-anchored one row later), all ending at
    // the peak
    "ev_vshape_skip_first" ->
      s"""WITH cls AS ($updownClsSql),
         |$updownRunsSql,
         |m0 AS (
         |  SELECT q.o_custkey, r.rn AS start_rn, q.m AS end_rn
         |  FROM q JOIN cls r ON r.o_custkey = q.o_custkey
         |    AND r.rn BETWEEN q.j - 1 AND q.k - 1),
         |mm AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY o_custkey
         |    ORDER BY start_rn) AS BIGINT) AS match_seq
         |  FROM m0)
         |SELECT mm.o_custkey, mm.match_seq, s.o_orderkey AS start_id,
         |  e.o_orderkey AS end_id,
         |  CAST(mm.end_rn - mm.start_rn + 1 AS BIGINT) AS n_events
         |FROM mm
         |JOIN cls s ON s.o_custkey = mm.o_custkey AND s.rn = mm.start_rn
         |JOIN cls e ON e.o_custkey = mm.o_custkey AND e.rn = mm.end_rn
         |ORDER BY 1, 2""".stripMargin,

    // skip ALL ROWS from the islands closed form: per match, the
    // anchor row (ord 1, var strt), the down range [j..k] (ords 2..),
    // and the up range [k+1..m] — the rn offset inside the match is
    // rn − start_rn + 1
    "ev_vshape_rows" ->
      s"""WITH cls AS ($updownClsSql),
         |$updownRunsSql,
         |mm AS (
         |  SELECT o_custkey, j, k, m, j - 1 AS start_rn,
         |    CAST(row_number() OVER (PARTITION BY o_custkey
         |      ORDER BY j) AS BIGINT) AS match_seq
         |  FROM q)
         |SELECT mm.o_custkey, mm.match_seq,
         |  CAST(r.rn - mm.start_rn + 1 AS BIGINT) AS ord_in_match,
         |  r.o_orderkey,
         |  CASE WHEN r.rn = mm.start_rn THEN 'strt'
         |       WHEN r.rn <= mm.k THEN 'down' ELSE 'up' END AS var
         |FROM mm JOIN cls r ON r.o_custkey = mm.o_custkey
         |  AND r.rn BETWEEN mm.start_rn AND mm.m
         |ORDER BY 1, 2, 3""".stripMargin,

    // per-variable measures from the same islands closed form: each
    // component's rows are an rn range (anchor j−1, down [j..k], up
    // [k+1..m]), aggregated per match; sums cast back to BIGINT
    "ev_vshape_measures" ->
      s"""WITH cls AS ($updownClsSql),
         |$updownRunsSql,
         |mm AS (
         |  SELECT o_custkey, j, k, m, j - 1 AS start_rn, m AS end_rn,
         |    CAST(row_number() OVER (PARTITION BY o_custkey
         |      ORDER BY j) AS BIGINT) AS match_seq
         |  FROM q),
         |dn AS (
         |  SELECT mm.o_custkey, mm.match_seq,
         |    CAST(count(*) AS BIGINT) AS n, CAST(sum(r.cents) AS BIGINT)
         |      AS sm
         |  FROM mm JOIN cls r ON r.o_custkey = mm.o_custkey
         |    AND r.rn BETWEEN mm.j AND mm.k
         |  GROUP BY 1, 2),
         |up AS (
         |  SELECT mm.o_custkey, mm.match_seq,
         |    CAST(count(*) AS BIGINT) AS n, CAST(sum(r.cents) AS BIGINT)
         |      AS sm
         |  FROM mm JOIN cls r ON r.o_custkey = mm.o_custkey
         |    AND r.rn BETWEEN mm.k + 1 AND mm.m
         |  GROUP BY 1, 2)
         |SELECT mm.o_custkey, mm.match_seq, s.o_orderkey AS start_id,
         |  e.o_orderkey AS end_id,
         |  CAST(1 AS BIGINT) AS strt_n, s.cents AS strt_sum,
         |  dn.n AS down_n, dn.sm AS down_sum,
         |  up.n AS up_n, up.sm AS up_sum
         |FROM mm
         |JOIN cls s ON s.o_custkey = mm.o_custkey AND s.rn = mm.start_rn
         |JOIN cls e ON e.o_custkey = mm.o_custkey AND e.rn = mm.end_rn
         |JOIN dn ON dn.o_custkey = mm.o_custkey
         |  AND dn.match_seq = mm.match_seq
         |JOIN up ON up.o_custkey = mm.o_custkey
         |  AND up.match_seq = mm.match_seq
         |ORDER BY 1, 2""".stripMargin,

    // SUBSET w = (down, up) from the same islands closed form: the
    // members are ADJACENT components, so their union is the
    // contiguous rn range [j..m] — one in-range aggregate per match
    "ev_vshape_subset" ->
      s"""WITH cls AS ($updownClsSql),
         |$updownRunsSql,
         |mm AS (
         |  SELECT o_custkey, j, k, m, j - 1 AS start_rn, m AS end_rn,
         |    CAST(row_number() OVER (PARTITION BY o_custkey
         |      ORDER BY j) AS BIGINT) AS match_seq
         |  FROM q),
         |w AS (
         |  SELECT mm.o_custkey, mm.match_seq,
         |    CAST(count(*) AS BIGINT) AS w_n,
         |    CAST(sum(r.cents) AS BIGINT) AS w_sum
         |  FROM mm JOIN cls r ON r.o_custkey = mm.o_custkey
         |    AND r.rn BETWEEN mm.j AND mm.m
         |  GROUP BY 1, 2)
         |SELECT mm.o_custkey, mm.match_seq, s.o_orderkey AS start_id,
         |  e.o_orderkey AS end_id, w.w_n, w.w_sum
         |FROM mm
         |JOIN cls s ON s.o_custkey = mm.o_custkey AND s.rn = mm.start_rn
         |JOIN cls e ON e.o_custkey = mm.o_custkey AND e.rn = mm.end_rn
         |JOIN w ON w.o_custkey = mm.o_custkey
         |  AND w.match_seq = mm.match_seq
         |ORDER BY 1, 2""".stripMargin,

    // FIRST/LAST navigation from the same islands closed form: the
    // navigated values are the cents at the component boundary rows —
    // down at rn = j and k, up at rn = k+1 and m — four coordinate
    // point-joins, no aggregation
    "ev_vshape_firstlast" ->
      s"""WITH cls AS ($updownClsSql),
         |$updownRunsSql,
         |mm AS (
         |  SELECT o_custkey, j, k, m, j - 1 AS start_rn, m AS end_rn,
         |    CAST(row_number() OVER (PARTITION BY o_custkey
         |      ORDER BY j) AS BIGINT) AS match_seq
         |  FROM q)
         |SELECT mm.o_custkey, mm.match_seq, s.o_orderkey AS start_id,
         |  e.o_orderkey AS end_id,
         |  df.cents AS down_first, dl.cents AS down_last,
         |  uf.cents AS up_first, ul.cents AS up_last
         |FROM mm
         |JOIN cls s ON s.o_custkey = mm.o_custkey AND s.rn = mm.start_rn
         |JOIN cls e ON e.o_custkey = mm.o_custkey AND e.rn = mm.end_rn
         |JOIN cls df ON df.o_custkey = mm.o_custkey AND df.rn = mm.j
         |JOIN cls dl ON dl.o_custkey = mm.o_custkey AND dl.rn = mm.k
         |JOIN cls uf ON uf.o_custkey = mm.o_custkey AND uf.rn = mm.k + 1
         |JOIN cls ul ON ul.o_custkey = mm.o_custkey AND ul.rn = mm.m
         |ORDER BY 1, 2""".stripMargin,

    // RUNNING vs FINAL at ALL ROWS grain: the closed-form span table
    // joined to the classified rows in range; running = ROWS UNBOUNDED
    // PRECEDING window sum inside the match, final = the
    // whole-partition sum; HUGEINT sums cast back to BIGINT
    "ev_updown_running" ->
      s"""WITH cls AS ($updownClsSql),
         |m AS ($updownMatchSql),
         |rr AS (
         |  SELECT m.o_custkey, m.match_seq,
         |    CAST(r.rn - m.start_rn + 1 AS BIGINT) AS ord_in_match,
         |    r.o_orderkey, r.c AS cls,
         |    CAST(sum(r.cents) OVER (PARTITION BY m.o_custkey,
         |      m.match_seq ORDER BY r.rn ROWS UNBOUNDED PRECEDING)
         |      AS BIGINT) AS running_cents,
         |    CAST(sum(r.cents) OVER (PARTITION BY m.o_custkey,
         |      m.match_seq) AS BIGINT) AS final_cents
         |  FROM m JOIN cls r ON r.o_custkey = m.o_custkey
         |    AND r.rn BETWEEN m.start_rn AND m.end_rn)
         |SELECT * FROM rr ORDER BY 1, 2, 3""".stripMargin,

    // PREV(col, 2): the ev_updown_runs closed form — a match per D
    // whose predecessor classifies U — over a lag(total, 2)
    // classification; two lags, no regex engine
    "ev_updown_lag2" ->
      """WITH cls2 AS (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(row_number() OVER w AS BIGINT) AS rn,
        |    CASE WHEN lag(o_totalprice, 2) OVER w IS NULL THEN 'o'
        |         WHEN o_totalprice > lag(o_totalprice, 2) OVER w THEN 'U'
        |         WHEN o_totalprice < lag(o_totalprice, 2) OVER w THEN 'D'
        |         ELSE 'e' END AS c
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate, o_orderkey)),
        |rev AS (
        |  SELECT o_custkey,
        |    CASE WHEN c = 'D' AND lag(c) OVER w2 = 'U'
        |         THEN 1 ELSE 0 END AS r
        |  FROM cls2
        |  WINDOW w2 AS (PARTITION BY o_custkey ORDER BY rn)),
        |m AS (
        |  SELECT o_custkey, CAST(sum(r) AS BIGINT) AS n_lag2_reversals
        |  FROM rev GROUP BY o_custkey)
        |SELECT n_lag2_reversals, count(*) AS n_customers,
        |  min(o_custkey) AS min_cust, max(o_custkey) AS max_cust
        |FROM m GROUP BY 1 ORDER BY n_lag2_reversals""".stripMargin,

    // classified MEASURES: the same in-range join aggregated per span;
    // cents are decimal-cast before the sum on both engines and the
    // HUGEINT sum casts back to BIGINT
    "ev_updown_measures" ->
      s"""WITH cls AS ($updownClsSql),
         |m AS ($updownMatchSql),
         |agg AS (
         |  SELECT m.o_custkey, m.match_seq, m.start_rn, m.end_rn,
         |    CAST(count(*) AS BIGINT) AS n_events,
         |    CAST(sum(r.cents) AS BIGINT) AS sum_cents
         |  FROM m JOIN cls r ON r.o_custkey = m.o_custkey
         |    AND r.rn BETWEEN m.start_rn AND m.end_rn
         |  GROUP BY 1, 2, 3, 4)
         |SELECT a.o_custkey, a.match_seq, s.o_orderkey AS start_id,
         |  e.o_orderkey AS end_id, a.n_events, a.sum_cents
         |FROM agg a
         |JOIN cls s ON s.o_custkey = a.o_custkey AND s.rn = a.start_rn
         |JOIN cls e ON e.o_custkey = a.o_custkey AND e.rn = a.end_rn
         |ORDER BY 1, 2""".stripMargin,

    // same quintile thresholds (quantile_cont = Spark's exact
    // interpolated percentile) and the same broadcast-comparison
    // scoring — integer/decimal inputs, IEEE-identical thresholds
    "ev_rfm" ->
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    CAST(value AS DECIMAL(38,2)) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |hw AS (SELECT max(us) AS hw_us FROM p),
        |rfm AS (
        |  SELECT user_id,
        |    CAST((max(hw_us) - max(us)) // 86400000000 AS BIGINT)
        |      AS r_days,
        |    CAST(count(*) AS BIGINT) AS f,
        |    CAST(sum(v) * 100 AS BIGINT) AS m_cents
        |  FROM p CROSS JOIN hw GROUP BY user_id),
        |thr AS (
        |  SELECT quantile_cont(r_days, [0.2, 0.4, 0.6, 0.8]) AS rq,
        |    quantile_cont(f, [0.2, 0.4, 0.6, 0.8]) AS fq,
        |    quantile_cont(m_cents, [0.2, 0.4, 0.6, 0.8]) AS mq
        |  FROM rfm),
        |scored AS (
        |  SELECT user_id,
        |    1 + CASE WHEN r_days > rq[1] THEN 1 ELSE 0 END
        |      + CASE WHEN r_days > rq[2] THEN 1 ELSE 0 END
        |      + CASE WHEN r_days > rq[3] THEN 1 ELSE 0 END
        |      + CASE WHEN r_days > rq[4] THEN 1 ELSE 0 END AS r_score,
        |    1 + CASE WHEN f > fq[1] THEN 1 ELSE 0 END
        |      + CASE WHEN f > fq[2] THEN 1 ELSE 0 END
        |      + CASE WHEN f > fq[3] THEN 1 ELSE 0 END
        |      + CASE WHEN f > fq[4] THEN 1 ELSE 0 END AS f_score,
        |    1 + CASE WHEN m_cents > mq[1] THEN 1 ELSE 0 END
        |      + CASE WHEN m_cents > mq[2] THEN 1 ELSE 0 END
        |      + CASE WHEN m_cents > mq[3] THEN 1 ELSE 0 END
        |      + CASE WHEN m_cents > mq[4] THEN 1 ELSE 0 END AS m_score
        |  FROM rfm CROSS JOIN thr)
        |SELECT CAST(r_score AS INTEGER) AS r_score,
        |  CAST(f_score AS INTEGER) AS f_score,
        |  CAST(m_score AS INTEGER) AS m_score,
        |  count(*) AS n_users,
        |  min(user_id) AS min_user, max(user_id) AS max_user
        |FROM scored GROUP BY 1, 2, 3
        |ORDER BY r_score, f_score, m_score""".stripMargin,

    // same per-anchor first-click / first-purchase chain, the same
    // 6-hour window anchored at the view
    "ev_window_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, us AS vus FROM ev
        |      WHERE event_type = 'view'),
        |c AS (SELECT user_id AS cu, us AS cus FROM ev
        |      WHERE event_type = 'click'),
        |p AS (SELECT user_id AS pu, us AS pus FROM ev
        |      WHERE event_type = 'purchase'),
        |vc AS (
        |  SELECT v.user_id, v.vus, min(c.cus) AS cus
        |  FROM v LEFT JOIN c ON v.user_id = c.cu
        |    AND c.cus > v.vus AND c.cus <= v.vus + 21600000000
        |  GROUP BY 1, 2),
        |vcp AS (
        |  SELECT vc.user_id, vc.vus, vc.cus, min(p.pus) AS pus
        |  FROM vc LEFT JOIN p ON vc.user_id = p.pu
        |    AND p.pus > vc.cus AND p.pus <= vc.vus + 21600000000
        |  GROUP BY 1, 2, 3),
        |depth AS (
        |  SELECT user_id, max(1
        |    + CASE WHEN cus IS NOT NULL THEN 1 ELSE 0 END
        |    + CASE WHEN pus IS NOT NULL THEN 1 ELSE 0 END) AS level
        |  FROM vcp GROUP BY 1),
        |lv AS (
        |  SELECT u.user_id,
        |    CAST(coalesce(d.level, 0) AS BIGINT) AS level
        |  FROM (SELECT DISTINCT user_id FROM ev) u
        |  LEFT JOIN depth d ON d.user_id = u.user_id)
        |SELECT level, count(*) AS n_users,
        |  min(user_id) AS min_user, max(user_id) AS max_user
        |FROM lv GROUP BY 1 ORDER BY level""".stripMargin
  )
}
