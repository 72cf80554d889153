package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}
import graft.functions.RowPattern.{Inst, MatchCounter, SkipMatch, SkipMode,
  SkipProgram, SkipScanner, SpanRing, StartDetector}

/** Row-pattern OUTPUT MODES over Spark rows: each mode's per-entity
  * step, written once and run by both the batch folds
  * (operators/EventAnalytics, through api.Folds.flatFoldOrdered) and
  * the streaming state (streaming/CepPattern's guarded
  * flatMapGroupsWithState driver).
  *
  * A [[Matcher]] is a mode's plan-time half: the compiled pattern, the
  * column positions, the classifier and the emitted fields. Its
  * per-entity half is a [[State]] — the engine, the PREV row and the
  * match ordinal — which is all a stream checkpoints per key. `feed`
  * steps one event in entity order and returns the rows it confirmed;
  * `finish` flushes at end of input (a batch entity's last event — a
  * stream never calls it, so only confirmed matches emit there).
  *
  * An event becomes pattern chars one of two ways: a CODE COLUMN (its
  * chars feed in order, a NULL code skips the event; span and skip
  * modes need exactly one char per event), or a DEFINE/PREV
  * classifier `classify(prev, cur)` over the entity's previous row in
  * feed order (null on the first).
  *
  * Modes: [[Counts]] (find() counts, Update-shaped in a stream),
  * [[Starts]] (SKIP TO NEXT ROW start counts, fed in reverse order),
  * and [[Spans]] / [[Skips]] — the span-mode machine with its pruned
  * ring, or the skip scanner — emitting each confirmed match in one of
  * the [[Shape]]s: one row per match with its measures, ALL ROWS with
  * RUNNING/FINAL sums, ALL ROWS labeled by pattern variable,
  * per-variable COUNT/SUM with SUBSETs, or per-variable FIRST/LAST.
  */
object RowMatcher {

  type Classify = (Row, Row) => Char

  /** One event as the span and skip engines carry it: its order micros
    * and id (a match's coordinates), its CLASSIFIER() label (kept only
    * for ALL ROWS) and its measure (null = NULL). */
  final case class Ev(us: Long, id: Long, cls: String, v: java.lang.Long)

  /** Where an event's fields sit in the rows fed (-1 = absent): order
    * micros, id, code column (-1 = the classifier reads the row) and
    * measure. */
  final case class Cols(us: Int = -1, id: Int = -1, code: Int = -1,
                        v: Int = -1)

  /** Per-entity state: the engine, the PREV row (classifier forms) and
    * the count of matches emitted so far (their ordinal). */
  final class State[E](val engine: E) extends Serializable {
    var prev: Row = _
    var seq: Long = 0L
  }

  abstract class Matcher[E](cols: Cols, classify: Classify)
      extends Serializable {
    require(classify != null || cols.code >= 0,
      "a matcher needs a code column or a classifier")

    /** The emitted fields, in order — a fold's output after its keys. */
    def fields: StructType
    def init(): State[E]
    def feed(st: State[E], r: Row): List[Seq[Any]]
    def finish(st: State[E]): List[Seq[Any]]

    /** The count `finish` would report were the input to end after
      * `pending` — count mode's Update-shaped stream emission. */
    def countIfEnded(st: State[E], pending: Iterable[Row]): Long =
      throw new UnsupportedOperationException(
        "only count mode reports a count before end of input")

    /** An event this matcher never feeds: a NULL code. */
    final def skips(r: Row): Boolean =
      classify == null && r.isNullAt(cols.code)

    /** The event's pattern chars (null: skip it); advances PREV. */
    protected final def chars(st: State[E], r: Row): String =
      if (classify == null) r.getString(cols.code)
      else {
        val c = classify(st.prev, r)
        st.prev = r
        String.valueOf(c)
      }

    protected final def oneChar(s: String): Char = {
      require(s.length == 1,
        "span, ALL ROWS, MEASURES, skip and overlap modes need exactly " +
          "one code char per event")
      s.charAt(0)
    }
  }

  private def longs(names: String*): StructType =
    names.foldLeft(new StructType())(_.add(_, LongType))

  private def box(xs: Long*): Seq[Any] = xs.map(Long.box)

  /** Leftmost / non-overlapping / greedy match counts (`Matcher.find()`
    * — SKIP PAST LAST ROW) off the speculation chain: O(|pattern|)
    * state for terminator-disjoint patterns, `depthCap`-bounded with
    * loud failure otherwise. A code column may carry several chars per
    * event (fed in order). */
  final class Counts(pattern: String, depthCap: Int, cols: Cols,
                     classify: Classify = null)
      extends Matcher[MatchCounter](cols, classify) {
    private val prog = RowPattern.compile(pattern)
    val fields: StructType = longs("n_matches")
    def init(): State[MatchCounter] =
      new State(new MatchCounter(prog, depthCap))
    def feed(st: State[MatchCounter], r: Row): List[Seq[Any]] = {
      val s = chars(st, r)
      if (s != null) st.engine.feedAll(s)
      Nil
    }
    def finish(st: State[MatchCounter]): List[Seq[Any]] =
      List(box(st.engine.finish()))
    override def countIfEnded(st: State[MatchCounter],
                              pending: Iterable[Row]): Long = {
      val s = new State(st.engine.snapshot())
      s.prev = st.prev
      pending.foreach(feed(s, _))
      s.engine.finish()
    }
  }

  /** AFTER MATCH SKIP TO NEXT ROW start counts: the reversed-NFA
    * [[RowPattern.StartDetector]] — feed the entity's events in
    * DESCENDING order; `seq` counts the rows where a match starts. */
  final class Starts(pattern: String, cols: Cols)
      extends Matcher[StartDetector](cols, null) {
    private val prog = RowPattern.compile(pattern)
    // eager construction rejects nullable patterns at plan time (an
    // empty match would start at every row)
    new StartDetector(prog)
    val fields: StructType = longs("n_starts")
    def init(): State[StartDetector] = new State(new StartDetector(prog))
    def feed(st: State[StartDetector], r: Row): List[Seq[Any]] = {
      val s = chars(st, r)
      if (s != null && st.engine.feed(oneChar(s))) st.seq += 1
      Nil
    }
    def finish(st: State[StartDetector]): List[Seq[Any]] =
      List(box(st.seq))
  }

  /** What each confirmed match emits, given its ordinal and its events
    * in order with their component boundaries. */
  sealed abstract class Shape extends Serializable {
    def fields: StructType
    def rows(seq: Long, m: SkipMatch[Ev]): List[Seq[Any]]
    /** ALL ROWS carries each event's CLASSIFIER() label. */
    def keepsCls: Boolean = false
  }

  private def sum(evs: Iterable[Ev]): Long = {
    var s = 0L
    evs.foreach(e => if (e.v != null) s += e.v)
    s
  }

  /** ONE ROW PER MATCH with its MEASURES: first/last coordinates,
    * COUNT(*) and the exact long SUM of the measure (NULLs ignored). */
  case object PerMatch extends Shape {
    val fields: StructType = longs("match_seq", "start_us",
      "start_event_id", "end_us", "end_event_id", "n_events", "sum_value")
    def rows(seq: Long, m: SkipMatch[Ev]): List[Seq[Any]] =
      List(box(seq, m.first.us, m.first.id, m.last.us, m.last.id,
        m.len.toLong, sum(m.rows)))
  }

  /** ALL ROWS PER MATCH: every matched event with its in-match ordinal,
    * CLASSIFIER() label, and the RUNNING (inclusive prefix) and FINAL
    * (whole-match) sums of the measure — equal on the last row. */
  case object AllRows extends Shape {
    val fields: StructType = longs("match_seq", "ord_in_match", "us", "id")
      .add("cls", StringType).add("running_sum", LongType)
      .add("final_sum", LongType)
    override def keepsCls: Boolean = true
    def rows(seq: Long, m: SkipMatch[Ev]): List[Seq[Any]] = {
      val total = sum(m.rows)
      var running = 0L
      m.rows.iterator.zipWithIndex.map { case (e, i) =>
        if (e.v != null) running += e.v
        Seq[Any](Long.box(seq), Long.box(i + 1L), Long.box(e.us),
          Long.box(e.id), e.cls, Long.box(running), Long.box(total))
      }.toList
    }
  }

  /** ALL ROWS for skip-mode patterns: every matched row labeled with
    * the name of the component java.regex's group assignment maps it
    * to (SQL:2016 CLASSIFIER() at pattern-variable grain). */
  final case class Labeled(names: IndexedSeq[String]) extends Shape {
    val fields: StructType =
      longs("match_seq", "ord_in_match", "id").add("var", StringType)
    def rows(seq: Long, m: SkipMatch[Ev]): List[Seq[Any]] =
      names.indices.flatMap { ci =>
        val base = m.bounds(ci)
        m.comp(ci).zipWithIndex.map { case (e, off) =>
          Seq[Any](Long.box(seq), Long.box(base + off + 1L), Long.box(e.id),
            names(ci))
        }
      }.toList
  }

  private def withPairs(names: Seq[String], a: String,
                        b: String, t: DataType): StructType =
    names.foldLeft(longs("match_seq", "start_id", "end_id")) { (s, n) =>
      s.add(s"$n$a", t).add(s"$n$b", t)
    }

  /** PER-VARIABLE MEASURES: per component `{name}_n` / `{name}_sum`
    * over exactly the rows mapped to it, then the same for each
    * SQL:2016 SUBSET — a named union of components, whose aggregates
    * are its members' sums (a row maps to exactly one component). */
  final case class VarMeasures(names: IndexedSeq[String],
                               subsets: Seq[(String, Seq[String])])
      extends Shape {
    subsets.foreach { case (sn, members) =>
      require(members.nonEmpty, s"SUBSET $sn needs at least one member")
      require(!names.contains(sn),
        s"SUBSET name '$sn' collides with a component name")
      members.foreach(mn => require(names.contains(mn),
        s"SUBSET $sn member '$mn' is not a declared component " +
          s"(have: ${names.mkString(",")})"))
      require(members.distinct.length == members.length,
        s"SUBSET $sn lists a member twice")
    }
    require(subsets.map(_._1).distinct.length == subsets.length,
      "duplicate SUBSET names")
    private val subsetIdx: Seq[Seq[Int]] =
      subsets.map(_._2.map(names.indexOf(_)))
    /** component names, then subset names: one (n, sum) pair each. */
    val groups: Seq[String] = names ++ subsets.map(_._1)
    val fields: StructType = withPairs(groups, "_n", "_sum", LongType)
    def rows(seq: Long, m: SkipMatch[Ev]): List[Seq[Any]] = {
      val perN = names.indices.map(m.comp(_).length.toLong)
      val perS = names.indices.map(i => sum(m.comp(i)))
      val pairs = names.indices.map(i => (perN(i), perS(i))) ++
        subsetIdx.map(is => (is.map(perN).sum, is.map(perS).sum))
      List(box(seq, m.first.id, m.last.id) ++
        pairs.flatMap { case (n, s) => box(n, s) })
    }
  }

  /** FIRST/LAST VALUE NAVIGATION: per component `{name}_first` /
    * `{name}_last`, the measure of its first and last rows — NULL when
    * the component matched no rows (navigation on empty) and when the
    * boundary row's measure is itself NULL (navigation reports the
    * value, unlike SUM). */
  final case class VarNav(names: IndexedSeq[String]) extends Shape {
    val fields: StructType = withPairs(names, "_first", "_last", LongType)
    def rows(seq: Long, m: SkipMatch[Ev]): List[Seq[Any]] =
      List(box(seq, m.first.id, m.last.id) ++ names.indices.flatMap { i =>
        val c = m.comp(i)
        if (c.isEmpty) Seq(null, null) else Seq(c.head.v, c.last.v)
      })
  }

  /** A matcher whose engine confirms whole matches, each emitted in
    * `shape` under the entity's next ordinal. */
  sealed abstract class Emitting[E](cols: Cols, classify: Classify,
                                    shape: Shape)
      extends Matcher[E](cols, classify) {
    def fields: StructType = shape.fields
    protected def step(engine: E, c: Char, e: Ev): List[SkipMatch[Ev]]
    protected def flush(engine: E): List[SkipMatch[Ev]]

    def feed(st: State[E], r: Row): List[Seq[Any]] = {
      val s = chars(st, r)
      if (s == null) Nil
      else {
        val e = Ev(if (cols.us < 0) 0L else r.getLong(cols.us),
          r.getLong(cols.id), if (shape.keepsCls) s else null,
          if (cols.v < 0 || r.isNullAt(cols.v)) null
          else java.lang.Long.valueOf(r.getLong(cols.v)))
        emit(st, step(st.engine, oneChar(s), e))
      }
    }
    def finish(st: State[E]): List[Seq[Any]] = emit(st, flush(st.engine))

    private def emit(st: State[E], ms: List[SkipMatch[Ev]]): List[Seq[Any]] =
      ms.flatMap { m => st.seq += 1; shape.rows(st.seq, m) }
  }

  /** The span-mode machine plus the position→event ring pruned to its
    * minLivePos: matches in `Matcher.find()` order, per-entity state
    * O(|pattern| + longest live match). Terminator-disjoint patterns
    * only — the span buffers and the ring are bounded under that
    * contract alone. */
  final class Spans(pattern: String, cols: Cols, shape: Shape,
                    classify: Classify = null)
      extends Emitting[SpanRing[Ev]](cols, classify, shape) {
    private val prog: Array[Inst] = RowPattern.compile(pattern)
    require(RowPattern.terminatorDisjoint(prog),
      s"span output (ONE ROW PER MATCH, ALL ROWS, MEASURES) needs a " +
        s"terminator-disjoint pattern; '$pattern' is not — count its " +
        "matches instead")
    def init(): State[SpanRing[Ev]] = new State(
      new SpanRing[Ev](new MatchCounter(prog, trackSpans = true)))
    protected def step(ring: SpanRing[Ev], c: Char,
                       e: Ev): List[SkipMatch[Ev]] = {
      val ms = ring.feed(e, c).map(whole(ring, _))
      ring.prune()
      ms
    }
    protected def flush(ring: SpanRing[Ev]): List[SkipMatch[Ev]] =
      ring.finishSpans().map(whole(ring, _))
    private def whole(ring: SpanRing[Ev], sp: (Long, Long)): SkipMatch[Ev] = {
      val evs = ring.slice(sp)
      SkipMatch(evs, Array(0, evs.length))
    }
  }

  /** AFTER MATCH SKIP over named components: the
    * [[RowPattern.SkipScanner]], whose state is one buffered attempt;
    * matches may overlap at the resume row. The skip target is
    * validated at plan time. */
  final class Skips(components: Seq[(String, String)], skip: SkipMode,
                    cols: Cols, shape: Shape, classify: Classify = null)
      extends Emitting[SkipScanner[Ev]](cols, classify, shape) {
    private val sp = new SkipProgram(components)
    init()
    def init(): State[SkipScanner[Ev]] =
      new State(new SkipScanner[Ev](sp, skip))
    protected def step(sc: SkipScanner[Ev], c: Char,
                       e: Ev): List[SkipMatch[Ev]] = sc.feed(c, e)
    protected def flush(sc: SkipScanner[Ev]): List[SkipMatch[Ev]] =
      sc.finish()
  }
}
