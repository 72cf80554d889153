package graft.api

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Per-entity ORDERED-FOLD primitive — the bounded-state alternative to
  * `groupBy(key).agg(collect_list(...))` trace materialization: one
  * shuffle on the key, a per-partition secondary sort on the order
  * columns (Spark's `flatMapSortedGroups`), then a single streaming
  * pass of a caller-supplied state machine over each entity's events
  * in order. Emissions stream out as the fold advances (the returned
  * iterator is lazy — nothing per-entity is buffered beyond the
  * caller's own state), so per-entity memory is O(|state|) however
  * long one entity's history runs — the contract that makes a
  * hyperactive entity (a bot with 10⁹ events) a wide sorted run on
  * disk instead of a multi-GB aggregation buffer.
  *
  * Clients: MATCH_RECOGNIZE / CEP match counting (the
  * functions.RowPattern machine — `ev_match_recognize`,
  * `t10_cep_twin`, api.Events.matchPattern), gap sessionization
  * (`sz_sessionize`), inactivity gaps, attribution
  * (`ev_attribution`), Markov transitions (`ev_transitions`) and
  * sequence trigrams (`ev_seq_patterns`) — all oracle-checked, each
  * parity-pinned against the window form it replaced (EventFoldSpec).
  * The streaming twin of this primitive is `flatMapGroupsWithState`
  * (streaming/CepPattern carries the same functions.RowMatcher state
  * the MATCH_RECOGNIZE folds run) — same key shuffle, same per-entity
  * state, checkpointed.
  *
  * Key and order columns are arbitrary (keys ride through as opaque
  * Rows, so any key type works and survives to the output unchanged);
  * `orderCols` must totally order each entity's events or the fold's
  * input order — and therefore any order-sensitive result — is
  * nondeterministic.
  */
object Folds {

  /** Fold each entity's rows in `orderCols` order through `step`,
    * streaming out emissions; `flush` emits at end-of-entity. Output
    * columns = the key columns followed by `out`'s fields; `step` and
    * `flush` emit field sequences matching `out` (external row types:
    * java.lang.Long for LongType etc.).
    */
  def flatFoldOrdered[S](df: DataFrame, keyCols: Seq[String],
                         orderCols: Seq[String], out: StructType)
                        (init: () => S)
                        (step: (S, Row) => IterableOnce[Seq[Any]])
                        (flush: S => IterableOnce[Seq[Any]]): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val keyIdx = keyCols.map(inSchema.fieldIndex).toArray
    val keySchema = StructType(keyIdx.map(inSchema.fields(_)))
    val outSchema = StructType(keySchema.fields ++ out.fields)
    val inEnc = Encoders.row(inSchema)
    val keyEnc = Encoders.row(keySchema)
    val outEnc = Encoders.row(outSchema)
    val sortCols: Seq[Column] = orderCols.map(col)
    df.as(inEnc)
      .groupByKey(r => Row.fromSeq(keyIdx.toSeq.map(r.get)))(keyEnc)
      .flatMapSortedGroups(sortCols: _*) { (key: Row, it: Iterator[Row]) =>
        val keyVals = key.toSeq
        // lazy emission: rows stream out as the fold advances — no
        // per-entity output buffer
        new Iterator[Row] {
          private val state = init()
          private var emitted: Iterator[Seq[Any]] = Iterator.empty
          private var flushed = false
          private def advance(): Unit = {
            while (!emitted.hasNext && !flushed) {
              if (it.hasNext) emitted = step(state, it.next()).iterator
              else { emitted = flush(state).iterator; flushed = true }
            }
          }
          override def hasNext: Boolean = { advance(); emitted.hasNext }
          override def next(): Row = {
            advance()
            Row.fromSeq(keyVals ++ emitted.next())
          }
        }
      }(outEnc)
      .toDF(outSchema.fieldNames.toIndexedSeq: _*)
  }

  /** One-result-per-entity convenience: fold to a state, emit once. */
  def foldOrdered[S](df: DataFrame, keyCols: Seq[String],
                     orderCols: Seq[String], out: StructType)
                    (init: () => S)
                    (step: (S, Row) => S)
                    (finish: S => Seq[Any]): DataFrame = {
    // the step's state is threaded mutably per entity; emission happens
    // only at end-of-entity
    final class Box(var s: S)
    flatFoldOrdered[Box](df, keyCols, orderCols, out)(
      () => new Box(init()))(
      (b, r) => { b.s = step(b.s, r); Nil })(
      b => Seq(finish(b.s)))
  }
}
