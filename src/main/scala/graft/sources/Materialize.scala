package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Once-per-(session, key) materialization of derived tables — the
  * generalization of [[Bucketing]]'s write-once pattern to any index
  * artifact (ANN codebooks, code tables, quantized corpora). A real
  * vector store builds its index ONCE at ingest and serves queries off
  * the materialized artifact (FAISS train/add vs search); re-training
  * the codebook per query would be like re-bucketing a table per join.
  * The bench's cold pass times build+write+first-query, steady passes
  * time the recurring search — the split the materialized layout exists
  * to create.
  *
  * First use in a session always drops+rewrites (so a stale table from
  * an earlier session at a different SF can't leak in); later uses in
  * the same session read the managed table.
  */
object Materialize {
  // per-SESSION guard maps held under identity-keyed WEAK references
  // (ADVICE r7): identityHashCode can be reused after a session is
  // GC'd, which would let a colliding later session skip the
  // drop+rewrite and read a stale table — a WeakHashMap keyed on the
  // session object itself cannot collide, and entries die with their
  // session
  private val built = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, String]]()

  private def sessionMap(s: SparkSession) = built.synchronized {
    var m = built.get(s)
    if (m == null) {
      m = new java.util.concurrent.ConcurrentHashMap[String, String]()
      built.put(s, m)
    }
    m
  }

  /** Number of (key, table) artifacts this session has materialized —
    * the guard-size observable the long-session serve soak pins flat
    * after warmup (ServeLoopSpec): a growing guard would mean a facade
    * mints a fresh artifact key per CALL instead of per (session,
    * corpus), re-building and re-storing on every interaction of a
    * long-running serving session. */
  private[graft] def guardSize(s: SparkSession): Int = sessionMap(s).size()

  // per-(session, key) build monitors for memoEntry/tableOnce: builds
  // must run OUTSIDE ConcurrentHashMap's compute() locks because a
  // composing build re-enters the same map (nested tableOnce /
  // resultOnce), which compute() punishes with a bin-layout-dependent
  // IllegalStateException("Recursive update"). The Object values are
  // trivial, so creating THEM via computeIfAbsent cannot re-enter.
  private val buildLocks = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, Object]]()

  private def lockFor(s: SparkSession, key: String): Object =
    buildLocks.synchronized {
      var m = buildLocks.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, Object]()
        buildLocks.put(s, m)
      }
      m
    }.computeIfAbsent(key, _ => new Object)

  /** Run `build` and save it as managed table `table` once per
    * (session, key); return a reader of the table. The write runs
    * under a per-key monitor, not inside the guard map's compute()
    * (see [[lockFor]] — a build that reads ANOTHER tableOnce artifact
    * must be able to re-enter the map). */
  def tableOnce(s: SparkSession, key: String, table: String)
               (build: => DataFrame): DataFrame =
    s.table(writeOnce(s, key, table)(
      graft.jobs.TableIO.overwrite(s, build, table)))

  /** Run `write`, which saves managed table `table`, once per (session,
    * key) and return the table name — the guard under [[tableOnce]],
    * also taken by writers with their own table layout ([[Bucketing]]). */
  private[graft] def writeOnce(s: SparkSession, key: String, table: String)
                              (write: => Unit): String = {
    val m = sessionMap(s)
    val k = s"$key|$table"
    var t = m.get(k)
    if (t == null) lockFor(s, "tbl|" + k).synchronized {
      t = m.get(k)
      if (t == null) {
        write
        m.put(k, table)
        t = table
      }
    }
    t
  }

  /** Hook the ANN operators thread their index artifacts through: given
    * an artifact name and its build plan, return the frame the search
    * stage should read. */
  type Index = (String, () => DataFrame) => DataFrame

  // facade-result memo: (session → key → (witness plans, frame)).
  // Weak-keyed like `built` so entries die with their session — but a
  // Memo holds a DataFrame, and a Dataset strongly references its
  // SparkSession (= the weak KEY), which per the WeakHashMap contract
  // would pin the key forever. The value is therefore a SOFT reference:
  // it breaks the value→key strong chain (the session becomes
  // collectable once the caller drops it), survives under normal
  // memory conditions, and a cleared entry just rebuilds — the memo is
  // an optimization, never a correctness carrier.
  private final case class Memo(
      plans: Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan],
      df: DataFrame) {
    /** wall-clock of the last stale-handle probe on this entry (0 =
      * never probed) — resultOnce probes a memo HIT at most once per
      * [[probeIntervalMs]], so a high-QPS serving loop doesn't pay a
      * one-row Spark job per call just to re-confirm health it
      * confirmed milliseconds ago (ADVICE r10). Volatile: probed from
      * whichever serving thread hits the entry first. */
    @volatile var lastProbeMs: Long = 0L
  }

  private val artifacts = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String,
      java.lang.ref.SoftReference[Memo]]]()

  private def artifactMap(s: SparkSession) = artifacts.synchronized {
    var m = artifacts.get(s)
    if (m == null) {
      m = new java.util.concurrent.ConcurrentHashMap[String,
        java.lang.ref.SoftReference[Memo]]()
      artifacts.put(s, m)
    }
    m
  }

  /** Memoized facade results alive in this session — with [[guardSize]]
    * the storage observable ServeLoopSpec pins flat after warmup. */
  private[graft] def artifactCount(s: SparkSession): Int =
    artifactMap(s).size()

  /** once per (session, key): run `make` and remember its frame — the
    * memo step shared by [[resultOnce]] and [[cached]]. The stored
    * witness plans guard against a semanticHash collision in the key
    * (different plans, same hash → build unmemoized rather than serve
    * the stored frame); a per-key monitor is held during the build,
    * so concurrent first-touchers build exactly once
    * (ConcurrentServeSpec). Returns the served frame, the entry's
    * reference (for a CONDITIONAL evict that can never clobber a
    * concurrent healer's fresh entry), and whether THIS call ran the
    * build (a frame built milliseconds ago cannot be stale, so probes
    * skip it). */
  private def memoEntry(s: SparkSession, key: String,
      plans: Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan])
      (make: => DataFrame)
      : (DataFrame, java.lang.ref.SoftReference[Memo], Boolean) = {
    var builtNow = false
    // build under a PER-KEY lock, never inside ConcurrentHashMap's own
    // compute(): a composing facade's build calls resultOnce again
    // (keep-best on the clusters artifact, incremental phash on the
    // hash table), and a nested mutation of the map from inside
    // compute() throws IllegalStateException("Recursive update")
    // whenever the two keys land in one bin — a run-order-dependent
    // crash. Per-key monitors keep the build-exactly-once contract
    // (ConcurrentServeSpec) and nest safely: composition is a DAG, so
    // lock order follows it and cannot cycle.
    val m = artifactMap(s)
    def liveOf(r: java.lang.ref.SoftReference[Memo]): Memo =
      if (r != null) r.get() else null
    var ref = m.get(key)
    if (liveOf(ref) == null) {
      val lock = lockFor(s, key)
      lock.synchronized {
        ref = m.get(key)
        if (liveOf(ref) == null) {
          builtNow = true
          ref = new java.lang.ref.SoftReference(Memo(plans, make))
          m.put(key, ref)
        }
      }
    }
    val hit = ref.get()
    if (hit == null) (make, ref, true) // cleared between compute and read
    else if (hit.plans.length == plans.length &&
        hit.plans.lazyZip(plans).forall(_.sameResult(_)))
      (hit.df, ref, builtNow)
    else (make, ref, true) // semanticHash collision: build unmemoized
  }

  private def memo(s: SparkSession, key: String,
      plans: Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan])
      (make: => DataFrame): DataFrame =
    memoEntry(s, key, plans)(make)._1

  /** Explicit refresh for a long-running serving session whose SOURCE
    * CONTENT changed under an unchanged plan (the one staleness the
    * session-lifetime memo cannot see — e.g. a nightly job rewrote the
    * parquet behind the same path): unpersist every memoized frame
    * (dropping [[cached]] artifacts from Spark's CacheManager, so a
    * rebuild re-reads the files instead of replaying the old in-memory
    * buffers for the same canonical plan) and forget the memos — the
    * next call of each facade rebuilds from current data.
    * localCheckpoint blocks behind resultOnce frames are released by
    * the ContextCleaner once the dropped frames are collected. Table
    * artifacts (`tableOnce`) are content-addressed per session and
    * unaffected; pass `tables = true` to also forget them (next touch
    * drops + rewrites each managed table). */
  def invalidate(s: SparkSession, tables: Boolean = false): Unit = {
    val m = artifactMap(s)
    m.values().forEach { ref =>
      val live = ref.get()
      if (live != null)
        try live.df.unpersist(false)
        catch { case scala.util.control.NonFatal(_) => () }
    }
    m.clear()
    if (tables) sessionMap(s).clear()
  }

  /** Memoize a facade RESULT per (session, operator name, parameters,
    * canonicalized input plans) — the serving contract for iterative
    * operators (components, bfs, sssp, k-core…) whose results are
    * backed by localCheckpoint blocks: built per call, those blocks
    * accumulate for the life of a long serving session (the Streamlit
    * shape re-issues the same facade call per interaction), so the
    * facade builds ONCE per distinct (inputs, params) and replays the
    * stored frame. Session-lifetime semantics as [[tableOnce]]: a
    * source whose CONTENT changes under the same plan within one
    * session should call the operator paths directly. */
  def resultOnce(name: String, params: String, inputs: Seq[DataFrame])
                (build: => DataFrame): DataFrame = {
    require(inputs.nonEmpty, "resultOnce needs at least one input frame")
    val s = inputs.head.sparkSession
    val plans = inputs.map(_.queryExecution.analyzed)
    val key = name + "|" + params + "|" +
      plans.map(_.semanticHash()).mkString(",")
    val (res, ref, builtNow) = memoEntry(s, key, plans)(build)
    // stale-handle guard: a localCheckpoint-backed memo can outlive its
    // blocks (an explicit unpersist sweep, an executor loss) and would
    // then throw on EVERY later replay — probe MEMO HITS with a one-row
    // action (milliseconds against the seconds-scale rebuilds this
    // memoizes; a frame built in this very call cannot be stale and is
    // not probed) and rebuild-once on failure instead of serving a
    // dead handle. THROTTLED (ADVICE r10): a probe is itself a Spark
    // job, so a hit re-probes at most once per probeIntervalMs — a
    // high-QPS facade serves straight from the memo between probes.
    // WORST-CASE HEAL LATENCY (ADVICE r12 — the precise statement): a
    // handle that dies INSIDE the window keeps being served unprobed
    // until the window expires, so every caller-side replay in that
    // stretch fails — up to probeIntervalMs (30 s) of failures before
    // the next probe heals. The serving loop's retry grain, not a
    // correctness hole: the memo is an optimization, never a
    // correctness carrier, and an executor-loss event that kills
    // checkpoint blocks mid-window is already a whole-cluster incident
    // at that timescale. NonFatal only: a
    // cancellation or OOM during the probe propagates instead of
    // masquerading as staleness. The evict is CONDITIONAL on the
    // probed reference, so a concurrent healer that already replaced
    // the entry keeps its fresh build (the build-exactly-once contract
    // under contention).
    if (builtNow) res
    else {
      val live = ref.get()
      val now = System.currentTimeMillis()
      if (live != null && now - live.lastProbeMs < probeIntervalMs) res
      else
        try {
          res.limit(1).collect()
          if (live != null) live.lastProbeMs = now
          res
        } catch {
          case scala.util.control.NonFatal(_) =>
            artifactMap(s).remove(key, ref)
            memo(s, key, plans)(build)
        }
    }
  }

  /** Minimum wall-clock between stale-handle probes of one memo entry
    * (see [[resultOnce]]); package-visible so the serve-loop spec can
    * pin the throttle without waiting it out. */
  private[graft] var probeIntervalMs: Long = 30000L

  /** Default for facade callers over arbitrary frames: build once per
    * (session, artifact name, canonicalized build plan), cache, and
    * MEMOIZE — a long-running serving session that re-issues the same
    * facade call per interaction reuses ONE cached artifact instead of
    * minting a new cache entry per call, which was an unbounded
    * storage leak (ServeLoopSpec pins persistent-RDD count flat across
    * serve loops). Distinct corpora / parameters canonicalize to
    * distinct plans and get their own artifacts. */
  val cached: Index = (name, build) => {
    val df = build()
    val analyzed = df.queryExecution.analyzed
    val res = memo(df.sparkSession, name + "|" + analyzed.semanticHash(),
      Seq(analyzed))(df.cache())
    // a later clearCache() / Dataset.unpersist drops the artifact but
    // not the memo — re-register so the several search stages this
    // artifact exists to serve share ONE cache entry again instead of
    // each recomputing from scratch for the rest of the session.
    // (Boundary: storageLevel reflects CacheManager REGISTRATION — a
    // raw RDD-level sweep that strips blocks while leaving the entry
    // registered falls back to Spark's own recompute path for cached
    // plans; the SQL-level maintenance APIs, clearCache and unpersist,
    // are both covered here.)
    if (res.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      res.cache()
    res
  }

  /** Table name for artifact `name` of corpus `dir` — dir-tagged so two
    * corpora in one session (the soak harness) can't overwrite each
    * other's artifacts under a shared name. */
  def indexTable(name: String, dir: String): String =
    s"graft_${name}_${(scala.util.hashing.MurmurHash3.stringHash(dir)
      & Int.MaxValue).toHexString}"

  /** Named-query hook: artifacts persist as managed tables keyed by the
    * sf dir, so a session builds each index once and every later run
    * times the search alone. */
  def indexOf(s: SparkSession, dir: String): Index =
    (name, build) => tableOnce(s, dir, indexTable(name, dir))(build())
}
