package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.Tables

/** PassJoin-style pigeonhole fuzzy join — the production-scale upgrade
  * over length-bucket blocking for edit-distance dedup (reference runs
  * dictionary-level fuzzy matching in its curation zone; see
  * Extensions.scala `dd_fuzzy_levenshtein` for the bucket variant and
  * the soundness discussion).
  *
  * Pigeonhole lemma (Li, Deng, Feng — PassJoin, VLDB 2012, public):
  * partition string b into TAU+1 contiguous segments; any string a
  * within edit distance TAU of b must contain at least one of b's
  * segments VERBATIM, starting within TAU positions of the segment's
  * home position. So:
  *
  *   index side: each string emits its TAU+1 segments, keyed by
  *     (own length, segment ordinal, segment text);
  *   probe side: each string a emits, for every partner length
  *     l in [len(a)-TAU, len(a)+TAU] and every segment ordinal, the
  *     substrings of a of that segment's length starting within ±TAU
  *     of the segment's home position — ≤ (TAU+1)·(2·TAU+1)² short
  *     probes per string, a CONSTANT;
  *   candidates: hash equi-join probe = segment key; verify with exact
  *     levenshtein.
  *
  * Why this scales where length-bucketing stalls: natural-language
  * token/name lengths concentrate in a few buckets, so bucket joins go
  * quadratic in the modal bucket's population. Segment keys carry
  * CONTENT — bucket population is governed by how often an exact
  * substring repeats, which df-style skew caps, not by the length
  * histogram. Both sides shuffle on the segment key; no theta join,
  * no cartesian anywhere.
  *
  * Probe positions use the simple ±TAU window rather than PassJoin's
  * multi-match-aware tightening — the window only affects candidate
  * count (verification is exact), and at ≤196 probes/string the
  * constant is already small. Out-of-range probe starts yield
  * truncated substrings that are strictly shorter than the segment
  * they'd have to equal, so they can never join — no correctness edge.
  */
object FuzzyJoin extends graft.QuerySet {
  private val TAU = 3
  private val K = TAU + 1 // segments per string

  /** Distinct part names with their lengths (the fuzzy-dedup
    * dictionary, same input as dd_fuzzy_levenshtein). */
  private def names(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part").select("p_name").distinct()
      .withColumn("len", length(col("p_name")))

  /** Segment scheme for a string of length l: q = l div K, r = l mod K;
    * segment i (0-based) has length q+1 for i < r else q, and 0-based
    * start i*q + min(i, r). Encoded inline in SQL below. */
  private[graft] def candidatePairs(s: SparkSession, dir: String): DataFrame = {
    val n = names(s, dir)
    // index side: strings of length >= K emit their K segments
    val segs = n.filter(col("len") >= K)
      .select(col("p_name").as("name_b"),
        explode(expr(
          s"""transform(sequence(0, ${K - 1}), i -> named_struct(
             |  'pl', len, 'seg', i,
             |  'sub', substring(p_name,
             |           i * (len div $K) + least(i, len % $K) + 1,
             |           (len div $K) + if(i < len % $K, 1, 0))))""".stripMargin))
          .as("k"))
    // probe side: for each candidate partner length and segment slot,
    // all substrings starting within ±TAU of the segment's home start
    val probes = n
      .select(col("p_name").as("name_a"),
        explode(expr(
          s"""flatten(transform(sequence(greatest($K, len - $TAU), len + $TAU), l ->
             |  flatten(transform(sequence(0, ${K - 1}), i ->
             |    transform(
             |      sequence(
             |        greatest(0, i * (l div $K) + least(i, l % $K) - $TAU),
             |        greatest(
             |          greatest(0, i * (l div $K) + least(i, l % $K) - $TAU),
             |          least(len - ((l div $K) + if(i < l % $K, 1, 0)),
             |                i * (l div $K) + least(i, l % $K) + $TAU))),
             |      st -> named_struct(
             |        'pl', l, 'seg', i,
             |        'sub', substring(p_name, st + 1,
             |                 (l div $K) + if(i < l % $K, 1, 0))))))))""".stripMargin))
          .as("k"))
    val segCands = probes.join(segs, "k")
      .filter(col("name_a") =!= col("name_b"))
      .select(col("name_a"), col("name_b"))
    // completeness backstop: two strings BOTH shorter than K segments
    // are never indexed, but any such pair is trivially within TAU
    // edits (len <= TAU) — pair them through a constant-key hash join
    // (a bounded pool in any real vocabulary; empty on testdata)
    // key must not be a foldable literal: lit(0)=lit(0) constant-folds
    // to `true` and the join degrades to a nested loop — pmod(len, 1)
    // is 0 on every row but opaque to the optimizer, keeping a hash
    // equi-join shape
    val shorts = n.filter(col("len") < K)
      .withColumn("z", expr("pmod(len, 1)"))
    val shortCands = shorts.select(col("p_name").as("name_a"), col("z"))
      .join(shorts.select(col("p_name").as("name_b"), col("z")), "z")
      .filter(col("name_a") =!= col("name_b"))
      .select(col("name_a"), col("name_b"))
    segCands.unionAll(shortCands)
      .select(least(col("name_a"), col("name_b")).as("name_a"),
        greatest(col("name_a"), col("name_b")).as("name_b"))
      .distinct()
  }

  /** Syllable rendering of an integer key (digit i → SYL(i)): a
    * deterministic, engine-agnostic way to give the uniform synthetic
    * customers varied, fuzzily-matchable names. Chained replaces are
    * order-safe because syllables contain no digits. `cast` is the
    * engine's string-cast spelling (STRING vs VARCHAR). */
  private val SYL =
    Seq("ba", "ce", "di", "fo", "gu", "ha", "ki", "lo", "mu", "ne")
  private[graft] def sylNameSql(c: String, cast: String): String =
    SYL.zipWithIndex.foldLeft(s"CAST($c AS $cast)") {
      case (acc, (syl, i)) => s"replace($acc, '$i', '$syl')"
    }

  /** Dirty-record mutation, one of four edits keyed by the record id —
    * drop-first, drop-last, duplicate-3rd-char, append — all within
    * edit distance 1 of the master name. Shared Spark/DuckDB SQL. */
  private[graft] def mutateSql(id: String, name: String): String =
    s"""CASE $id % 4
       |  WHEN 0 THEN substr($name, 2)
       |  WHEN 1 THEN substr($name, 1, length($name) - 1)
       |  WHEN 2 THEN concat(substr($name, 1, 3), substr($name, 3))
       |  ELSE concat($name, 'x') END""".stripMargin

  val queries: Map[String, Q] = Map(
    // Verified fuzzy pairs through pigeonhole candidates — same output
    // contract as dd_fuzzy_levenshtein, different (scale-path)
    // candidate generation.
    "dd_fuzzy_passjoin" -> ((s, dir) =>
      candidatePairs(s, dir)
        // bounded form: banded O(τ·n) DP, -1 past TAU — survivors carry
        // the same exact distance, oracle unchanged
        .withColumn("dist",
          levenshtein(col("name_a"), col("name_b"), TAU)
            .cast(IntegerType))
        .filter(col("dist").between(0, TAU))
        .select("name_a", "name_b", "dist")
        .orderBy("name_a", "name_b")),

    // Entity resolution by MULTI-KEY BLOCKING + bounded verify — the
    // standard record-linkage shape (Christen, "Data Matching", 2012):
    // each record emits TWO block keys (name prefix-4 AND suffix-4), a
    // candidate is any key collision, and candidates verify with a
    // bounded levenshtein (banded DP, -1 past the threshold). Two keys
    // beat one because single-key blocking misses edits that damage
    // that key's end of the string — a dropped first character changes
    // every prefix but no suffix, and vice versa. Names shorter than
    // key-length+1 can still lose both keys under a length-changing
    // edit (the classic short-string blocking gap, enumerated exactly
    // in FuzzyJoinSpec). The blocking scheme IS part of the operator's
    // semantics (ER recall is defined relative to it), so the oracle
    // replays the same keys. Scale: both
    // sides shuffle on the 4-char key; block population is bounded by
    // key-prefix frequency, never by table size, and the verify is
    // O(candidates), not O(n²).
    "er_blocked_match" -> ((s, dir) =>
      erMatches(s, dir).orderBy("dirty_id", "matched_key")),

    // ER completion: consolidate pairwise matches into ENTITIES. The
    // match graph is bipartite (dirty record ↔ master record, encoded
    // on disjoint id planes 2d+1 / 2m), and its connected components —
    // by the same O(log d) star contraction the graph family uses —
    // are the resolved entities: a master matched by several dirty
    // variants, or several masters bridged by an ambiguous variant,
    // collapse into one. Consolidation takes only HIGH-PRECISION edges
    // (dist ≤ 1) — transitive closure amplifies every false link, so
    // the standard practice is a stricter merge threshold than the
    // review-queue match (dist ≤ 2 would chain this corpus into 3
    // giant blobs; ≤ 1 yields a real census). Output: entity census.
    // ER scoring with JARO-WINKLER instead of edit distance — the
    // linkage scorer practitioners reach for on short typo-noised
    // names (prefix agreement weighted, transposition-tolerant).
    // Same adaptive blocking as er_blocked_match (blocking is part of
    // the operator's recall contract); each dirty record keeps its
    // single best master at jw ≥ 0.85, tie-broken by key. The score
    // comes from the native codegen'd `jaro_winkler` expression
    // (functions/JaroWinkler.scala) — Spark has no Jaro family
    // built-in, and a Scala UDF here would break the codegen span
    // around the verify filter. The oracle replays the same blocking
    // and scores with DuckDB's own jaro_winkler_similarity: the
    // expression is pinned bit-for-bit against an independent engine.
    "er_jaro_winkler" -> ((s, dir) => {
      graft.functions.JaroWinklerSim.register(s)
      val cand = erCandidates(s, dir).distinct()
      cand.withColumn("jw", expr("jaro_winkler(dname, name)"))
        .filter(col("jw") >= 0.85)
        .withColumn("rn", row_number().over(
          Window.partitionBy("dirty_id")
            .orderBy(col("jw").desc, col("c_custkey"))))
        .filter(col("rn") === 1)
        .select(col("dirty_id"), col("c_custkey").as("matched_key"),
          col("jw"))
        .orderBy("dirty_id")
    }),

    "er_entities" -> ((s, dir) => {
      val m = erMatches(s, dir).filter(col("dist") <= 1)
      val edges = m.select((col("dirty_id") * 2 + 1).as("u"),
        (col("matched_key") * 2).as("v"))
      Graph.starComponents(edges)
        .groupBy(col("cluster_id").as("entity_id"))
        .agg(count(lit(1)).as("n_records"))
        .orderBy("entity_id")
    }),

    // RECIPROCAL BEST MATCH — the 1:1 linkage discipline layered on
    // the same blocked match table: keep (dirty, master) only when
    // the master is the dirty record's best candidate AND the dirty
    // record is the master's best candidate (ties broken by key on
    // both sides). Mutual-best is the standard guard against the
    // star pattern a greedy per-left argmin produces when one master
    // absorbs many variants — each side's argmin is a row_number
    // window PARTITIONED BY ITS OWN KEY over the match table (two
    // shuffles of match-table size, grain bounded by block
    // population), and the reciprocal check is one equi-join of the
    // two rank-1 sets. No global window, no driver loop.
    "er_mutual_best" -> ((s, dir) => {
      // cached: BOTH argmin aggregations read the match table — without
      // it the blocked verify (and its scalar klen broadcasts) runs twice
      val m = erMatches(s, dir).cache()
      // each side's argmin as min(struct(dist, key)) — identical to a
      // rank-1 row_number over (dist, key) (keys are unique inside a
      // group, so the struct order is total), but a hash aggregation
      // does PARTIAL map-side aggregation and never sorts, where the
      // window formulation shuffled and sorted the full match table
      // TWICE (guide §2.3 "aggregate before you shuffle")
      val bestM = m.groupBy("dirty_id")
        .agg(min(struct(col("dist"), col("matched_key"))).as("b"))
        .select(col("dirty_id"), col("b.matched_key").as("matched_key"),
          col("b.dist").as("dist"))
      val bestD = m.groupBy("matched_key")
        .agg(min(struct(col("dist"), col("dirty_id"))).as("b"))
        .select(col("b.dirty_id").as("dirty_id"), col("matched_key"),
          col("b.dist").as("dist"))
      bestM.join(bestD, Seq("dirty_id", "matched_key", "dist"))
        .orderBy("dirty_id")
    }))

  /** Pre-verify blocked candidates (dirty_id, dname, c_custkey, name)
    * — exposed for the scale soak's candidate accounting.
    *
    * The block-key length ADAPTS to corpus size: klen = 4 +
    * 2·⌊log10(n/1500)⌋ (clamped at 4). A fixed key over a low-entropy
    * name space has bounded key cardinality, so block population — and
    * with it candidate volume — grows quadratically with the table
    * (the x10 soak measured a flat 6.3% of all-pairs before this).
    * Lengthening the key by one syllable per decade of corpus growth
    * keeps expected block size roughly constant, which is exactly how
    * production blocking keys are tuned: precision of the key scales
    * with the density of the space. The tradeoff is explicit: longer
    * keys lose recall on names shorter than klen+1 under
    * length-changing edits (the short-string gap the spec enumerates at
    * the base klen of 4). The scalar is one broadcast row; the oracle
    * replays the same formula. */
  private[graft] def erCandidates(s: SparkSession, dir: String): DataFrame = {
    val master = Tables(s, dir, "customer")
      .select(col("c_custkey"),
        expr(sylNameSql("c_custkey", "STRING")).as("name"))
    val dirty = master
      .select(col("c_custkey").as("dirty_id"),
        expr(mutateSql("c_custkey", "name")).as("dname"))
    blockedCandidates(dirty, master.select(col("c_custkey"), col("name")))
  }

  /** Generic adaptive-key blocked candidates over CALLER frames:
    * `dirty` = (dirty_id, dname), `master` = (master_id, name) — any
    * original column names, positionally mapped by the facade. Each
    * side emits its klen-prefix AND klen-suffix keys; a candidate is
    * any key collision. klen adapts to master cardinality (the
    * size-adaptive rule the ×10 soak validated as measured-linear).
    * Candidates are NOT deduped before the verify: the bounded
    * levenshtein on short strings is cheaper per row than shuffling
    * the wide candidate tuple, so duplicates (a pair whose prefix AND
    * suffix keys both collide) flow through the codegen'd verify and
    * collapse in the final distinct over the narrow match rows. */
  private[graft] def blockedCandidates(dirty0: DataFrame,
                                       master0: DataFrame): DataFrame = {
    // spread both sides (guide §2.5): each side's map work — the
    // generated-name expressions, the two-key explode, the shuffle
    // write for the key join — otherwise runs in ONE task when the
    // side derives from a single-split scan (measured: the whole
    // blocked-verify map side was a ~700 ms single-task job at sf0.1).
    // No-op once the source has ≥ default-parallelism splits; the
    // downstream verify + distinct are key-insensitive to row order.
    val dirty = graft.Tables.spread(dirty0.toDF("dirty_id", "dname"))
    val master = graft.Tables.spread(master0.toDF("c_custkey", "name"))
    val kl = master.agg(
      (lit(4) + lit(2) *
        greatest(lit(0.0), floor(log10(count(lit(1)) / 1500.0))))
        .cast("int").as("klen"))
    // both block keys in ONE pass over the side (explode of the
    // two-key array) — the unionAll twin re-evaluated the whole side
    // subtree (scan + generated-name expressions) once per key
    def keyed(df: DataFrame, nameCol: String): DataFrame =
      df.join(broadcast(kl))
        .select(explode(array(
            expr(s"substr($nameCol, 1, klen)"),
            expr(s"right($nameCol, klen)"))).as("k"), col("*"))
        .drop("klen")
    keyed(dirty, "dname").join(keyed(master, "name"), "k")
      .select("dirty_id", "dname", "c_custkey", "name")
  }

  /** Blocked-and-verified matches over caller frames — the facade
    * path. Returns (dirty_id, matched_key, dist), dist ≤ maxDist. */
  private[graft] def blockedMatches(dirty: DataFrame, master: DataFrame,
                                    maxDist: Int): DataFrame =
    blockedCandidates(dirty, master)
      // result-preserving prune: dist ≤ maxDist implies |Δlength| ≤
      // maxDist, so the length gate drops only rows the verify would
      // reject — oracle unchanged
      .filter(abs(length(col("dname")) - length(col("name"))) <= maxDist)
      .withColumn("dist",
        levenshtein(col("dname"), col("name"), maxDist).cast(IntegerType))
      .filter(col("dist").between(0, maxDist))
      .select(col("dirty_id"), col("c_custkey").as("matched_key"),
        col("dist"))
      .distinct()

  /** The blocked-and-verified match table (dirty_id, matched_key,
    * dist) shared by er_blocked_match and er_entities. */
  private def erMatches(s: SparkSession, dir: String): DataFrame = {
    val master = Tables(s, dir, "customer")
      .select(col("c_custkey"),
        expr(sylNameSql("c_custkey", "STRING")).as("name"))
    val dirty = master
      .select(col("c_custkey").as("dirty_id"),
        expr(mutateSql("c_custkey", "name")).as("dname"))
    blockedMatches(dirty, master, maxDist = 2)
  }

  val oracles: Map[String, String] = Map(
    // identical ground truth to the bucket variant: the all-pairs
    // edit-distance join DuckDB can brute-force at oracle scale
    "dd_fuzzy_passjoin" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM n a JOIN n b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY name_a, name_b""".stripMargin,

    // same blocking scheme replayed (blocking is part of ER semantics);
    // UNION in the key CTEs dedups where prefix == suffix — the
    // engine's candidate-level DISTINCT makes the same sets
    "er_blocked_match" ->
      s"""WITH $erCtes
         |SELECT dirty_id, matched_key, dist FROM matches
         |ORDER BY dirty_id, matched_key""".stripMargin,

    // same candidates, DuckDB's own jaro_winkler scores them — an
    // independent C++ implementation pins the native expression
    "er_jaro_winkler" ->
      s"""WITH $erCtes
         |SELECT dirty_id, matched_key, jw FROM (
         |  SELECT dirty_id, c_custkey AS matched_key,
         |    jaro_winkler_similarity(dname, name) AS jw,
         |    row_number() OVER (PARTITION BY dirty_id
         |      ORDER BY jaro_winkler_similarity(dname, name) DESC,
         |        c_custkey) AS rn
         |  FROM cand) t
         |WHERE rn = 1 AND jw >= 0.85
         |ORDER BY dirty_id""".stripMargin,

    // same match table, both argmins replayed as window ranks, the
    // reciprocal check as a self-join of the two rank-1 sets
    "er_mutual_best" ->
      s"""WITH $erCtes,
         |bm AS (
         |  SELECT dirty_id, matched_key, dist FROM (
         |    SELECT dirty_id, matched_key, dist,
         |      row_number() OVER (PARTITION BY dirty_id
         |        ORDER BY dist, matched_key) AS rn
         |    FROM matches) t WHERE rn = 1),
         |bd AS (
         |  SELECT dirty_id, matched_key, dist FROM (
         |    SELECT dirty_id, matched_key, dist,
         |      row_number() OVER (PARTITION BY matched_key
         |        ORDER BY dist, dirty_id) AS rn
         |    FROM matches) t WHERE rn = 1)
         |SELECT bm.dirty_id, bm.matched_key, bm.dist
         |FROM bm JOIN bd USING (dirty_id, matched_key, dist)
         |ORDER BY dirty_id""".stripMargin,

    // entities via the recursive-reachability components oracle (see
    // gr_components) over the bipartite match graph
    "er_entities" ->
      s"""WITH RECURSIVE $erCtes,
         |edges0 AS (
         |  SELECT 2 * dirty_id + 1 AS u, 2 * matched_key AS v
         |  FROM matches WHERE dist <= 1),
         |edges AS (
         |  SELECT u, v FROM edges0 UNION SELECT v AS u, u AS v FROM edges0),
         |reach(v, lbl) AS (
         |  SELECT DISTINCT u AS v, u AS lbl FROM edges
         |  UNION
         |  SELECT e.u AS v, r.lbl FROM edges e JOIN reach r ON e.v = r.v),
         |comp AS (SELECT v, min(lbl) AS cluster_id FROM reach GROUP BY v)
         |SELECT cluster_id AS entity_id, count(*) AS n_records
         |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin)

  /** ER oracle CTE chain up through the verified `matches` table,
    * shared by er_blocked_match and er_entities. */
  private lazy val erCtes: String =
    s"""master AS (
       |  SELECT c_custkey, ${sylNameSql("c_custkey", "VARCHAR")} AS name
       |  FROM customer),
       |kl AS (
       |  SELECT CAST(4 + 2 * greatest(0, floor(log10(count(*) / 1500.0)))
       |    AS INTEGER) AS klen
       |  FROM master),
       |dirty AS (
       |  SELECT c_custkey AS dirty_id,
       |    ${mutateSql("c_custkey", "name")} AS dname
       |  FROM master),
       |km AS (
       |  SELECT substr(name, 1, klen) AS k, c_custkey, name
       |  FROM master, kl
       |  UNION
       |  SELECT right(name, klen) AS k, c_custkey, name FROM master, kl),
       |kd AS (
       |  SELECT substr(dname, 1, klen) AS k, dirty_id, dname
       |  FROM dirty, kl
       |  UNION
       |  SELECT right(dname, klen) AS k, dirty_id, dname FROM dirty, kl),
       |cand AS (
       |  SELECT DISTINCT dirty_id, dname, c_custkey, name
       |  FROM kd JOIN km USING (k)),
       |matches AS (
       |  SELECT dirty_id, c_custkey AS matched_key,
       |    CAST(levenshtein(dname, name) AS INTEGER) AS dist
       |  FROM cand WHERE levenshtein(dname, name) <= 2)""".stripMargin
}
