package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Hierarchy flattening by POINTER JUMPING (path doubling) — the
  * recursive-CTE workload (org charts, BOM explosions, category
  * trees) expressed in the shape a 1000-executor cluster wants.
  * A sequential ancestor walk costs O(depth) self-joins; pointer
  * jumping squares the pointer every round (node → anc, anc → anc²),
  * so every node reaches its ROOT in ~ceil(log2(depth)) rounds while
  * accumulating the exact depth along the way — the classic PRAM
  * list-ranking technique (Wyllie '79; JáJá §3) on DataFrame joins.
  * At 100 TB an HR-style hierarchy is depth ≤ ~20 → 5 rounds, each
  * one self-join on the (current) ancestor key with full partial
  * aggregation downstream — no recursion, no driver loop over rows.
  *
  * [[flatten]] takes ANY (node, parent) frame (roots point at
  * themselves); the queries build the parent column arithmetically
  * from the customer key (parent(k) = k div 10, roots k < 10 — a
  * fixed 10-ary tree) so the DuckDB oracle can walk the SAME tree
  * with a recursive CTE — a sequential algorithm the engine
  * deliberately does not use. HierarchySpec pins the round count at
  * ceil(log2(depth)) and the rollup against a driver-side walk.
  */
object Hierarchy extends graft.QuerySet {
  /** Rounds the most recent flatten call took — spec observability. */
  @volatile private[graft] var lastRounds: Int = 0

  private def failNotAForest(rounds: Int): Nothing =
    throw new IllegalArgumentException(
      s"hierarchy did not converge after $rounds pointer-jump rounds — " +
        "the (node, parent) input contains a cycle (a forest of n nodes " +
        "has depth ≤ n and converges in ≤ ceil(log2(n)) + 1 rounds)")

  /** Fail fast on an ORPHAN parent (a parent id that never appears as
    * a node): the jump's inner self-join would otherwise silently DROP
    * every node whose chain passes through it. One left-anti probe
    * (limit-1) before iterating — api.Trees accepts arbitrary caller
    * frames, so the contract must be checked, not assumed (ADVICE r7).
    * Returns the ROUND CAP: a forest of n nodes has depth ≤ n, so
    * pointer jumping converges in ≤ ceil(log2(n)) + 1 rounds — an
    * input still open past that is cyclic, and without the cap a
    * cycle (a→b→a) never sets `done` and the driver loops forever. */
  private def validateForest(parents: DataFrame): Int = {
    val orphan = parents.select(col("parent").as("p"))
      .join(parents.select(col("node")), col("p") === col("node"),
        "left_anti")
      .limit(1)
      .collect()
    if (orphan.nonEmpty)
      throw new IllegalArgumentException(
        s"hierarchy has an orphan parent id ${orphan.head.get(0)}: every " +
          "parent must appear as a node (roots point at themselves); " +
          "nodes under an orphan would be silently dropped")
    val n = parents.count()
    (64 - java.lang.Long.numberOfLeadingZeros(math.max(n, 1L))) + 2
  }

  /** (node, root, depth) for every node of a (node, parent) forest —
    * roots carry parent == node. Rounds: each jump composes the
    * current pointer with the pointee's pointer, doubling the levels
    * covered, and the pointee's at-root flag rides along so no
    * root-set join is ever needed. The loop's only per-round action
    * is an any-not-done probe (limit-1 count — the frames are
    * three-column and the round count is log-bounded, so eager
    * per-round checkpointing would cost more than it saves). */
  private[graft] def flatten(parents: DataFrame): DataFrame = {
    val isRoot = col("parent") === col("node")
    var st = parents.select(col("node"), col("parent").as("anc"),
      when(isRoot, lit(0L)).otherwise(lit(1L)).as("d"),
      isRoot.as("done"))
      .localCheckpoint(eager = false)
    var rounds = 0
    var open = st.filter(!col("done")).limit(1).count() > 0
    val maxRounds = if (open) validateForest(parents) else 0
    while (open) {
      if (rounds >= maxRounds) failNotAForest(rounds)
      // jump: a's pointer composes with the pointee's own pointer;
      // roots hold (r, r, 0, true) so composition is the identity
      // there, and b's done flag says whether a's NEW pointer is a
      // root — depth-aware termination with no root-set join
      st = st.as("a")
        .join(st.as("b"), col("a.anc") === col("b.node"))
        .select(col("a.node"), col("b.anc").as("anc"),
          (col("a.d") + col("b.d")).as("d"), col("b.done").as("done"))
        .localCheckpoint(eager = false)
      rounds += 1
      open = st.filter(!col("done")).limit(1).count() > 0
    }
    lastRounds = rounds
    st.select(col("node"), col("anc").as("root"), col("d").as("depth"))
  }

  /** Weighted flatten for BOM EXPLOSION: each (node, parent, qty) edge
    * carries a per-assembly quantity, and the answer is the PATH
    * PRODUCT (how many of this part one root unit requires — qty
    * multiplies at every level). Products compose exactly like the
    * depth sums above — prod(a→c) = prod(a→b) · prod(b→c) — so the
    * SAME pointer-jumping recurrence squares them in ~log2(depth)
    * rounds; the invariant is prod = Π qty over path nodes from
    * `node` inclusive to `anc` exclusive (roots contribute 1).
    * Returns (node, root, depth, prod). */
  private[graft] def flattenProd(parents: DataFrame): DataFrame = {
    val isRoot = col("parent") === col("node")
    var st = parents.select(col("node"), col("parent").as("anc"),
      when(isRoot, lit(0L)).otherwise(lit(1L)).as("d"),
      when(isRoot, lit(1L)).otherwise(col("qty")).as("prod"),
      isRoot.as("done"))
      .localCheckpoint(eager = false)
    var rounds = 0
    var open = st.filter(!col("done")).limit(1).count() > 0
    val maxRounds = if (open) validateForest(parents) else 0
    while (open) {
      if (rounds >= maxRounds) failNotAForest(rounds)
      st = st.as("a")
        .join(st.as("b"), col("a.anc") === col("b.node"))
        .select(col("a.node"), col("b.anc").as("anc"),
          (col("a.d") + col("b.d")).as("d"),
          (col("a.prod") * col("b.prod")).as("prod"),
          col("b.done").as("done"))
        .localCheckpoint(eager = false)
      rounds += 1
      open = st.filter(!col("done")).limit(1).count() > 0
    }
    st.select(col("node"), col("anc").as("root"), col("d").as("depth"),
      col("prod"))
  }

  /** The arithmetic customer tree: parent(k) = k div 10, roots k < 10. */
  private def custTree(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer").select(
      col("c_custkey").as("node"),
      when(col("c_custkey") < 10, col("c_custkey"))
        .otherwise(expr("c_custkey div 10")).as("parent"))

  val queries: Map[String, Q] = Map(
    // Subtree rollup per root: census + max depth + an integer
    // measure (sum of keys — exact in BIGINT, no float accumulation
    // order to disagree on). The rollup is one groupBy on the
    // computed root — at scale the expensive part is the log-round
    // flattening above it, not this aggregate.
    "hr_tree_rollup" -> ((s, dir) =>
      flatten(custTree(s, dir))
        .groupBy("root")
        .agg(count(lit(1)).as("n_nodes"),
          max("depth").as("max_depth"),
          sum("node").as("sum_key"))
        .orderBy("root")),

    // Per-level profile of the same flattening — depth histogram plus
    // per-level key extremes; the shape an org-chart or category-tree
    // "levels report" takes. Shares the log-round flatten; the
    // aggregate is one shuffle on the (≤ depth)-ary level key.
    "hr_level_census" -> ((s, dir) =>
      flatten(custTree(s, dir))
        .groupBy("depth")
        .agg(count(lit(1)).as("n_nodes"),
          min("node").as("min_key"),
          max("node").as("max_key"))
        .orderBy("depth")),

    // BOM explosion over the same tree with per-edge quantities
    // (qty(k) = k % 3 + 1): per root assembly, how many total part
    // units one unit requires (Σ path products) and the deepest
    // multiplication chain. The measure stays BIGINT-exact: depth ≤
    // log10(maxkey) and qty ≤ 3 bound every product far below 2^63.
    "hr_bom_explode" -> ((s, dir) =>
      flattenProd(custTree(s, dir)
          .withColumn("qty", expr("node % 3 + 1")))
        .groupBy("root")
        .agg(count(lit(1)).as("n_parts"),
          sum("prod").as("total_units"),
          max("prod").as("max_path_qty"),
          max("depth").as("max_depth"))
        .orderBy("root"))
  )

  // The oracle walks ancestor chains with a sequential recursive CTE —
  // a DIFFERENT algorithm (O(depth) iterations, O(n·depth) rows) that
  // is feasible at oracle scale and cross-checks the jumped result.
  private val walkSql =
    """WITH RECURSIVE up AS (
      |  SELECT c_custkey AS node, c_custkey AS cur, 0 AS d
      |  FROM customer
      |  UNION ALL
      |  SELECT node, cur // 10, d + 1 FROM up WHERE cur >= 10)
      |""".stripMargin

  val oracles: Map[String, String] = Map(
    "hr_tree_rollup" -> (walkSql +
      """SELECT cur AS root, CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(max(d) AS BIGINT) AS max_depth,
        |  CAST(sum(node) AS BIGINT) AS sum_key
        |FROM up WHERE cur < 10
        |GROUP BY cur ORDER BY root""".stripMargin),

    "hr_level_census" -> (walkSql +
      """SELECT CAST(d AS BIGINT) AS depth,
        |  CAST(count(*) AS BIGINT) AS n_nodes,
        |  min(node) AS min_key, max(node) AS max_key
        |FROM up WHERE cur < 10
        |GROUP BY d ORDER BY depth""".stripMargin),

    // sequential walk multiplying qty(cur) = cur % 3 + 1 at each
    // non-root step — the path product the jumped recurrence squares
    "hr_bom_explode" ->
      """WITH RECURSIVE up AS (
        |  SELECT c_custkey AS node, c_custkey AS cur, 0 AS d,
        |    CAST(1 AS BIGINT) AS prod
        |  FROM customer
        |  UNION ALL
        |  SELECT node, cur // 10, d + 1, prod * (cur % 3 + 1)
        |  FROM up WHERE cur >= 10)
        |SELECT cur AS root, CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(sum(prod) AS BIGINT) AS total_units,
        |  CAST(max(prod) AS BIGINT) AS max_path_qty,
        |  CAST(max(d) AS BIGINT) AS max_depth
        |FROM up WHERE cur < 10
        |GROUP BY cur ORDER BY root""".stripMargin
  )
}
