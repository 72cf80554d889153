package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Deterministic random-walk corpus generation over the
  * customer–part interaction graph — the sequence-generation stage of
  * DeepWalk / node2vec (Perozzi KDD'14, Grover-Leskovec KDD'16:
  * public literature): walks become "sentences" a skip-gram embedder
  * trains on, which is exactly how graph structure enters an
  * LLM-style training corpus.
  *
  * Randomness is replaced by a DETERMINISTIC splittable hash — the
  * standard reproducible-pipeline trick (same as the seeded samplers
  * in [[TextAnalysis]]): step t from node v takes the neighbor ranked
  * `H(v, t) mod deg(v)` in the (dst-ascending) adjacency ranking,
  * with H(v, t) = ((v mod P)·A + t·B) mod P over P = 1e9+7. Every
  * term stays below 2⁶³ (|v mod P| < P ≈ 2³⁰ᐧ⁹, A < P, so the product
  * is < 2⁶¹ᐧ⁸), so the arithmetic is exact int64 in both engines and
  * the oracle replays walks bit-identically.
  *
  * Scale shape: ONE ranked-adjacency build (two window functions over
  * a src-keyed shuffle), cached and probed L times — each step is a
  * plain equi-join on (src, rank): current frontier (#starts rows)
  * against adjacency (|E| rows), hash-partitioned on the node key.
  * Cost is L joins of frontier size, never a traversal per walk; walk
  * count and length are the knobs, and neither multiplies |E|. The
  * union of per-position frames is linear output (starts × (L+1)).
  */
object Walks extends graft.QuerySet {
  private val P = 1000000007L
  private val A = 1315423911L
  private val B = 2654435761L
  private val L = 3            // steps per walk → L+1 positions
  private val PartOffset = 10000000L // part node-id space

  /** Undirected customer–part edges from the order fact: customer c
    * bought part p ⇒ edge (c, p+offset), both directions. */
  private def edges(s: SparkSession, dir: String): DataFrame = {
    val e0 = Tables(s, dir, "orders")
      .join(Tables(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("a"),
        (col("l_partkey") + PartOffset).as("b"))
      .distinct()
    // both directions in ONE pass: the unionByName-of-swap twin
    // duplicated the join+distinct subtree in the plan (the two
    // branches did not share the exchange — measured ~0.75 s of
    // recompute at sf0.1); consumers rank per src, so row order is
    // immaterial
    e0.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("t"))
      .select(col("t.src").as("src"), col("t.dst").as("dst"))
  }

  /** Adjacency with a dense per-src neighbor ranking and degree. */
  private def rankedAdj(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("src").orderBy("dst")
    df.withColumn("rn", row_number().over(w))
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
  }

  private def stepHash(cur: Column, t: Int): Column =
    ((cur % P) * A + lit(t.toLong) * B) % P

  val queries: Map[String, Q] = Map(
    // one walk per node, L steps: (walk_id = start node, pos, node) —
    // the sentence corpus. Dead ends are impossible: the graph is
    // undirected, so every adjacency src has deg ≥ 1.
    "gr_walks" -> ((s, dir) => {
      val adj = rankedAdj(edges(s, dir)).cache()
      // cache every step frontier: the per-position union frames
      // share the step chain, and without them the union re-ran step
      // t's join once per LATER position (1+2+…+L joins — measured
      // ~10 cache-scan jobs instead of L+1 at sf0.1)
      val starts = adj.select(col("src")).distinct().cache()
      var frames = List(starts.select(col("src").as("walk_id"),
        lit(0L).as("pos"), col("src").as("node")))
      var cur = starts.select(col("src").as("walk_id"),
        col("src").as("cur"))
      for (t <- 1 to L) {
        // frontier column names are disjoint from adjacency's, so the
        // repeated join against the SAME cached adj plan resolves by
        // name — no self-join attribute ambiguity
        cur = cur.join(adj,
            col("cur") === col("src") &&
              col("rn") === stepHash(col("cur"), t) % col("deg") + 1)
          .select(col("walk_id"), col("dst").as("cur"))
          .cache()
        frames ::= cur.select(col("walk_id"), lit(t.toLong).as("pos"),
          col("cur").as("node"))
      }
      frames.reverse.reduce(_ unionByName _)
        .orderBy("walk_id", "pos")
    })
  )

  val oracles: Map[String, String] = Map(
    // the oracle replays the identical hash-driven walk with L
    // chained joins — no recursion needed at fixed L
    "gr_walks" ->
      """WITH e0 AS (
        |  SELECT DISTINCT o_custkey AS a, l_partkey + 10000000 AS b
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (
        |  SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b, a FROM e0),
        |adj AS (
        |  SELECT src, dst,
        |    row_number() OVER (PARTITION BY src ORDER BY dst) AS rn,
        |    count(*) OVER (PARTITION BY src) AS deg
        |  FROM e),
        |w0 AS (SELECT DISTINCT src AS walk_id, src AS cur FROM adj),
        |w1 AS (
        |  SELECT w.walk_id, a.dst AS cur FROM w0 w JOIN adj a
        |  ON a.src = w.cur AND a.rn =
        |    (((w.cur % 1000000007) * 1315423911 + 1 * 2654435761)
        |     % 1000000007) % a.deg + 1),
        |w2 AS (
        |  SELECT w.walk_id, a.dst AS cur FROM w1 w JOIN adj a
        |  ON a.src = w.cur AND a.rn =
        |    (((w.cur % 1000000007) * 1315423911 + 2 * 2654435761)
        |     % 1000000007) % a.deg + 1),
        |w3 AS (
        |  SELECT w.walk_id, a.dst AS cur FROM w2 w JOIN adj a
        |  ON a.src = w.cur AND a.rn =
        |    (((w.cur % 1000000007) * 1315423911 + 3 * 2654435761)
        |     % 1000000007) % a.deg + 1)
        |SELECT walk_id, CAST(0 AS BIGINT) AS pos, cur AS node FROM w0
        |UNION ALL SELECT walk_id, 1, cur FROM w1
        |UNION ALL SELECT walk_id, 2, cur FROM w2
        |UNION ALL SELECT walk_id, 3, cur FROM w3
        |ORDER BY walk_id, pos""".stripMargin
  )
}
