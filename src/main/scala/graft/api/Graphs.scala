package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Public library facade for graph analytics over ARBITRARY caller
  * edge DataFrames, delegating to the same code path as the
  * oracle-checked `gr_pagerank` query.
  *
  * Serving contract: the checkpoint-backed iterative operators
  * ([[components]], [[kcore]], [[bfs]], [[sssp]]) memoize their result
  * per (session, canonicalized inputs, parameters) via
  * [[graft.sources.Materialize.resultOnce]] — a long-running serving
  * session re-issuing the same call replays ONE result instead of
  * accumulating localCheckpoint blocks per call (ServeLoopSpec pins
  * the storage observables flat). A source whose CONTENT changes
  * under the same plan within one session should call the
  * `graft.operators.Graph` paths directly, or refresh the session's
  * memos with [[graft.sources.Materialize.invalidate]].
  */
object Graphs {

  /** Damped PageRank (d = 0.85) of a DIRECTED edge frame: `iters`
    * fixed integer-exact rounds, ranks in millionths of the initial
    * mass (every node starts at 1,000,000). Returns (node, rank).
    * For an undirected graph, pass each edge in both directions. The
    * edge list hash-partitions on src once and is reused by every
    * iteration's join — only vertex-scale rank tables move per round.
    */
  def pagerank(edges: DataFrame, iters: Int = 3,
               srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    graft.operators.Graph.pagerankOf(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")), iters)
      .select(col("node"), col("r").as("rank"))

  /** Connected components of an UNDIRECTED edge frame by alternating
    * star contraction — O(log diameter) rounds, the algorithm behind
    * `gr_components` and every graft clustering step, so deep chains
    * converge too. Returns (component, node); the component id is the
    * component's minimum node id. */
  def components(edges: DataFrame, aCol: String = "src",
                 bCol: String = "dst"): DataFrame = {
    val in = edges.select(col(aCol), col(bCol))
    graft.sources.Materialize.resultOnce("graphs.components", "",
      Seq(in))(
      graft.operators.Graph.starComponents(in)
        .select(col("cluster_id").as("component"), col("node")))
  }

  /** Per-node triangle memberships of an UNDIRECTED edge frame —
    * low-(degree, id) orientation bounds wedge fan-out by arboricity,
    * the hub guard that keeps the close join linear-ish at scale.
    * Returns (node, n_triangles); nodes in no triangle are absent. */
  def triangles(edges: DataFrame, aCol: String = "src",
                bCol: String = "dst"): DataFrame =
    graft.operators.Graph.trianglesOf(
      edges.select(col(aCol).as("x"), col(bCol).as("y")))

  /** Top-k predicted links of an UNDIRECTED edge frame by distinct
    * common-neighbor count (friend-of-friend), existing edges
    * excluded. Returns (a, b, common_neighbors), best first.
    *
    * Safe on power-law graphs: wedge fan-out through any midpoint of
    * degree > `hubCap` is capped to the midpoint's `hubCap`
    * lowest-(degree, id) neighbors — one hub costs hubCap² wedges,
    * never degree². On graphs whose degrees stay ≤ `hubCap` the cap
    * never engages and the scores are exact; above it, the recall
    * contract keeps the LOW-degree common neighbors (the informative
    * ones, per the Adamic-Adar weighting argument). */
  def predictLinks(edges: DataFrame, k: Int = 20,
                   aCol: String = "src", bCol: String = "dst",
                   hubCap: Int = graft.operators.Graph.HubCap): DataFrame =
    graft.operators.Graph.linkPredictOf(
      edges.select(col(aCol).as("x"), col(bCol).as("y")), k, hubCap)

  /** [[predictLinks]] with Adamic–Adar weighting: each distinct
    * common neighbor contributes 1/ln(degree) instead of 1 — rare
    * shared neighbors dominate, hubs are discounted. Scores are
    * fixed-point integers (×10⁶). Returns (a, b, aa_x1e6), best
    * first; the same hub-cap recall contract applies. */
  def adamicAdar(edges: DataFrame, k: Int = 20,
                 aCol: String = "src", bCol: String = "dst",
                 hubCap: Int = graft.operators.Graph.HubCap): DataFrame =
    graft.operators.Graph.adamicAdarOf(
      edges.select(col(aCol).as("x"), col(bCol).as("y")), k, hubCap)

  /** Personalized PageRank: same integer-exact damped iterations as
    * [[pagerank]], but the restart mass lands only on `seeds` (a
    * one-column frame of node ids) — rank measures proximity to the
    * seed set instead of global centrality. Returns (node, rank);
    * nodes unreachable from the seeds hold rank 0. */
  def personalizedPagerank(edges: DataFrame, seeds: DataFrame,
                           iters: Int = 3, srcCol: String = "src",
                           dstCol: String = "dst"): DataFrame =
    graft.operators.Graph.personalizedPagerankOf(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")),
      seeds.toDF("node"), iters)
      .select(col("node"), col("r").as("rank"))

  /** K-core of an UNDIRECTED edge frame (pass each edge once; both
    * directions are derived): iterative degree peeling to the maximal
    * subgraph where every node keeps ≥ k neighbors. Each round is two
    * partition-window counts — no joins — and rounds follow the peel
    * cascade depth, not node count. Returns (node, core_deg). */
  def kcore(edges: DataFrame, k: Int, aCol: String = "src",
            bCol: String = "dst"): DataFrame = {
    val und = edges.select(col(aCol).as("u"), col(bCol).as("v"))
    graft.sources.Materialize.resultOnce("graphs.kcore", s"k=$k",
      Seq(und))(
      graft.operators.Graph.kcoreOf(
        und.unionAll(und.select(col("v").as("u"), col("u").as("v"))), k))
  }

  /** Bounded multi-source BFS over an UNDIRECTED edge frame (pass
    * each edge once; both directions are derived): hop distance to
    * the nearest node of `seeds` (a one-column frame), for every node
    * within `maxHops`. The hop bound is a query constant — the plan
    * is maxHops chained frontier joins, no data-driven convergence
    * probes. Returns (node, d); unreached nodes are absent. Behind
    * the oracle-checked `gr_bfs_dist` query. */
  def bfs(edges: DataFrame, seeds: DataFrame, maxHops: Int = 6,
          aCol: String = "src", bCol: String = "dst"): DataFrame = {
    val und = edges.select(col(aCol).as("u"), col(bCol).as("v"))
    graft.sources.Materialize.resultOnce("graphs.bfs", s"hops=$maxHops",
      Seq(und, seeds))(
      graft.operators.Graph.bfsOf(
        und.unionAll(und.select(col("v").as("u"), col("u").as("v"))),
        seeds, maxHops))
  }

  /** Bounded weighted shortest paths over an UNDIRECTED weighted edge
    * frame (pass each edge once with a non-negative weight; both
    * directions are derived): (node, d) with d = min path weight from
    * any seed over paths of ≤ `rounds` edges. Delta Bellman–Ford —
    * each round relaxes only the previous round's improved labels.
    * Behind the oracle-checked `gr_sssp_bounded` query. */
  def sssp(edges: DataFrame, seeds: DataFrame, rounds: Int = 6,
           aCol: String = "src", bCol: String = "dst",
           wCol: String = "w"): DataFrame = {
    val und = edges.select(col(aCol).as("u"), col(bCol).as("v"),
      col(wCol).as("w"))
    graft.sources.Materialize.resultOnce("graphs.sssp", s"rounds=$rounds",
      Seq(und, seeds))(
      graft.operators.Graph.ssspOf(
        und.unionAll(und.select(col("v").as("u"), col("u").as("v"),
          col("w"))),
        seeds, rounds))
  }

  /** Semi-supervised label spreading over an UNDIRECTED edge frame
    * (pass each edge once; both directions are derived): `rounds`
    * fixed iterations of clamped majority vote — every non-seed node
    * takes the (max votes, min label) argmax of its labeled
    * neighbors' labels, integer votes, deterministic tie-break.
    * `seeds` is a (node, label: long) frame. Returns (node, label)
    * with label NULL where no labeled node is within `rounds` hops.
    * Behind the oracle-checked `gr_label_spread` query. */
  def spreadLabels(edges: DataFrame, seeds: DataFrame, rounds: Int = 3,
                   aCol: String = "src", bCol: String = "dst"): DataFrame =
    graft.operators.Graph.labelSpreadOf(
      edges.select(col(aCol), col(bCol)), seeds, rounds)
}
