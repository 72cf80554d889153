package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Iterative graph analytics over a relationship graph derived from the
  * lake tables — PageRank on the customer↔supplier trading graph
  * (edge (c, s) iff some order of customer c contains a lineitem
  * supplied by s; undirected, so each edge contributes both
  * directions). Complements `dd_cluster`'s label propagation: that
  * finds components, this ranks nodes by stationary visit mass.
  *
  * Everything is INTEGER-exact so the oracle replays it bit-for-bit:
  * ranks live in millionths (r0 = 1,000,000 per node), per-edge
  * contribution is `rank div outdeg` (floor), and the damped update is
  * `150,000 + (85 · Σ contribs) div 100` — the standard d=0.85
  * PageRank recurrence with (1−d)·scale = 150,000. Iteration count is
  * FIXED (3): a bounded driver loop over lazy DataFrames, the same
  * shape as `Clustering`'s Lloyd rounds. Floor-division loses < 1
  * millionth per edge, irrelevant to ranking and — because both
  * engines floor identically — zero drift.
  *
  * Scale shape (the Pregel argument): per iteration, ONE shuffle join
  * of the rank table (|V| rows) against the edge list partitioned on
  * src, and one dst-keyed partial aggregation. The edge list — the
  * 100 TB side — is hash-partitioned on src ONCE and cached; every
  * iteration's join reuses that layout, so iterating never re-shuffles
  * the big side. Rank tables are |V| rows (vertex scale, not edge
  * scale). No driver-side collect anywhere: the loop composes lazy
  * plans and a single action materializes the final ranks.
  */
object Graph extends graft.QuerySet {
  private val SCALE = 1000000L  // rank units: millionths
  private val ITERS = 3

  /** Rounds the most recent starComponents call took — test-only
    * observability for the incremental-contraction claim. */
  @volatile private[graft] var lastRounds: Int = 0

  /** Connected components by ALTERNATING STAR CONTRACTION (the
    * large-star/small-star algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). Complements
    * [[Dedup.components]]'s min-label propagation: label propagation
    * converges in O(diameter) rounds — a chain-shaped component of
    * depth d costs d shuffles — while star contraction halves the
    * effective depth per round pair, converging in O(log d) rounds on
    * the same edge-list join primitives. On a 100 TB dup graph whose
    * components can be long chains (transitive near-dup families),
    * that is the difference between ~8 rounds and hundreds.
    *
    * Both phases are expressed as joins against a per-node minimum —
    * no collect_list adjacency materialization, so a star root's
    * growing neighborhood never concentrates in one task's buffer:
    *   large-star: m(u) = min(N(u) ∪ {u}); every edge (u,v) with
    *     v > u rewires to (v, m(u)).
    *   small-star: over the resulting (u > v) forest, m(u) = min of
    *     u's smaller neighbors; u and each smaller neighbor rewire
    *     to m(u).
    * The fixpoint is a star per component (every node → component
    * min). Each round localCheckpoints (same lineage-reset rationale
    * as [[Dedup.components]]) and frees the previous round's blocks.
    *
    * Cost shape: ONE Spark action per round. The round's checkpoint is
    * LAZY and the single action materializes next's blocks while
    * testing convergence from next's OWN shape: next is final iff it
    * is a depth-1 forest (every u exactly once, no u also a v) — all
    * edges stay (u > v)-oriented, so a depth-1 forest points each
    * leaf at its component root and the root, smaller than every
    * leaf, is the component minimum. This needs no join against e
    * (the previous (next = e) equality test re-shuffled e per round)
    * and stops on the round that PRODUCES the star forest instead of
    * one round later. GraphSpec pins the action count with a listener.
    *
    * Block bookkeeping holds the checkpointed RDD handles directly
    * (pattern-matched out of the LogicalRDD the checkpoint returns) —
    * no global getPersistentRDDs diff, so concurrent jobs on the same
    * SparkContext can persist blocks without this loop unpersisting
    * them.
    * Returns (cluster_id = component min, node) over edge-touched
    * nodes. */
  private[graft] def starComponents(pairDf: DataFrame): DataFrame = {
    import pairDf.sparkSession.implicits._
    // the checkpointed blocks behind a lazily-localCheckpointed frame:
    // Dataset.localCheckpoint wraps the (possibly not-yet-materialized)
    // checkpoint RDD in a LogicalRDD — that handle is exactly what a
    // later unpersist must target
    def ckRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }
    var e = pairDf.toDF("a", "b").filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .distinct().localCheckpoint(eager = false)
    var eRdds = ckRdds(e)
    var rounds = 0
    var done = false
    // each star phase is ONE partition-window min (a single shuffle on
    // u), not a groupBy + join pair — per-round stage count is what
    // iterative graph algorithms pay for, so it is kept minimal
    val wU = org.apache.spark.sql.expressions.Window.partitionBy("u")
    while (!done && rounds < 30) {
      // ONE pass over e's blocks emits both arc directions — the
      // unionAll-of-swap twin read the checkpointed blocks twice
      val und = e.select(explode(array(
          struct(col("u").as("u"), col("v").as("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("t"))
        .select(col("t.u").as("u"), col("t.v").as("v"))
      // large-star: m = min(N(u) ∪ {u}); duplicate (v, m) rewires are
      // bounded by |und| and collapse in the round-final distinct
      val large = und
        .withColumn("m", least(col("u"), min("v").over(wU)))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // small-star over the (u > v) forest: m = min of u's smaller
      // neighbors; v and m are both < u with m = min ⇒ the rewired
      // edge (v, m) already satisfies the (hi, lo) orientation.
      // Both outputs — (u, m) always, (v, m) when v moved — come out
      // of ONE pass over the window (the unionAll twin re-read the
      // small-star exchange a second time for the (v, m) branch).
      val small = large.withColumn("m", min("v").over(wU))
      val next = small.select(explode(when(col("v") === col("m"),
          array(struct(col("u").as("u"), col("m").as("v"))))
        .otherwise(array(struct(col("u").as("u"), col("m").as("v")),
          struct(col("v").as("u"), col("m").as("v"))))).as("t"))
        .select(col("t.u").as("u"), col("t.v").as("v"))
        .distinct().localCheckpoint(eager = false)
      val nextRdds = ckRdds(next)
      // the round's ONE action: materialize next and decide
      // convergence from next's OWN shape — next is final iff it is a
      // depth-1 forest (every u exactly once, and no u also appears
      // as a v). Every next edge is (u > v)-oriented, so a depth-1
      // forest points each leaf at its component root and the root,
      // smaller than all its leaves, IS the component minimum. This
      // detects the star forest on the round that PRODUCES it; the
      // previous (next = e) equality join paid one extra no-op round
      // to observe the fixpoint AND re-shuffled e per round for the
      // (u, v)-keyed join.
      val nBad = next.select(explode(array(
          struct(col("u").as("node"), lit(1L).as("lf")),
          struct(col("v").as("node"), lit(0L).as("lf")))).as("t"))
        .select(col("t.node").as("node"), col("t.lf").as("lf"))
        .groupBy("node")
        .agg(sum(col("lf")).as("nu"), count(lit(1)).as("nt"))
        .filter(col("nu") > 1 || (col("nu") >= 1 && col("nt") > col("nu")))
        .count()
      done = nBad == 0
      eRdds.foreach(_.unpersist(blocking = false))
      eRdds = nextRdds
      e = next
      rounds += 1
    }
    require(done, s"star contraction did not converge in $rounds")
    lastRounds = rounds
    val out = e.select(col("v").as("cluster_id"), col("u").as("node"))
      .unionAll(e.select(col("v").as("cluster_id"), col("v").as("node"))
        .distinct())
    out
  }

  /** Order-succession graph: each customer's orders chained in
    * (o_orderdate, o_orderkey) succession, plus a bridge between the
    * first orders of custkey c and c+1 whenever they share a decade
    * (c div 10) — chains of chains, so components are ~100-node paths
    * with real diameter (the regime star contraction is built for). */
  private[graft] def chainEdges(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o.withColumn("prev", lag("o_orderkey", 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("prev").as("u"), col("o_orderkey").as("v"))
  }

  private[graft] def bridgeEdges(s: SparkSession, dir: String): DataFrame = {
    val first = Tables(s, dir, "orders")
      .groupBy("o_custkey").agg(min("o_orderkey").as("f"))
    first.as("a")
      .join(first.as("b"),
        col("a.o_custkey") + 1 === col("b.o_custkey") &&
          expr("a.o_custkey div 10") === expr("b.o_custkey div 10"))
      .select(col("a.f").as("u"), col("b.f").as("v"))
  }

  private[graft] def orderChainEdges(s: SparkSession, dir: String): DataFrame =
    chainEdges(s, dir).unionAll(bridgeEdges(s, dir))

  /** Strong co-supply edges (x < y): supplier pairs co-appearing in
    * strictly more orders than the mean pair + 2 — the data-derived
    * cutoff shared by gr_triangles and gr_link_predict. Per-order
    * supplier sets come from one groupBy; two chained codegen explodes
    * emit the ordered pairs (an interpreted lambda comprehension runs
    * ~40% slower, a self-join ~60%); the one-row threshold rides a
    * broadcast. */
  private[graft] def coSupplyEdges(s: SparkSession, dir: String): DataFrame =
    // Materialized once per (session, corpus) — building a graph
    // PROJECTION out of a fact table is ETL (the same warehouse split
    // as the ANN index build and the invoice-text CTAS: sources/
    // Materialize scaladoc); five analyst queries share this edge
    // table, and re-deriving the pair counts per query would be like
    // re-bucketing a table per join. The bench's cold pass pays
    // build+write+first-read in whichever graph query runs first;
    // steady passes time the graph algorithms themselves.
    graft.sources.Materialize.tableOnce(s, dir,
      graft.sources.Materialize.indexTable("cosupply", dir)) {
      coSupplyBuild(s, dir)
    }

  /** The build plan behind [[coSupplyEdges]] (also used directly where
    * a caller wants the un-materialized frame, e.g. specs). */
  private[graft] def coSupplyBuild(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
    val pairs = li.groupBy("l_orderkey")
      .agg(collect_set("l_suppkey").as("ss"))
      .select(col("ss"), explode(col("ss")).as("a"))
      .select(col("a"), explode(col("ss")).as("b"))
      .filter(col("a") < col("b"))
      .groupBy(col("a").as("x"), col("b").as("y"))
      .agg(count(lit(1)).as("cnt"))
      // cached: both the threshold scalar and the edge filter read pairs
      .cache()
    val thr = pairs.agg(expr("sum(cnt) div count(1) + 2").as("thr"))
    pairs.join(broadcast(thr))
      .filter(col("cnt") > col("thr")).select("x", "y")
  }

  /** Fixed-round clamped majority-vote label spreading over an
    * undirected (x, y) edge frame — the core behind gr_label_spread /
    * api.Graphs.spreadLabels. `seeds` is (node, seed_label: long);
    * each round every node takes the (max votes, min label) argmax of
    * its labeled neighbors, seeds stay clamped. Returns (node, label
    * nullable) after `rounds`. Round cost is one src-keyed equi-join
    * (Σdeg) plus a (node, label)-grain count — never pairwise. */
  private[graft] def labelSpreadOf(edges: DataFrame, seeds: DataFrame,
                                   rounds: Int): DataFrame = {
    val e0 = edges.toDF("x", "y")
    val e = e0.select(col("x").as("src"), col("y").as("dst"))
      .unionAll(e0.select(col("y").as("src"), col("x").as("dst")))
      .cache()
    val sd = seeds.toDF("node", "seed_label")
    // (node, seed_label) is read once per round PLUS the init — cache
    // it so the node-distinct + seed join doesn't re-run 1 + rounds
    // times inside the unrolled fixed-round plan
    val base = e.select(col("src").as("node")).distinct()
      .join(sd, Seq("node"), "left")
      .cache()
    var labels = base.select(col("node"), col("seed_label").as("label"))
    for (_ <- 1 to rounds) {
      val votes = e
        .join(labels.filter(col("label").isNotNull)
          .select(col("node").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("v"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("src").orderBy(col("v").desc, col("label"))
      val best = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("src").as("node"), col("label").as("voted"))
      labels = base.join(best, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("seed_label"), col("voted")).as("label"))
    }
    labels
  }

  /** One damped update: floor per-edge contributions, aggregate by
    * dst, apply 0.85 damping in integer arithmetic. Every node keeps a
    * row (undirected graph ⇒ in-degree ≥ 1, but the left join + base
    * term is the general dangling-safe form). */
  private[graft] def step(edges: DataFrame, ranks: DataFrame): DataFrame = {
    val inflow = edges.join(ranks, col("src") === col("node"))
      .select(col("dst"), expr("r div deg").as("c"))
      .groupBy("dst").agg(sum("c").as("inflow"))
    ranks.select(col("node"))
      .join(inflow, col("node") === col("dst"), "left")
      .select(col("node"),
        (lit(150000L) + expr("(85 * coalesce(inflow, 0L)) div 100"))
          .as("r"))
  }

  /** Damped PageRank of a DIRECTED (src, dst) edge frame: attaches
    * out-degrees, hash-partitions the edge list on src once (the
    * layout every iteration's join reuses), and runs `iters` fixed
    * integer-exact rounds. Returns (node, r) with r in millionths —
    * the [[graft.api.Graphs]] facade shape. */
  private[graft] def pagerankOf(directed: DataFrame,
                                iters: Int = ITERS): DataFrame = {
    val deg = directed.groupBy("src").agg(count(lit(1)).as("deg"))
    val edges = directed.join(deg, "src")
      .repartition(col("src"))
      .cache()
    val nodes = edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node")))
      .distinct()
    val r0 = nodes.withColumn("r", lit(SCALE))
    (1 to iters).foldLeft(r0)((r, _) => step(edges, r))
  }

  /** One damped PERSONALIZED update: identical integer arithmetic to
    * [[step]], but the restart mass lands only on the seed set —
    * `r' = 1[seed]·0.15·SCALE + 0.85·Σ inflow` — so rank measures
    * proximity to the seeds, not global centrality (Page et al. 1999
    * §6 "personalized" vector; Jeh & Widom WWW'03). Same shuffle
    * profile as the global step: the seed flag rides the node frame,
    * no extra joins per iteration. */
  private def pprStep(edges: DataFrame, flaggedNodes: DataFrame,
                      ranks: DataFrame): DataFrame = {
    val inflow = edges.join(ranks, col("src") === col("node"))
      .select(col("dst"), expr("r div deg").as("c"))
      .groupBy("dst").agg(sum("c").as("inflow"))
    flaggedNodes
      .join(inflow, col("node") === col("dst"), "left")
      .select(col("node"), col("is_seed"),
        (when(col("is_seed"), lit(150000L)).otherwise(lit(0L))
          + expr("(85 * coalesce(inflow, 0L)) div 100")).as("r"))
  }

  /** Personalized PageRank: integer-exact damped iterations with the
    * restart vector concentrated on `seeds` (a (node) frame). Seeds
    * start with SCALE mass, everything else at zero. */
  private[graft] def personalizedPagerankOf(directed: DataFrame,
                                            seeds: DataFrame,
                                            iters: Int = ITERS)
      : DataFrame = {
    val deg = directed.groupBy("src").agg(count(lit(1)).as("deg"))
    val edges = directed.join(deg, "src")
      .repartition(col("src"))
      .cache()
    val nodes = edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node")))
      .distinct()
    val flagged = nodes.join(
        seeds.select(col("node")).distinct().withColumn("s", lit(true)),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("s"), lit(false)).as("is_seed"))
      .cache()
    val r0 = flagged.select(col("node"), col("is_seed"),
      when(col("is_seed"), lit(SCALE)).otherwise(lit(0L)).as("r"))
    (1 to iters).foldLeft(r0)((r, _) =>
      pprStep(edges, flagged, r.select("node", "r")))
      .select("node", "r")
  }

  /** Rounds the last [[kcoreOf]] call took (observability, cf.
    * [[lastRounds]]). */
  @volatile private[graft] var kcoreRounds: Int = 0

  /** K-CORE decomposition by iterative degree peeling (Seidman 1983;
    * the distributed formulation of Montresor et al. 2013): delete
    * every node of degree < k, which lowers neighbors' degrees, and
    * repeat to fixpoint — the k-core is the maximal subgraph where
    * every node keeps ≥ k neighbors, the standard "dense backbone"
    * filter for community mining and spam/bot subgraph isolation.
    *
    * `edges` is DIRECTED both ways (u,v)+(v,u), one row per arc.
    * Each round is two partition-window counts (deg(u) rides
    * PARTITION BY u, deg(v) PARTITION BY v — the frame is symmetric)
    * and a filter; NO joins, no bad-node set to anti-join, so a round
    * costs exactly the two key-shuffles the degree computation needs.
    * Peeling only deletes rows, so next ⊆ e always and the fixpoint
    * test is a row count — the round's single action, which also
    * materializes the round's localCheckpoint (same 1-job/round
    * discipline as [[starComponents]], same direct-RDD-handle block
    * bookkeeping). Rounds are data-bounded: each non-final round
    * deletes ≥ 1 node, and on shell-structured graphs the cascade
    * depth is the peel chain length, not the node count.
    *
    * Returns (node, core_deg) for the surviving subgraph. */
  private[graft] def kcoreOf(edges: DataFrame, k: Int): DataFrame = {
    def ckRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }
    val wU = org.apache.spark.sql.expressions.Window.partitionBy("u")
    val wV = org.apache.spark.sql.expressions.Window.partitionBy("v")
    var e = edges.toDF("u", "v").localCheckpoint(eager = false)
    var eRdds = ckRdds(e)
    var cntE = e.count()
    var rounds = 0
    var changed = true
    while (changed && rounds < 60) {
      val next = e
        .withColumn("du", count(lit(1)).over(wU))
        .withColumn("dv", count(lit(1)).over(wV))
        .filter(col("du") >= k && col("dv") >= k)
        .select("u", "v")
        .localCheckpoint(eager = false)
      val nextRdds = ckRdds(next)
      val cntNext = next.count() // materializes + tests the fixpoint
      changed = cntNext != cntE
      cntE = cntNext
      eRdds.foreach(_.unpersist(blocking = false))
      eRdds = nextRdds
      e = next
      rounds += 1
    }
    require(!changed, s"k-core peel did not converge in $rounds rounds")
    kcoreRounds = rounds
    e.groupBy("u").agg(count(lit(1)).as("core_deg"))
      .select(col("u").as("node"), col("core_deg"))
  }

  /** Both arc directions of an (a, b) pair frame in ONE pass:
    * explode([struct(a→src,b→dst), struct(b→src,a→dst)]). The
    * unionAll-of-two-selects formulation duplicates the pair frame's
    * whole subtree in the plan — measured at sf0.1, the
    * orders⋈lineitem+distinct build ran TWICE per bipartite query
    * (~0.75 s each) because the two union branches did not share the
    * exchange. Row multiset is identical (order differs; every
    * consumer is order-insensitive: degree counts, window ranks,
    * integer sums). */
  private def bothDirections(pairs: DataFrame, a: String, b: String,
                             src: String = "src",
                             dst: String = "dst"): DataFrame =
    pairs.select(explode(array(
        struct(col(a).as(src), col(b).as(dst)),
        struct(col(b).as(src), col(a).as(dst)))).as("t"))
      .select(col(s"t.$src").as(src), col(s"t.$dst").as(dst))

  val queries: Map[String, Q] = Map(
    "gr_pagerank" -> ((s, dir) => {
      val pairs = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("cnode"),
          (col("l_suppkey") * 2 + 1).as("snode"))
        .distinct()
      val directed = bothDirections(pairs, "cnode", "snode")
      pagerankOf(directed)
        .select(col("node"),
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("kind"),
          col("r").as("rank_millionths"))
        .orderBy("node")
    }),

    // K-CORE of the customer↔supplier bipartite graph at k=45: the
    // "dense market backbone" — customers spread across ≥45 suppliers
    // whose suppliers in turn keep ≥45 such customers after the
    // cascade. Peeling, not a one-shot degree filter: removing sparse
    // customers lowers supplier degrees, which can knock suppliers
    // (and then more customers) out — the fixpoint is what a degree
    // filter cannot express. Output = surviving nodes with their
    // within-core degree.
    "gr_kcore" -> ((s, dir) => {
      val pairs = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("cnode"),
          (col("l_suppkey") * 2 + 1).as("snode"))
        .distinct()
      val directed = bothDirections(pairs, "cnode", "snode", "u", "v")
      kcoreOf(directed, 45).orderBy("node")
    }),

    // PERSONALIZED PageRank over the same co-purchase graph: restart
    // mass pinned to one market's customers (nation 1), output the 20
    // suppliers most proximate to that market — "who serves this
    // segment", the recommender-adjacent query global PageRank cannot
    // answer. Same integer fixed-point arithmetic as gr_pagerank
    // (exactness proof unchanged); the only delta is the seed-
    // conditional restart term.
    "gr_ppr" -> ((s, dir) => {
      val pairs = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("cnode"),
          (col("l_suppkey") * 2 + 1).as("snode"))
        .distinct()
      val directed = bothDirections(pairs, "cnode", "snode")
      val seeds = Tables(s, dir, "customer")
        .filter(col("c_nationkey") === 1)
        .select((col("c_custkey") * 2).as("node"))
      val top = personalizedPagerankOf(directed, seeds)
        .filter(col("node") % 2 === 1)
        .orderBy(col("r").desc, col("node"))
        .limit(20)
      top.withColumn("pos", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("r").desc, col("node"))))
        .select(col("pos"), expr("(node - 1) div 2").as("s_suppkey"),
          col("r").as("rank_millionths"))
        .orderBy("pos")
    }),

    // Connected components of the order-succession graph by star
    // contraction (O(log d) rounds vs label propagation's O(d)); the
    // output is the component census (root id, size) — the shape a
    // dedup resolution step consumes. Correctness cross-checked against
    // min-label propagation in GraphSpec on chain-heavy random graphs.
    "gr_components" -> ((s, dir) =>
      starComponents(orderChainEdges(s, dir).select("u", "v"))
        .groupBy("cluster_id").agg(count(lit(1)).as("n_orders"))
        .orderBy("cluster_id")),

    // INCREMENTAL components — the nightly shape: yesterday's labeling
    // is already a star forest, so contracting (yesterday's star edges
    // ∪ tonight's new edges) re-converges in rounds governed by the NEW
    // edges' link structure, never re-pairing yesterday's graph. Here
    // the chain graph plays yesterday and the bridges play tonight's
    // linking batch; the census equals the from-scratch gr_components
    // exactly (same oracle), and GraphSpec pins that the second
    // contraction takes fewer rounds than the full one. Yesterday's
    // star forest persists once per (session, corpus) via Materialize —
    // exactly like the ANN index artifacts: the nightly job READS
    // yesterday's labeling, it does not recompute it.
    "gr_components_incr" -> ((s, dir) => {
      val oldStars = graft.sources.Materialize
        .tableOnce(s, dir,
          graft.sources.Materialize.indexTable("chain_stars", dir)) {
          starComponents(chainEdges(s, dir))
            .filter(col("node") =!= col("cluster_id"))
            .select(col("node").as("u"), col("cluster_id").as("v"))
        }
      starComponents(oldStars.unionAll(bridgeEdges(s, dir)))
        .groupBy("cluster_id").agg(count(lit(1)).as("n_orders"))
        .orderBy("cluster_id")
    }),

    // Common-neighbor LINK PREDICTION on the strong co-supply graph:
    // for each non-adjacent supplier pair, score = number of distinct
    // common neighbors (the friend-of-friend primitive under
    // Adamic-Adar and company), report the top-20 predicted links.
    // Wedges come from one hash self-join on the midpoint; existing
    // edges are removed by an anti-join before scoring. Fan-out per
    // midpoint is its degree — on the thresholded graph that is
    // bounded by construction (degree ≪ HubCap, spec-asserted), so
    // the guard's zero-cost branch runs and results are exact; an
    // arbitrary power-law caller graph hits linkPredictOf's
    // per-midpoint HubCap (see its scaladoc for the recall contract).
    // Top-k is orderBy+limit with a total (score desc, pair) order.
    "gr_link_predict" -> ((s, dir) =>
      linkPredictOf(coSupplyEdges(s, dir), 20)),

    // Adamic–Adar scoring of the same co-supply graph: the
    // degree-discounted refinement of gr_link_predict (rare shared
    // suppliers count, ubiquitous ones don't) — the score most link-
    // prediction baselines actually report.
    "gr_adamic_adar" -> ((s, dir) =>
      adamicAdarOf(coSupplyEdges(s, dir), 20)),

    // SEMI-SUPERVISED LABEL SPREADING — node classification from a
    // labeled seed slice (every 10th supplier keeps its nation), 3
    // FIXED rounds of majority vote over co-supply neighbors: each
    // round every non-seed node takes the (max votes, min label)
    // argmax of its labeled neighbors' labels — integer votes, a
    // deterministic tie-break, seeds clamped — so the fixed-round
    // result is exact and both engines replay it verbatim (the oracle
    // unrolls the same 3 rounds as CTEs). Round cost is one
    // src-keyed equi-join of the edge list against the labeled set
    // plus a (node, label)-grain count — Σdeg per round, the BFS
    // contract; 3 rounds is a query constant, no convergence probes.
    // Output: per-label census after round 3 (unlabeled = -1).
    "gr_label_spread" -> ((s, dir) => {
      val e0 = coSupplyEdges(s, dir)
      val seeds = Tables(s, dir, "supplier")
        .filter(col("s_suppkey") % 10 === 0)
        .select(col("s_suppkey").as("node"),
          col("s_nationkey").cast("long").as("seed_label"))
      labelSpreadOf(e0, seeds, 3)
        .groupBy(coalesce(col("label"), lit(-1L)).as("label"))
        .agg(count(lit(1)).as("n_nodes"),
          min("node").as("min_node"), max("node").as("max_node"))
        .orderBy("label")
    }),

    // INCREMENTAL triangle maintenance — the IVM story applied to the
    // graph family: yesterday's per-node census (the co-supply graph
    // minus tonight's batch) persists once via Materialize exactly
    // like the ANN index artifacts; the nightly job counts ONLY the
    // triangles stabbed by new edges (for each new edge (a,b), common
    // neighbors of a and b in the new graph; triple-dedup handles
    // triangles with 2–3 new edges) and adds them on. Delta cost is
    // Σ_{(a,b)∈Δ} deg(a) — batch-scale, never graph-scale. The final
    // census equals the from-scratch gr_triangles exactly (same
    // oracle); GraphSpec additionally pins delta+old == full on
    // adversarial splits.
    "gr_triangles_incr" -> ((s, dir) => {
      val g = coSupplyEdges(s, dir)
      val isNew = (col("x") + col("y")) % 5 === 0
      val oldCensus = graft.sources.Materialize
        .tableOnce(s, dir,
          graft.sources.Materialize.indexTable("cosupply_tri", dir)) {
          trianglesOf(g.filter(!isNew))
        }
      oldCensus.select(col("node"), col("n_triangles"))
        .unionAll(triangleDelta(g, g.filter(isNew)))
        .groupBy("node").agg(sum("n_triangles").as("n_triangles"))
        .select(col("node").as("l_suppkey"), col("n_triangles"))
        .orderBy("l_suppkey")
    }),

    // Triangle counting on the strong co-supply graph (suppliers
    // adjacent iff they co-appear in strictly more orders than the mean
    // pair + 2 — a data-derived cutoff, so every scale factor yields a
    // nontrivial graph). Engine side orients each edge from its
    // lower-(degree, id) endpoint to its higher one — the classic
    // arboricity bound: every triangle is counted exactly once at its
    // lowest-degree vertex, and per-node wedge fan-out is bounded by
    // out-degree ≤ O(√E) instead of raw degree, which is what keeps the
    // wedge join from exploding on hub nodes at 100 TB. The one-row
    // threshold aggregate is a broadcast scalar (the documented
    // model-parameter NLJ pattern). Output: per-supplier triangle
    // memberships (each triangle credits all three corners).
    "gr_triangles" -> ((s, dir) =>
      trianglesOf(coSupplyEdges(s, dir))
        .select(col("node").as("l_suppkey"), col("n_triangles"))
        .orderBy("l_suppkey")),

    // Bounded MULTI-SOURCE BFS — "distance to nearest seed", the
    // k-hop-neighborhood primitive (influence radius, blast-radius
    // audits, label spreading). Seeds are every 50th customer's first
    // order; the frontier expands 6 fixed hops over the symmetrized
    // order-succession graph. Frontier-style BFS is the textbook
    // Pregel iteration expressed as joins: each round is ONE equi-join
    // of the frontier against the src-keyed edge list plus an
    // anti-join against the visited set — cost Σ|frontier|·deg, never
    // nodes × rounds, and the hop count is a constant of the QUERY
    // (k = 6), not of the data, so the plan is 6 chained joins with
    // zero driver-side convergence probes (contrast starComponents,
    // whose round count is data-driven and must probe). Output is the
    // per-distance census: d, node count, key extremes.
    "gr_bfs_dist" -> ((s, dir) => {
      val sym = bothDirections(orderChainEdges(s, dir), "u", "v", "u", "v")
      val seeds = Tables(s, dir, "orders")
        .filter(col("o_custkey") % 50 === 0)
        .groupBy("o_custkey").agg(min("o_orderkey").as("node"))
        .select("node")
      bfsOf(sym, seeds, 6)
        .groupBy("d")
        .agg(count(lit(1)).as("n_nodes"),
          min("node").as("min_key"), max("node").as("max_key"))
        .orderBy("d")
    }),

    // Bounded WEIGHTED shortest paths — gr_bfs_dist's min-plus
    // sibling: hop counts become day-gap weights (chain edge weight =
    // days between the consecutive orders + 1, bridge edges weight 1),
    // and the frontier iteration becomes delta-stepping Bellman–Ford:
    // each round relaxes ONLY the edges of nodes whose distance
    // improved last round (a node whose label is final contributes
    // nothing new — the classic delta optimization), so round cost is
    // Σ|improved|·deg, and 6 rounds compute exactly min-cost-over-
    // ≤6-edge-paths — a query constant again, no convergence probes.
    // Unlike BFS, a later round can LOWER an earlier label (a 3-hop
    // path of light edges beats a 1-hop heavy edge), which is why the
    // visited-set anti-join is replaced by a min-merge. Output: census
    // per 16-day distance band.
    "gr_sssp_bounded" -> ((s, dir) => {
      // both directions in one pass over the weighted edge build (the
      // unionAll twin re-ran the window-derived edge plan twice)
      val sym = weightedChainEdges(s, dir).select(explode(array(
          struct(col("u").as("u"), col("v").as("v"), col("w").as("w")),
          struct(col("v").as("u"), col("u").as("v"), col("w").as("w"))))
          .as("t"))
        .select(col("t.u").as("u"), col("t.v").as("v"), col("t.w").as("w"))
      val seeds = Tables(s, dir, "orders")
        .filter(col("o_custkey") % 50 === 0)
        .groupBy("o_custkey").agg(min("o_orderkey").as("node"))
        .select("node")
      ssspOf(sym, seeds, 6)
        .groupBy(expr("d div 16").as("band"))
        .agg(count(lit(1)).as("n_nodes"), min("d").as("min_d"),
          max("d").as("max_d"), min("node").as("min_key"),
          max("node").as("max_key"))
        .orderBy("band")
    })
  )

  /** The order-succession graph with DAY-GAP weights: chain edges
    * carry datediff(next, prev) + 1 (≥ 1 — same-day successions still
    * cost a step), bridges carry 1. Same topology as orderChainEdges. */
  private[graft] def weightedChainEdges(s: SparkSession,
                                        dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val chain = o.withColumn("prev", lag("o_orderkey", 1).over(w))
      .withColumn("prevd", lag("o_orderdate", 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("prev").as("u"), col("o_orderkey").as("v"),
        (datediff(col("o_orderdate").cast("date"),
          col("prevd").cast("date")) + 1).cast("long").as("w"))
    chain.unionAll(bridgeEdges(s, dir).withColumn("w", lit(1L)))
  }

  /** Bounded multi-source min-plus shortest paths over a DIRECTED
    * (u, v, w) edge frame (w ≥ 0; symmetrize for undirected
    * semantics): (node, d) with d = min path weight from any seed over
    * paths of ≤ `rounds` edges. Delta Bellman–Ford: each round
    * relaxes only last round's improved nodes, min-merges into the
    * label table via one full-outer join, and the round count is a
    * query constant — no driver-side convergence probes. */
  private[graft] def ssspOf(edges: DataFrame, seeds: DataFrame,
                            rounds: Int): DataFrame = {
    val INF = Long.MaxValue
    // the edge table is probed once per relaxation round: cache it so
    // each round reads blocks instead of re-deriving the edge plan
    // (measured at sf0.1: the un-cached loop re-ran the window+union
    // edge build every round — ~0.4 s/round of pure recompute)
    val e = edges.cache()
    var dist = seeds.toDF("node").distinct().withColumn("d", lit(0L))
      .localCheckpoint(eager = false)
    var frontier = dist
    for (_ <- 1 to rounds) {
      // per-node min over candidate relaxations BEFORE the merge join:
      // partial aggregation shrinks the shuffle to ≤ one row per
      // touched node
      val cand = frontier.join(e, col("node") === col("u"))
        .select(col("v").as("node"), (col("d") + col("w")).as("nd"))
        .groupBy("node").agg(min("nd").as("nd"))
      val merged = dist.join(cand, Seq("node"), "full_outer")
        .select(col("node"),
          least(coalesce(col("d"), lit(INF)),
            coalesce(col("nd"), lit(INF))).as("d"),
          (coalesce(col("nd"), lit(INF)) <
            coalesce(col("d"), lit(INF))).as("improved"))
        .localCheckpoint(eager = false)
      frontier = merged.filter(col("improved")).select("node", "d")
      dist = merged.select("node", "d")
    }
    dist
  }

  /** Bounded multi-source BFS over a DIRECTED (u, v) edge frame
    * (symmetrize for undirected semantics): (node, d) with d = hop
    * distance to the nearest seed, for every node within `maxHops`.
    * Each round is one frontier ⋈ edges join plus an anti-join
    * against the visited set; the hop count is a query constant, so
    * the plan is maxHops chained joins with no driver-side
    * convergence probes. */
  private[graft] def bfsOf(edges: DataFrame, seeds: DataFrame,
                           maxHops: Int): DataFrame = {
    // the edge table is probed once per hop: cache it so each hop
    // reads blocks instead of re-deriving the edge plan (measured at
    // sf0.1: the un-cached loop re-ran the window+union edge build
    // every hop — ~0.4 s/hop of pure recompute)
    val e = edges.cache()
    val seed0 = seeds.toDF("node").distinct().withColumn("d", lit(0L))
      .localCheckpoint(eager = false)
    // visited stays a UNION of the per-hop checkpointed frontiers —
    // re-checkpointing the growing union per hop re-materialized the
    // whole distance table maxHops times (O(V·hops) block writes)
    var visited = List(seed0)
    var frontier = seed0.select("node")
    for (k <- 1 to maxHops) {
      val nxt = frontier.join(e, col("node") === col("u"))
        .select(col("v").as("node")).distinct()
        .join(visited.reduce(_ unionAll _), Seq("node"), "left_anti")
        .withColumn("d", lit(k.toLong))
        .localCheckpoint(eager = false)
      visited ::= nxt
      frontier = nxt.select("node")
    }
    visited.reverse.reduce(_ unionAll _)
  }

  /** Per-node triangle memberships of an (x, y) edge frame (any
    * orientation; self-loops and duplicates tolerated). Orients each
    * edge from its lower-(degree, id) endpoint — every triangle is
    * counted once at its lowest-degree corner and wedge fan-out is
    * bounded by out-degree ≤ O(√E) (arboricity), the hub guard.
    * Returns (node, n_triangles). */
  private[graft] def trianglesOf(edges0: DataFrame): DataFrame = {
    val edges = edges0.filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("x"),
        greatest(col("x"), col("y")).as("y"))
      .distinct().cache()
    val deg = edges.select(col("x").as("n"))
      .unionAll(edges.select(col("y").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // orient low→high by (degree, id); struct comparison keeps the
    // tie-break total
    val oriented = edges
      .join(deg.select(col("n").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("n").as("y"), col("d").as("dy")), "y")
      .select(
        when(struct(col("dx"), col("x")) < struct(col("dy"), col("y")),
          col("x")).otherwise(col("y")).as("src"),
        when(struct(col("dx"), col("x")) < struct(col("dy"), col("y")),
          col("y")).otherwise(col("x")).as("dst"))
      // cached: the wedge-close join reads the oriented edge set three
      // times (e1, e2, e3)
      .cache()
    val tri = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.dst") === col("e2.src"))
      .join(oriented.as("e3"),
        col("e1.src") === col("e3.src") && col("e2.dst") === col("e3.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-node counts of triangles in `g` (canonical x < y edges)
    * containing AT LEAST ONE edge of `delta` (a subset of g, same
    * canonical form). For each delta edge (a, b): candidates are a's
    * neighbors c (one hash join against the undirected view), closed
    * by a semi-join probe of the (b, c) edge; the sorted-triple
    * distinct counts each new triangle exactly once however many new
    * edges it contains. Candidate volume is Σ_{(a,b)∈Δ} deg(a) —
    * the incremental bound that makes nightly maintenance cheaper
    * than recount whenever |Δ| ≪ |E|. */
  private[graft] def triangleDelta(g: DataFrame,
                                   delta: DataFrame): DataFrame = {
    val und = g.select("x", "y")
      .unionAll(g.select(col("y").as("x"), col("x").as("y")))
    val cand = delta.select(col("x").as("a"), col("y").as("b")).as("d")
      .join(und.as("n"), col("a") === col("n.x"))
      .select(col("a"), col("b"), col("n.y").as("c"))
      .filter(col("c") =!= col("b"))
    val closed = cand.join(
      g.select(col("x").as("e1"), col("y").as("e2")),
      least(col("b"), col("c")) === col("e1") &&
        greatest(col("b"), col("c")) === col("e2"), "left_semi")
    val tris = closed.select(
        least(col("a"), col("b"), col("c")).as("t1"),
        (col("a") + col("b") + col("c")
          - least(col("a"), col("b"), col("c"))
          - greatest(col("a"), col("b"), col("c"))).as("t2"),
        greatest(col("a"), col("b"), col("c")).as("t3"))
      .distinct()
    tris.select(explode(array(col("t1"), col("t2"), col("t3"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Default midpoint fan-out cap for [[linkPredictOf]] — far above
    * any degree the thresholded co-supply graph produces (so the named
    * query's oracle is byte-identical, spec-asserted), low enough that
    * one hub caps at 512² = 262k wedges instead of deg². */
  private[graft] val HubCap = 512

  /** Top-k predicted links of an (x, y) edge frame by distinct
    * common-neighbor count; existing edges anti-joined out. Returns
    * (a, c, common_neighbors) best-first under the total
    * (score desc, a, c) order.
    *
    * HUB GUARD: the wedge join fans out deg(b)² pairs per midpoint b —
    * on a power-law graph one 10M-degree hub alone is 10¹⁴ wedges. Any
    * midpoint whose degree exceeds `hubCap` keeps only its `hubCap`
    * LOWEST-(degree, id) neighbors as wedge endpoints (the recall
    * contract: low-degree common neighbors are the informative ones —
    * the same weighting argument behind Adamic-Adar — and the
    * (degree, id) order keeps the cap deterministic). Bounded-degree
    * graphs (degree ≤ hubCap everywhere, e.g. the thresholded
    * co-supply graph) take the zero-cost branch: no window runs and
    * results are exact. Hub rows alone pay one partition-sort window —
    * O(deg log deg) per hub, never deg². */
  private[graft] def linkPredictOf(edges0: DataFrame, k: Int,
                                   hubCap: Int = HubCap): DataFrame = {
    val (open, _) = openWedgesOf(edges0, hubCap)
    open
      .groupBy("a", "c")
      // wedge triples (a, c, b) are UNIQUE by construction (the pool
      // is a distinct arc set and e1.y < e2.y picks each unordered
      // pair once per midpoint), so a plain count equals the distinct
      // midpoint count — countDistinct planned a second wedge-scale
      // exchange on (a, c, b) before the (a, c) aggregation
      .agg(count(lit(1)).as("common_neighbors"))
      .orderBy(col("common_neighbors").desc, col("a"), col("c"))
      .limit(k)
  }

  /** Adamic–Adar link scoring: same open wedges as [[linkPredictOf]],
    * but each distinct common neighbor b contributes 1/ln(deg(b)) —
    * a rare shared neighbor is strong evidence, a hub says nothing.
    * Fixed-point: per-neighbor weight round(10⁶/ln(d)) as BIGINT, the
    * score an integer sum (same cross-engine ln contract as the NB
    * classifier; deg(b) ≥ 2 for any wedge midpoint, so ln > 0).
    * Returns (a, c, aa_x1e6) best-first under (score desc, a, c).
    * The degree join is vertex-scale against the wedge midpoint — an
    * equi-join, no new fan-out; the hub guard story is inherited. */
  private[graft] def adamicAdarOf(edges0: DataFrame, k: Int,
                                  hubCap: Int = HubCap): DataFrame = {
    val (open, deg) = openWedgesOf(edges0, hubCap)
    // wedge triples are already distinct (see linkPredictOf) — the
    // .distinct() here was a full wedge-scale exchange for nothing
    open.select("a", "c", "b")
      .join(deg.select(col("x").as("b"), col("d")), "b")
      .withColumn("w",
        round(lit(1000000d) / log(col("d").cast("double"))).cast("long"))
      .groupBy("a", "c")
      .agg(sum(col("w")).as("aa_x1e6"))
      .orderBy(col("aa_x1e6").desc, col("a"), col("c"))
      .limit(k)
  }

  /** Shared wedge machinery for [[linkPredictOf]] / [[adamicAdarOf]]:
    * returns (open wedges (a, c, b) with existing edges anti-joined
    * out, full undirected degree table (x, d) — degrees BEFORE any
    * capping, so scorers weight by true degree). */
  private def openWedgesOf(edges0: DataFrame,
                           hubCap: Int): (DataFrame, DataFrame) = {
    val edges = edges0.filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("x"),
        greatest(col("x"), col("y")).as("y"))
      .distinct().cache()
    val und = edges.select("x", "y")
      .unionAll(edges.select(col("y").as("x"), col("x").as("y")))
    // GUARD PROBE: one aggregate over the cached edge list decides
    // whether any midpoint exceeds the cap — the scalar-config-fetch
    // pattern (Maintenance restatement uses it too). Bounded graphs
    // (the named co-supply query, spec-asserted) take the un-capped
    // plan VERBATIM — no degree join, no window, no perf tax — and
    // results are exact; only a graph that actually carries a hub pays
    // the ranking window. (An always-on window measured 2× slower on
    // the named query: it re-shapes the 90M-wedge self-join from a
    // hash probe of a narrow projection into sorted-partition
    // iteration.)
    val deg = und.groupBy("x").agg(count(lit(1)).as("d"))
    val maxDeg = deg.agg(max("d")).first().getLong(0)
    val pool =
      if (maxDeg <= hubCap) und
      else und
        // rank each midpoint's neighbors by (neighbor degree, id) and
        // keep the first hubCap — the recall contract prefers
        // low-degree common neighbors, the informative ones under the
        // Adamic-Adar weighting argument
        .join(deg.select(col("x").as("y"), col("d").as("dn")), "y")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("x")
            .orderBy(col("dn"), col("y"))))
        .filter(col("rn") <= hubCap)
        .select("x", "y")
    val wedges = pool.as("e1")
      .join(pool.as("e2"),
        col("e1.x") === col("e2.x") && col("e1.y") < col("e2.y"))
      .select(col("e1.y").as("a"), col("e2.y").as("c"),
        col("e1.x").as("b"))
    val open = wedges
      .join(edges.select(col("x").as("a"), col("y").as("c")),
        Seq("a", "c"), "left_anti")
    (open, deg)
  }

  /** One update as a DuckDB CTE (integer floor division `//`). */
  private def stepSql(prev: String, out: String): String =
    s"""${out}_in AS (
       |  SELECT e.dst, SUM(p.r // e.deg) AS inflow
       |  FROM edges e JOIN $prev p ON e.src = p.node
       |  GROUP BY e.dst),
       |$out AS (
       |  SELECT n.node,
       |    150000 + (85 * COALESCE(i.inflow, 0)) // 100 AS r
       |  FROM nodes n LEFT JOIN ${out}_in i ON n.node = i.dst)"""
      .stripMargin

  /** One PERSONALIZED update as a DuckDB CTE (seed-conditional base). */
  private def pprStepSql(prev: String, out: String): String =
    s"""${out}_in AS (
       |  SELECT e.dst, SUM(p.r // e.deg) AS inflow
       |  FROM edges e JOIN $prev p ON e.src = p.node
       |  GROUP BY e.dst),
       |$out AS (
       |  SELECT n.node,
       |    CASE WHEN n.is_seed THEN 150000 ELSE 0 END
       |      + (85 * COALESCE(i.inflow, 0)) // 100 AS r
       |  FROM fnodes n LEFT JOIN ${out}_in i ON n.node = i.dst)"""
      .stripMargin

  /** One peel round as a DuckDB CTE (window degrees, no joins —
    * mirrors the engine's round shape). */
  private def peelSql(prev: String, out: String, k: Int): String =
    s"""$out AS (
       |  SELECT u, v FROM (
       |    SELECT u, v,
       |      count(*) OVER (PARTITION BY u) AS du,
       |      count(*) OVER (PARTITION BY v) AS dv
       |    FROM $prev) t
       |  WHERE du >= $k AND dv >= $k)""".stripMargin

  val oracles: Map[String, String] = Map(
    // 12 unrolled peel rounds — far past this graph's measured
    // fixpoint (≤ 2 at sf0.01/sf0.1); once converged, further rounds
    // are identity, so the unroll equals the engine's fixpoint
    "gr_kcore" ->
      s"""WITH pairs AS (
         |  SELECT DISTINCT o.o_custkey * 2 AS cnode,
         |    l.l_suppkey * 2 + 1 AS snode
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |e0 AS (
         |  SELECT cnode AS u, snode AS v FROM pairs
         |  UNION ALL
         |  SELECT snode AS u, cnode AS v FROM pairs),
         |${(0 until 12).map(i => peelSql(s"e$i", s"e${i + 1}", 45))
            .mkString(",\n")}
         |SELECT u AS node, CAST(count(*) AS BIGINT) AS core_deg
         |FROM e12 GROUP BY u ORDER BY node""".stripMargin,

    "gr_ppr" ->
      s"""WITH pairs AS (
         |  SELECT DISTINCT o.o_custkey * 2 AS cnode,
         |    l.l_suppkey * 2 + 1 AS snode
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |directed AS (
         |  SELECT cnode AS src, snode AS dst FROM pairs
         |  UNION ALL
         |  SELECT snode AS src, cnode AS dst FROM pairs),
         |deg AS (SELECT src, count(*) AS deg FROM directed GROUP BY src),
         |edges AS (
         |  SELECT d.src, d.dst, g.deg FROM directed d
         |  JOIN deg g ON d.src = g.src),
         |nodes AS (SELECT DISTINCT src AS node FROM directed),
         |seeds AS (SELECT DISTINCT c_custkey * 2 AS node
         |          FROM customer WHERE c_nationkey = 1),
         |fnodes AS (
         |  SELECT n.node, s.node IS NOT NULL AS is_seed
         |  FROM nodes n LEFT JOIN seeds s ON n.node = s.node),
         |r0 AS (SELECT node,
         |    CASE WHEN is_seed THEN CAST($SCALE AS BIGINT) ELSE 0 END AS r
         |  FROM fnodes),
         |${pprStepSql("r0", "r1")},
         |${pprStepSql("r1", "r2")},
         |${pprStepSql("r2", "r3")},
         |top AS (
         |  SELECT node, CAST(r AS BIGINT) AS r FROM r3
         |  WHERE node % 2 = 1
         |  ORDER BY r DESC, node LIMIT 20)
         |SELECT CAST(row_number() OVER (ORDER BY r DESC, node)
         |    AS INTEGER) AS pos,
         |  (node - 1) // 2 AS s_suppkey,
         |  r AS rank_millionths
         |FROM top ORDER BY pos""".stripMargin,

    "gr_pagerank" ->
      s"""WITH pairs AS (
         |  SELECT DISTINCT o.o_custkey * 2 AS cnode,
         |    l.l_suppkey * 2 + 1 AS snode
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |directed AS (
         |  SELECT cnode AS src, snode AS dst FROM pairs
         |  UNION ALL
         |  SELECT snode AS src, cnode AS dst FROM pairs),
         |deg AS (SELECT src, count(*) AS deg FROM directed GROUP BY src),
         |edges AS (
         |  SELECT d.src, d.dst, g.deg FROM directed d
         |  JOIN deg g ON d.src = g.src),
         |nodes AS (SELECT DISTINCT src AS node FROM directed),
         |r0 AS (SELECT node, CAST($SCALE AS BIGINT) AS r FROM nodes),
         |${stepSql("r0", "r1")},
         |${stepSql("r1", "r2")},
         |${stepSql("r2", "r3")}
         |SELECT node,
         |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
         |    AS kind,
         |  CAST(r AS BIGINT) AS rank_millionths
         |FROM r3 ORDER BY node""".stripMargin,

    // Components via DuckDB's recursive CTE: reach(v, lbl) saturates to
    // every (node, reachable-node) pair inside a component (UNION
    // dedups, so it terminates), then min(lbl) is the component root —
    // an entirely different algorithm from the engine's star
    // contraction, which is the point of the cross-check.
    "gr_components" ->
      """WITH RECURSIVE chain AS (
        |  SELECT lag(o_orderkey) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS u,
        |    o_orderkey AS v
        |  FROM orders),
        |chainp AS (SELECT u, v FROM chain WHERE u IS NOT NULL),
        |firsts AS (
        |  SELECT o_custkey, min(o_orderkey) AS f FROM orders GROUP BY 1),
        |bridge AS (
        |  SELECT a.f AS u, b.f AS v FROM firsts a JOIN firsts b
        |  ON b.o_custkey = a.o_custkey + 1
        |    AND a.o_custkey // 10 = b.o_custkey // 10),
        |edges0 AS (
        |  SELECT u, v FROM chainp UNION ALL SELECT u, v FROM bridge),
        |edges AS (
        |  SELECT u, v FROM edges0 UNION SELECT v AS u, u AS v FROM edges0),
        |reach(v, lbl) AS (
        |  SELECT DISTINCT u AS v, u AS lbl FROM edges
        |  UNION
        |  SELECT e.u AS v, r.lbl FROM edges e JOIN reach r ON e.v = r.v),
        |comp AS (SELECT v, min(lbl) AS cluster_id FROM reach GROUP BY v)
        |SELECT cluster_id, count(*) AS n_orders
        |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin,

    // Triangles via the canonical id-ordered 3-way self-join (edges are
    // stored x < y, so e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) enumerates each
    // triangle exactly once); same data-derived threshold in integer
    // arithmetic. The engine's degree-ordered orientation enumerates
    // the identical triangle set.
    "gr_triangles" ->
      """WITH ds AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |p AS (
        |  SELECT l1.l_suppkey AS x, l2.l_suppkey AS y, count(*) AS cnt
        |  FROM ds l1 JOIN ds l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |      AND l1.l_suppkey < l2.l_suppkey
        |  GROUP BY 1, 2),
        |t AS (SELECT sum(cnt) // count(*) + 2 AS thr FROM p),
        |e AS (SELECT x, y FROM p, t WHERE cnt > thr),
        |tri AS (
        |  SELECT e1.x AS a, e1.y AS b, e2.y AS c
        |  FROM e e1 JOIN e e2 ON e1.y = e2.x
        |    JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
        |roles AS (
        |  SELECT a AS l_suppkey FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |SELECT l_suppkey, count(*) AS n_triangles
        |FROM roles GROUP BY 1 ORDER BY 1""".stripMargin,

    // the incremental path lands on the SAME final graph, so its oracle
    // is the from-scratch census verbatim
    "gr_components_incr" ->
      """WITH RECURSIVE chain AS (
        |  SELECT lag(o_orderkey) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS u,
        |    o_orderkey AS v
        |  FROM orders),
        |chainp AS (SELECT u, v FROM chain WHERE u IS NOT NULL),
        |firsts AS (
        |  SELECT o_custkey, min(o_orderkey) AS f FROM orders GROUP BY 1),
        |bridge AS (
        |  SELECT a.f AS u, b.f AS v FROM firsts a JOIN firsts b
        |  ON b.o_custkey = a.o_custkey + 1
        |    AND a.o_custkey // 10 = b.o_custkey // 10),
        |edges0 AS (
        |  SELECT u, v FROM chainp UNION ALL SELECT u, v FROM bridge),
        |edges AS (
        |  SELECT u, v FROM edges0 UNION SELECT v AS u, u AS v FROM edges0),
        |reach(v, lbl) AS (
        |  SELECT DISTINCT u AS v, u AS lbl FROM edges
        |  UNION
        |  SELECT e.u AS v, r.lbl FROM edges e JOIN reach r ON e.v = r.v),
        |comp AS (SELECT v, min(lbl) AS cluster_id FROM reach GROUP BY v)
        |SELECT cluster_id, count(*) AS n_orders
        |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin,

    // the incremental path maintains the census of the SAME final
    // graph, so its oracle is the from-scratch triangle count verbatim
    "gr_triangles_incr" ->
      """WITH ds AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |p AS (
        |  SELECT l1.l_suppkey AS x, l2.l_suppkey AS y, count(*) AS cnt
        |  FROM ds l1 JOIN ds l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |      AND l1.l_suppkey < l2.l_suppkey
        |  GROUP BY 1, 2),
        |t AS (SELECT sum(cnt) // count(*) + 2 AS thr FROM p),
        |e AS (SELECT x, y FROM p, t WHERE cnt > thr),
        |tri AS (
        |  SELECT e1.x AS a, e1.y AS b, e2.y AS c
        |  FROM e e1 JOIN e e2 ON e1.y = e2.x
        |    JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
        |roles AS (
        |  SELECT a AS l_suppkey FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |SELECT l_suppkey, count(*) AS n_triangles
        |FROM roles GROUP BY 1 ORDER BY 1""".stripMargin,

    // same thresholded edge set; wedges via the undirected view,
    // existing links anti-joined out before scoring
    "gr_link_predict" ->
      """WITH ds AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |p AS (
        |  SELECT l1.l_suppkey AS x, l2.l_suppkey AS y, count(*) AS cnt
        |  FROM ds l1 JOIN ds l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |      AND l1.l_suppkey < l2.l_suppkey
        |  GROUP BY 1, 2),
        |t AS (SELECT sum(cnt) // count(*) + 2 AS thr FROM p),
        |e AS (SELECT x, y FROM p, t WHERE cnt > thr),
        |und AS (SELECT x, y FROM e UNION ALL SELECT y, x FROM e),
        |wedges AS (
        |  SELECT e1.x AS a, e2.y AS c, e1.y AS b
        |  FROM und e1 JOIN und e2 ON e1.y = e2.x AND e1.x < e2.y),
        |open_w AS (
        |  SELECT w.a, w.c, w.b FROM wedges w
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM e WHERE e.x = w.a AND e.y = w.c))
        |SELECT a, c, count(DISTINCT b) AS common_neighbors
        |FROM open_w GROUP BY a, c
        |ORDER BY common_neighbors DESC, a, c
        |LIMIT 20""".stripMargin,

    "gr_adamic_adar" ->
      """WITH ds AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |p AS (
        |  SELECT l1.l_suppkey AS x, l2.l_suppkey AS y, count(*) AS cnt
        |  FROM ds l1 JOIN ds l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |      AND l1.l_suppkey < l2.l_suppkey
        |  GROUP BY 1, 2),
        |t AS (SELECT sum(cnt) // count(*) + 2 AS thr FROM p),
        |e AS (SELECT x, y FROM p, t WHERE cnt > thr),
        |und AS (SELECT x, y FROM e UNION ALL SELECT y, x FROM e),
        |deg AS (SELECT x AS node, CAST(count(*) AS BIGINT) AS d
        |        FROM und GROUP BY 1),
        |wedges AS (
        |  SELECT e1.x AS a, e2.y AS c, e1.y AS b
        |  FROM und e1 JOIN und e2 ON e1.y = e2.x AND e1.x < e2.y),
        |ow AS (
        |  SELECT DISTINCT w.a, w.c, w.b FROM wedges w
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM e WHERE e.x = w.a AND e.y = w.c))
        |SELECT a, c,
        |  CAST(SUM(CAST(round(1000000 / ln(d)) AS BIGINT)) AS BIGINT)
        |    AS aa_x1e6
        |FROM ow JOIN deg ON deg.node = ow.b
        |GROUP BY a, c
        |ORDER BY aa_x1e6 DESC, a, c
        |LIMIT 20""".stripMargin,

    // the same 3 vote rounds unrolled as CTEs (generated by the same
    // loop count as the engine side — one round constant, two engines)
    "gr_label_spread" -> {
      val rounds = (1 to 3).map { k =>
        val prev = if (k == 1) "l0" else s"l${k - 1}"
        s"""v$k AS (
           |  SELECT e.src, l.label, count(*) AS v
           |  FROM e JOIN $prev l
           |    ON l.node = e.dst AND l.label IS NOT NULL
           |  GROUP BY 1, 2),
           |b$k AS (
           |  SELECT src AS node, label AS voted FROM (
           |    SELECT src, label, row_number() OVER (PARTITION BY src
           |      ORDER BY v DESC, label) AS rn FROM v$k) q
           |  WHERE rn = 1),
           |l$k AS (
           |  SELECT n.node, coalesce(s.seed_label, b.voted) AS label
           |  FROM nodes n LEFT JOIN seeds s ON s.node = n.node
           |  LEFT JOIN b$k b ON b.node = n.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH ds AS (
         |  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         |p AS (
         |  SELECT l1.l_suppkey AS x, l2.l_suppkey AS y, count(*) AS cnt
         |  FROM ds l1 JOIN ds l2
         |    ON l1.l_orderkey = l2.l_orderkey
         |      AND l1.l_suppkey < l2.l_suppkey
         |  GROUP BY 1, 2),
         |t AS (SELECT sum(cnt) // count(*) + 2 AS thr FROM p),
         |e0 AS (SELECT x, y FROM p, t WHERE cnt > thr),
         |e AS (SELECT x AS src, y AS dst FROM e0
         |      UNION ALL SELECT y, x FROM e0),
         |nodes AS (SELECT DISTINCT src AS node FROM e),
         |seeds AS (
         |  SELECT s_suppkey AS node,
         |    CAST(s_nationkey AS BIGINT) AS seed_label
         |  FROM supplier WHERE s_suppkey % 10 = 0),
         |l0 AS (
         |  SELECT n.node, s.seed_label AS label
         |  FROM nodes n LEFT JOIN seeds s ON s.node = n.node),
         |$rounds
         |SELECT coalesce(label, -1) AS label,
         |  CAST(count(*) AS BIGINT) AS n_nodes,
         |  min(node) AS min_node, max(node) AS max_node
         |FROM l3 GROUP BY 1 ORDER BY label""".stripMargin
    },

    // BFS via a recursive CTE: the UNION dedups (node, d) pairs so the
    // recursion is bounded by 7·|nodes| rows; min(d) per node is the
    // true distance because every shorter path is also enumerated.
    "gr_bfs_dist" ->
      """WITH RECURSIVE chain AS (
        |  SELECT lag(o_orderkey) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS u,
        |    o_orderkey AS v
        |  FROM orders),
        |chainp AS (SELECT u, v FROM chain WHERE u IS NOT NULL),
        |firsts AS (
        |  SELECT o_custkey, min(o_orderkey) AS f FROM orders GROUP BY 1),
        |bridge AS (
        |  SELECT a.f AS u, b.f AS v FROM firsts a JOIN firsts b
        |  ON b.o_custkey = a.o_custkey + 1
        |    AND a.o_custkey // 10 = b.o_custkey // 10),
        |edges0 AS (
        |  SELECT u, v FROM chainp UNION ALL SELECT u, v FROM bridge),
        |edges AS (
        |  SELECT u, v FROM edges0 UNION SELECT v AS u, u AS v FROM edges0),
        |seeds AS (
        |  SELECT min(o_orderkey) AS node FROM orders
        |  WHERE o_custkey % 50 = 0 GROUP BY o_custkey),
        |bfs(node, d) AS (
        |  SELECT node, 0 FROM seeds
        |  UNION
        |  SELECT e.v, bfs.d + 1 FROM bfs JOIN edges e ON e.u = bfs.node
        |  WHERE bfs.d < 6),
        |best AS (SELECT node, min(d) AS d FROM bfs GROUP BY node)
        |SELECT CAST(d AS BIGINT) AS d,
        |  CAST(count(*) AS BIGINT) AS n_nodes,
        |  min(node) AS min_key, max(node) AS max_key
        |FROM best GROUP BY d ORDER BY d""".stripMargin,

    // min-plus replay: enumerate every ≤6-edge path's weight with a
    // hop-counted recursive CTE (UNION dedups identical (node, d, h)
    // states) and take the per-node minimum — a different algorithm
    // (path enumeration) from the engine's delta Bellman–Ford.
    "gr_sssp_bounded" ->
      """WITH RECURSIVE chain AS (
        |  SELECT lag(o_orderkey) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS u,
        |    o_orderkey AS v,
        |    date_diff('day',
        |      lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate, o_orderkey),
        |      CAST(o_orderdate AS DATE)) + 1 AS w
        |  FROM orders),
        |chainp AS (SELECT u, v, w FROM chain WHERE u IS NOT NULL),
        |firsts AS (
        |  SELECT o_custkey, min(o_orderkey) AS f FROM orders GROUP BY 1),
        |bridge AS (
        |  SELECT a.f AS u, b.f AS v, 1 AS w FROM firsts a JOIN firsts b
        |  ON b.o_custkey = a.o_custkey + 1
        |    AND a.o_custkey // 10 = b.o_custkey // 10),
        |edges0 AS (
        |  SELECT u, v, w FROM chainp
        |  UNION ALL SELECT u, v, w FROM bridge),
        |edges AS (
        |  SELECT u, v, w FROM edges0
        |  UNION SELECT v AS u, u AS v, w FROM edges0),
        |seeds AS (
        |  SELECT min(o_orderkey) AS node FROM orders
        |  WHERE o_custkey % 50 = 0 GROUP BY o_custkey),
        |walk(node, d, h) AS (
        |  SELECT node, 0, 0 FROM seeds
        |  UNION
        |  SELECT e.v, walk.d + e.w, walk.h + 1
        |  FROM walk JOIN edges e ON e.u = walk.node
        |  WHERE walk.h < 6),
        |best AS (SELECT node, min(d) AS d FROM walk GROUP BY node)
        |SELECT CAST(d // 16 AS BIGINT) AS band,
        |  CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(min(d) AS BIGINT) AS min_d, CAST(max(d) AS BIGINT) AS max_d,
        |  min(node) AS min_key, max(node) AS max_key
        |FROM best GROUP BY 1 ORDER BY band""".stripMargin
  )
}
