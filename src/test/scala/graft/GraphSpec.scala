package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pagerank: hub outranks leaves, damped floor arithmetic is exact") {
    // star: hub 1 ↔ leaves 3,5,7 (odd/even parity irrelevant here)
    val pairs = Seq((0L, 3L), (0L, 5L), (0L, 7L))
    val directed = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val deg = directed.groupBy("src").agg(count(lit(1)).as("deg"))
    val edges = directed.join(deg, "src").cache()
    val nodes = edges.select(col("src").as("node")).distinct()
    val r0 = nodes.withColumn("r", lit(1000000L))
    val r = (1 to 3).foldLeft(r0)((acc, _) => Graph.step(edges, acc))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // hand replay: leaves each send r/1, hub sends r/3 to each leaf
    // i1: hub = 150000 + 85*3000000/100 = 2700000
    //     leaf = 150000 + 85*(1000000/3=333333)/100 = 433333
    assert(r(0L) > r(3L))
    assert(r(3L) === r(5L) && r(5L) === r(7L))
    // exact replay of the integer recurrence
    var hub = 1000000L; var leaf = 1000000L
    for (_ <- 1 to 3) {
      val nh = 150000L + 85L * (3 * leaf) / 100
      val nl = 150000L + 85L * (hub / 3) / 100
      hub = nh; leaf = nl
    }
    assert(r(0L) === hub)
    assert(r(3L) === leaf)
  }

  test("star contraction equals union-find on chain-heavy graphs") {
    // a 45-node path, a 40-node cycle, a 30-leaf star, random edges —
    // star contraction must produce the identical component labeling
    val path = (0L until 44L).map(i => (i, i + 1))
    val cycle = (200L until 239L).map(i => (i, i + 1)) :+ (239L, 200L)
    val star = (301L to 330L).map(i => (300L, i))
    val rnd = new scala.util.Random(7)
    val rand = Seq.fill(60)((400L + rnd.nextInt(80), 400L + rnd.nextInt(80)))
      .filter { case (a, b) => a != b }
    val edges = path ++ cycle ++ star ++ rand
    val viaStar = operators.Graph.starComponents(edges.toDF("id1", "id2"))
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(viaStar === UnionFind.labels(edges))
    // sanity: the path really is one component rooted at its min
    assert(viaStar(44L) === 0L)
    assert(viaStar(239L) === 200L)
  }

  test("star contraction conquers a path label propagation cannot") {
    // diameter 499: min-label propagation would need ~500 rounds (one
    // per hop), star contraction's 30-round cap is ample at O(log d)
    val path = (0L until 499L).map(i => (i, i + 1)).toDF("id1", "id2")
    val labels = operators.Graph.starComponents(path)
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(labels.size === 500)
    assert(labels.values.toSet === Set(0L))
  }

  test("gr_components census equals union-find on the lake graph") {
    val edges = operators.Graph.orderChainEdges(spark, sf).select("u", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaStar = Graph.queries("gr_components")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStar === UnionFind.census(edges))
    assert(viaStar.nonEmpty)
  }

  test("incremental components equal from-scratch and converge faster") {
    val full = Graph.queries("gr_components")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fullRounds = operators.Graph.lastRounds
    val incr = Graph.queries("gr_components_incr")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val incrRounds = operators.Graph.lastRounds
    assert(incr === full)
    // yesterday's graph arrives pre-contracted: the re-run converges in
    // strictly fewer rounds than the from-scratch contraction
    assert(incrRounds < fullRounds,
      s"incr $incrRounds vs full $fullRounds")
  }

  test("star contraction pays one action per round (no init action)") {
    // the convergence test is folded into each round's single
    // materialize-and-test action (depth-1-forest shape test on next
    // itself — no join against e, no initial count: the first round's
    // action materializes the input checkpoint) — a path graph
    // converging in R rounds must cost exactly R MATERIALIZING
    // actions, not the 3R of an eager checkpoint + count +
    // anti-join-count loop. A lazy Dataset.localCheckpoint
    // also emits a listener event without running any job — filter
    // those bookkeeping entries out by funcName.
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = names.add(funcName)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = names.add(funcName)
    }
    // the listener is notified asynchronously — poll until the count
    // is stable for 500 ms
    def settled(): Seq[String] = {
      var prev = -1
      var cur = names.size()
      var spins = 0
      while (cur != prev && spins < 20) {
        prev = cur; Thread.sleep(500); cur = names.size(); spins += 1
      }
      import scala.jdk.CollectionConverters._
      names.asScala.toSeq
    }
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("id1", "id2")
    spark.listenerManager.register(listener)
    try {
      Graph.starComponents(path) // internal loop actions run eagerly
      val all = settled()
      val actions = all.count(n => !n.toLowerCase.contains("checkpoint"))
      val rounds = Graph.lastRounds
      assert(rounds >= 2)
      assert(actions === rounds,
        s"$actions materializing actions ($all) for $rounds rounds — " +
          "fixpoint not folded in")
    } finally spark.listenerManager.unregister(listener)
  }

  test("link prediction hub guard: capped fan-out, exact when bounded") {
    // power-law shape: one hub of degree 2000 — uncapped, the midpoint
    // wedge join would emit C(2000,2) ≈ 2M pairs through it; the guard
    // keeps the hub's 64 lowest-(degree, id) neighbors, so leaf pairs
    // from {1..64} are the only predictions and top-k under
    // (score desc, a, c) is hand-computable
    val hub = (1L to 2000L).map(i => (0L, i))
    val e = hub.toDF("x", "y")
    val top = Graph.linkPredictOf(e, 5, hubCap = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(top.toSeq === Seq((1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 1L),
      (1L, 5L, 1L), (1L, 6L, 1L)))
    // and the capped pool really is {1..64}: no prediction touches a
    // leaf above the cap
    val all = Graph.linkPredictOf(e, 10000, hubCap = 64).collect()
    assert(all.length === 64L * 63L / 2)
    assert(all.forall(r => r.getLong(0) <= 64L && r.getLong(1) <= 64L))
    // a graph whose degrees stay under the cap takes the exact branch:
    // same two-hubs fixture as the brute-force test above
    val bounded = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 10L), (2L, 11L), (2L, 12L),
      (3L, 10L), (1L, 2L)).toDF("x", "y")
    val capped = Graph.linkPredictOf(bounded, 100, hubCap = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val exact = Graph.linkPredictOf(bounded, 100, hubCap = 1 << 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(capped === exact)
    assert(capped((10L, 11L)) === 2L && !capped.contains((1L, 2L)))
    // the named query's graph never engages the guard: co-supply
    // degrees sit far under HubCap, so gr_link_predict stays exact
    val cos = Graph.coSupplyEdges(spark, sf)
    val maxDeg = cos.select(col("x").as("n"))
      .unionAll(cos.select(col("y").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .agg(max("d")).collect().head.getLong(0)
    assert(maxDeg < Graph.HubCap, s"co-supply max degree $maxDeg")
  }

  test("link prediction: common-neighbor scores equal brute force") {
    // two hubs sharing 3 neighbors, plus a chain: hand-checkable wedges
    val edges = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),   // hub 1
      (2L, 10L), (2L, 11L), (2L, 12L),   // hub 2 — cn(1,2) = 3
      (3L, 10L),                         // cn(3, 1) = cn(3, 2) = 1
      (1L, 2L)                           // existing link: must be excluded
    ).toDF("x", "y")
    val und = edges.select("x", "y")
      .unionAll(edges.select(col("y").as("x"), col("x").as("y")))
    val wedges = und.as("e1")
      .join(und.as("e2"),
        col("e1.y") === col("e2.x") && col("e1.x") < col("e2.y"))
      .select(col("e1.x").as("a"), col("e2.y").as("c"),
        col("e1.y").as("b"))
    val scored = wedges
      .join(edges.select(col("x").as("a"), col("y").as("c")),
        Seq("a", "c"), "left_anti")
      .groupBy("a", "c").agg(countDistinct(col("b")).as("cn"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // (1,2) is an EXISTING edge: excluded despite 3 common neighbors
    assert(!scored.contains((1L, 2L)))
    assert(scored((1L, 3L)) === 1L && scored((2L, 3L)) === 1L)
    // neighbors of the same hub share that hub: (10,11) via 1 and 2
    assert(scored((10L, 11L)) === 2L)
  }

  test("triangle counts: degree-ordered orientation equals brute force") {
    // K4 ∪ a triangle ∪ a square (no triangles) ∪ a pendant
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), // K4: 4
      (10L, 11L), (11L, 12L), (10L, 12L),                         // tri: 1
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 20L),             // square
      (1L, 99L))                                                  // pendant
    val e = edges.toDF("x", "y")
    val deg = e.select(col("x").as("n")).unionAll(e.select(col("y").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val oriented = e
      .join(deg.select(col("n").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("n").as("y"), col("d").as("dy")), "y")
      .select(
        when(struct(col("dx"), col("x")) < struct(col("dy"), col("y")),
          col("x")).otherwise(col("y")).as("src"),
        when(struct(col("dx"), col("x")) < struct(col("dy"), col("y")),
          col("y")).otherwise(col("x")).as("dst"))
    val tri = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.dst") === col("e2.src"))
      .join(oriented.as("e3"),
        col("e1.src") === col("e3.src") && col("e2.dst") === col("e3.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
    assert(tri.count() === 5L) // C(4,3) + 1
    // per-node: K4 corners sit in 3 each, the lone triangle's in 1 each
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("n"))
      .groupBy("n").count().collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(perNode(1L) === 3L && perNode(4L) === 3L)
    assert(perNode(10L) === 1L)
    assert(!perNode.contains(20L) && !perNode.contains(99L))
  }

  test("triangle delta: old census + stabbed triangles == full recount") {
    // K5 ∪ triangle ∪ square, canonical x < y; three delta splits,
    // including one where a triangle is entirely new (all 3 edges in
    // the batch — the triple-dedup case) and one empty delta
    val all = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (2L, 3L), (2L, 4L),
      (2L, 5L), (3L, 4L), (3L, 5L), (4L, 5L),             // K5: 10 tris
      (10L, 11L), (11L, 12L), (10L, 12L),                 // triangle
      (20L, 21L), (21L, 22L), (22L, 23L), (20L, 23L))     // square
    val g = all.toDF("x", "y")
    val full = Graph.trianglesOf(g)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (pred <- Seq[((Long, Long)) => Boolean](
      { case (a, b) => (a + b) % 3 == 0 },      // scattered batch
      { case (a, b) => a >= 10 },               // whole triangle is new
      { case _ => false })) {                   // empty batch
      val delta = all.filter(pred).toDF("x", "y")
      val old = Graph.trianglesOf(all.filterNot(pred).toDF("x", "y"))
      val incr = old.unionAll(Graph.triangleDelta(g, delta))
        .groupBy("node").agg(sum("n_triangles").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(incr === full, s"split $pred")
    }
  }

  test("pagerank on the lake graph: mass conserved within floor loss") {
    val ranks = Graph.queries("gr_pagerank")(spark, sf)
      .agg(sum("rank_millionths"), count(lit(1))).collect().head
    val total = ranks.getLong(0)
    val n = ranks.getLong(1)
    // each iteration redistributes ~all mass: total stays within
    // [0.85·n·base, n·base] — floor losses only ever shrink it
    assert(total <= n * 1000000L)
    assert(total > (n * 1000000L * 7) / 10)
    // both partitions of the bipartite graph are ranked
    val kinds = Graph.queries("gr_pagerank")(spark, sf)
      .select("kind").distinct().collect().map(_.getString(0)).toSet
    assert(kinds === Set("customer", "supplier"))
  }

  test("personalized pagerank: exact integer replay, locality property") {
    import spark.implicits._
    // two 4-cycles joined by one bridge edge; seeds in the left cycle
    //   left: 1-2-3-4-1   bridge: 4-5   right: 5-6-7-8-5
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (4L, 5L),
      (5L, 6L), (6L, 7L), (7L, 8L), (8L, 5L))
    val directed = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val got = Graph.personalizedPagerankOf(directed, seeds, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exact local replay of the integer fixed-point
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2) }
    var r = (1L to 8L).map(n => n -> (if (n == 1L) 1000000L else 0L)).toMap
    for (_ <- 1 to 3) {
      val inflow = adj.toSeq.flatMap { case (src, dsts) =>
        dsts.map(d => d -> r(src) / dsts.size)
      }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
      r = (1L to 8L).map(n => n ->
        ((if (n == 1L) 150000L else 0L) +
          85L * inflow.getOrElse(n, 0L) / 100L)).toMap
    }
    assert(got === r)
    // locality: every left-cycle node outranks every right-cycle node
    val left = Seq(1L, 2L, 3L, 4L).map(got)
    val right = Seq(5L, 6L, 7L, 8L).map(got)
    assert(left.min > right.max)
    // gr_ppr surfaces suppliers only, ranked deterministically (the
    // sf0.001 graph has only 10 suppliers, under the LIMIT 20)
    val named = Graph.queries("gr_ppr")(spark, sf).collect()
    assert(named.length >= 10 && named.length <= 20)
    assert(named.map(_.getInt(0)).toSeq === (1 to named.length))
    val rm = named.map(_.getLong(2))
    assert(rm.zip(rm.tail).forall { case (a, b) => a >= b })
  }

  test("k-core: pendant-path cascade peels one node per round, " +
    "core equals brute-force fixpoint") {
    import spark.implicits._
    // K6 clique (a 5-core) with a 5-node pendant path off node 1:
    // k=2 must cascade from the path's tip, one node per round
    val clique = for (a <- 1L to 6L; b <- 1L to 6L if a < b) yield (a, b)
    val path = Seq((1L, 10L), (10L, 11L), (11L, 12L), (12L, 13L),
      (13L, 14L))
    val und = clique ++ path
    val directed = (und ++ und.map(_.swap)).toDF("u", "v")
    val got = Graph.kcoreOf(directed, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 2-core = the clique alone, every member at degree 5
    assert(got === (1L to 6L).map(_ -> 5L).toMap)
    // the cascade is real: ≥ 5 peel rounds (one per path node) + the
    // final no-change round
    assert(Graph.kcoreRounds >= 5, s"rounds ${Graph.kcoreRounds}")
    // brute-force fixpoint replay on the named query's real graph
    val pairs = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(spark.read.parquet(s"$sf/lineitem.parquet")
        .select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"),
        (col("l_suppkey") * 2 + 1).as("s"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    var edges = (pairs ++ pairs.map(_.swap)).toSet
    var done = false
    while (!done) {
      val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size }
      val keep = deg.filter(_._2 >= 45).keySet
      val next = edges.filter(e => keep(e._1) && keep(e._2))
      done = next == edges
      edges = next
    }
    val want = edges.groupBy(_._1)
      .map { case (n, es) => n -> es.size.toLong }
    val named = Graph.queries("gr_kcore")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(named === want)
  }

  test("adamic-adar: hand-computed degree-discounted scores; hub cap " +
      "and open-wedge set shared with link prediction") {
    // two strong pairs via deg-4 midpoints, one weak pair via a deg-3
    // midpoint; (1,2) is an existing edge and must not be predicted
    val e = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 10L), (2L, 11L), (2L, 12L),
      (3L, 10L), (1L, 2L)).toDF("x", "y")
    def w(d: Long) = math.round(1000000d / math.log(d.toDouble))
    val got = Graph.adamicAdarOf(e, 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // midpoints 1 and 2 both have degree 4; midpoint 10 degree 3
    val strong = 2 * w(4)
    assert(got === Map(
      (10L, 11L) -> strong, (10L, 12L) -> strong, (11L, 12L) -> strong,
      (1L, 3L) -> w(3), (2L, 3L) -> w(3)))
    // same open-wedge machinery as linkPredictOf: identical pair sets
    val cn = Graph.linkPredictOf(e, 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.keySet === cn)
    // the hub guard is inherited: a 2000-degree hub stays bounded and
    // every scored pair comes from the capped low-id pool
    val hub = (1L to 2000L).map(i => (0L, i)).toDF("x", "y")
    val capped = Graph.adamicAdarOf(hub, 10000, hubCap = 64).collect()
    assert(capped.length === 64 * 63 / 2)
    assert(capped.forall(r => r.getLong(0) <= 64 && r.getLong(1) <= 64))
    // each pair's only common neighbor is the deg-2000 hub itself
    assert(capped.forall(_.getLong(2) === w(2000)))
  }

  test("bounded BFS census equals a driver-side multi-source BFS") {
    val edges = Graph.orderChainEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    val seeds = Tables(spark, sf, "orders")
      .filter(col("o_custkey") % 50 === 0)
      .groupBy("o_custkey").agg(min("o_orderkey").as("n"))
      .collect().map(_.getLong(1)).toSet
    // classic queue BFS, capped at 6 hops
    val dist = scala.collection.mutable.Map(seeds.toSeq.map(_ -> 0L): _*)
    var frontier = seeds
    for (k <- 1 to 6) {
      frontier = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
        .filterNot(dist.contains)
      frontier.foreach(n => dist(n) = k.toLong)
    }
    val want = dist.toSeq.groupBy(_._2).map { case (d, v) =>
      d -> (v.length.toLong, v.map(_._1).min, v.map(_._1).max) }
    val got = Graph.queries("gr_bfs_dist")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got === want)
    assert(got.keySet === (0L to 6L).toSet) // every hop level populated
  }

  test("bounded SSSP equals a driver-side Bellman-Ford over the " +
      "weighted chain graph") {
    val edges = Graph.weightedChainEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(edges.forall(_._3 >= 1L)) // day gaps are ≥ 1 by construction
    val sym = edges ++ edges.map(e => (e._2, e._1, e._3))
    val adj = sym.groupBy(_._1)
      .map { case (k, v) => k -> v.map(e => (e._2, e._3)) }
    val seeds = Tables(spark, sf, "orders")
      .filter(col("o_custkey") % 50 === 0)
      .groupBy("o_custkey").agg(min("o_orderkey").as("n"))
      .collect().map(_.getLong(1)).toSet
    // classic round-synchronous Bellman-Ford, 6 relaxation rounds =
    // min cost over ≤6-edge paths
    var dist = scala.collection.immutable.Map(
      seeds.toSeq.map(_ -> 0L): _*)
    for (_ <- 1 to 6) {
      val cand = dist.toSeq.flatMap { case (n, d) =>
        adj.getOrElse(n, Array.empty[(Long, Long)])
          .map { case (v, w) => v -> (d + w) } }
      val best = cand.groupBy(_._1).map { case (v, xs) =>
        v -> xs.map(_._2).min }
      dist = (dist.toSeq ++ best.toSeq).groupBy(_._1)
        .map { case (v, xs) => v -> xs.map(_._2).min }
    }
    val want = dist.toSeq.groupBy(_._2 / 16).map { case (b, v) =>
      b -> (v.length.toLong, v.map(_._2).min, v.map(_._2).max,
        v.map(_._1).min, v.map(_._1).max) }
    val got = Graph.queries("gr_sssp_bounded")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got === want)
    // weighted distances must refine the hop metric: some node beyond
    // band 0 exists (a 6-hop path can cost ≫ 16 days)
    assert(got.keySet.exists(_ > 0L))
  }

  test("labelSpreadOf: clamped votes and the min-label tie-break") {
    import spark.implicits._
    // path 1-2-3-4-5-6 with seeds 1→100, 6→200: after 3 rounds the
    // middle pair 3/4 each sees one 100-vote and one 200-vote — the
    // deterministic tie-break must pick the smaller label for BOTH
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("x", "y")
    val seeds = Seq((1L, 100L), (6L, 200L)).toDF("node", "label")
    val got = graft.operators.Graph.labelSpreadOf(edges, seeds, 3)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got === Map(1L -> 100L, 2L -> 100L, 3L -> 100L,
      4L -> 100L, 5L -> 200L, 6L -> 200L))
    // an isolated seedless fragment stays unlabeled at any round count
    val frag = graft.operators.Graph.labelSpreadOf(
      Seq((7L, 8L)).toDF("x", "y"), seeds, 3)
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(frag === Map(7L -> true, 8L -> true))
  }
}
