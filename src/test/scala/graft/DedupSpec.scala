package graft

import graft.operators.{Dedup, Graph}

class DedupSpec extends SparkSpec {

  test("jaccard_meets: sound and exact against brute-force sets " +
    "(random sorted arrays, seeded)") {
    // the verify expression's three-phase contract: ≥0 = the EXACT
    // |∩| of a qualifying pair (never wrong, never missed — phases 1/2
    // are sound by theorem), −1 = merge-disqualified, −2 = pruned by
    // length/suffix filter before any merge work; the suffix filter
    // must fire on some junk pair (the measured cut exists)
    import org.apache.spark.sql.catalyst.util.ArrayData
    val rnd = new scala.util.Random(20261118L)
    var prunedPreMerge = 0
    var qualified = 0
    for (_ <- 1 to 3000) {
      val universe = 1 + rnd.nextInt(120)
      def mk(): Array[Long] = (0 until universe)
        .filter(_ => rnd.nextDouble() < 0.2 + rnd.nextDouble() * 0.6)
        .map(_.toLong).toArray // sorted, distinct by construction
      val (a, b0) = (mk(), mk())
      // sometimes make b a near-copy so qualifying pairs occur
      val b = if (rnd.nextBoolean()) b0
        else a.filter(_ => rnd.nextDouble() < 0.9)
      val res = graft.functions.SetOverlap.jaccardMeets(
        ArrayData.toArrayData(a), ArrayData.toArrayData(b))
      val inter = a.toSet.intersect(b.toSet).size
      val meets = 3L * inter >= a.length + b.length
      if (meets) {
        assert(res == inter.toLong,
          s"qualifying pair: got $res want $inter (na=${a.length}, " +
            s"nb=${b.length})")
        qualified += 1
      } else {
        assert(res == -1L || res == -2L,
          s"non-qualifying pair must return -1/-2, got $res")
        if (res == -2L) prunedPreMerge += 1
      }
    }
    assert(qualified > 100, s"only $qualified qualifying pairs")
    assert(prunedPreMerge > 100,
      s"suffix/length filter never fired ($prunedPreMerge)")
  }

  test("asymmetric-prefix candidates contain EVERY true J >= 1/2 pair " +
    "(recall exact by theorem, random corpora, seeded)") {
    // round 11 moved jaccardCandidates to PPJoin's asymmetric prefixes
    // (probe = first floor(n/2)+1 of the larger doc, index = first
    // n - ceil(2n/3) + 1 of the smaller); the recall theorem is exact,
    // so the candidate set must be a SUPERSET of the true pair set on
    // any corpus — checked against a brute-force all-pairs scan over
    // random near-dup-heavy corpora
    import spark.implicits._
    val rnd = new scala.util.Random(20261119L)
    for (round <- 1 to 3) {
      val nDocs = 60 + rnd.nextInt(40)
      val universe = 40 + rnd.nextInt(80)
      val docs: Map[Long, Set[Long]] = (1L to nDocs).map { d =>
        // families of near-copies: base set per d/4, per-doc mutation
        val base = new scala.util.Random(round * 1000 + d / 4)
        val core = (0 until universe)
          .filter(_ => base.nextDouble() < 0.4).map(_.toLong).toSet
        val mutated = core.filter(_ => rnd.nextDouble() > 0.1) ++
          (0 until universe).filter(_ => rnd.nextDouble() < 0.05)
            .map(_.toLong)
        d -> mutated.filter(_ => true)
      }.toMap.filter(_._2.nonEmpty)
      val sh = docs.toSeq.flatMap { case (d, s) => s.map(d -> _) }
        .toDF("doc_id", "shingle")
      val cand = Dedup.jaccardCandidates(sh)
        .select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val ids = docs.keys.toSeq.sorted
      val truth = (for {
        i <- ids.indices; j <- (i + 1) until ids.length
        a = docs(ids(i)); b = docs(ids(j))
        inter = (a & b).size
        if 3 * inter >= a.size + b.size // J >= 1/2
      } yield (ids(i), ids(j))).toSet
      assert(truth.subsetOf(cand),
        s"round $round: missed true pairs ${truth -- cand}")
      assert(truth.nonEmpty, s"round $round: degenerate corpus")
    }
  }

  test("dd_exact keeps one survivor per normalized text") {
    val out = Dedup.queries("dd_exact")(spark, sf).collect()
    val total = out.map(_.getAs[Long]("n_copies")).sum
    assert(total === Tables(spark, sf, "documents").count())
    assert(out.map(_.getAs[Long]("keep_id")).distinct.length === out.length)
  }

  test("minhash-LSH candidates agree with exact jaccard near-dups") {
    val mh = Dedup.queries("dd_minhash_lsh")(spark, sf).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    val jc = Dedup.queries("dd_ngram_jaccard")(spark, sf).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    assert(mh.nonEmpty, "expected planted near-duplicates")
    // high-signature-agreement pairs should be true near-dups and so
    // appear in the exact-jaccard output (estimates can differ on the
    // J≈0.5 boundary, so require strong agreement, not equality)
    val strong = Dedup.queries("dd_minhash_lsh")(spark, sf).collect()
      .filter(_.getAs[Int]("n_match") === 9)
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    assert(strong.subsetOf(jc), s"strong minhash pairs missing: ${strong -- jc}")
  }

  test("simhash pairs are ordered, deduped, within hamming bound") {
    val rows = Dedup.queries("dd_simhash")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("id1") < r.getAs[Long]("id2"))
      assert(r.getAs[Int]("ham") <= 2)
    }
    val pairs = rows.map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")))
    assert(pairs.distinct.length === pairs.length)
  }

  test("dd_cluster: components cover the pair graph, min-id labeled") {
    val pairs = Dedup.queries("dd_minhash_lsh")(spark, sf).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")))
    val clusters = Dedup.queries("dd_cluster")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(clusters.nonEmpty)
    // every paired doc is labeled, both ends of an edge share a label,
    // and the label is the minimum member of its cluster
    pairs.foreach { case (a, b) =>
      assert(clusters.contains(a) && clusters.contains(b))
      assert(clusters(a) === clusters(b), s"edge ($a,$b) split")
    }
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(cid === members.keys.min)
    }
    // leakage-free split: whole clusters on one side, totals preserved
    val split = Dedup.queries("split_leakage_free")(spark, sf).collect()
      .map(r => r.getAs[String]("split") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_clusters"))).toMap
    val nDocs = Tables(spark, sf, "documents").count()
    assert(split.values.map(_._1).sum === nDocs)
    assert(split.keySet.subsetOf(Set("train", "eval")))
  }

  test("star-forest cluster merge == full recompute on random " +
    "old/new splits (round 13)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the dd_cluster_incr law on RANDOM corpora, beyond the fixed
    // oracle corpus: components(stars(old pairs) ∪ (all×new pairs))
    // must equal components(all pairs) for any split — the star
    // forest preserves old connectivity, the probe covers the rest
    val rnd = new scala.util.Random(20260816L)
    for (trial <- 1 to 3) {
      // 40 docs drawn from 8 base texts under random rotation (the
      // soak's near-dup family shape): rotations share most 3-gram
      // shingles, so every family is a dup cluster
      val bases = (0 until 8).map(b =>
        (0 until 8).map(j => s"w${b}_$j").mkString(" "))
      val docs = (0L until 40L).map { i =>
        val w = bases(rnd.nextInt(8)).split(" ")
        val rot = rnd.nextInt(3)
        (i, (w.drop(rot) ++ w.take(rot)).mkString(" "))
      }.toDF("doc_id", "text")
      val full = Graph.starComponents(
          Dedup.minhashPairsOf(docs).select("id1", "id2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val oldDocs = docs.filter(col("doc_id") % 3 =!= trial % 3)
      val newDocs = docs // probe side: all signatures vs new batch
      val oldStars = Graph.starComponents(
          Dedup.minhashPairsOf(oldDocs).select("id1", "id2"))
        .filter(col("node") =!= col("cluster_id"))
        .select(col("node").as("id1"), col("cluster_id").as("id2"))
      // all×new + new×new pairs, mirroring incrementalScored's shape
      val bandsAll = Dedup.bandedSignaturesOf(docs)
      val bandsNew = Dedup.bandedSignaturesOf(
        docs.filter(col("doc_id") % 3 === trial % 3))
      def keyed(df: org.apache.spark.sql.DataFrame, id: String,
                p: String) = df.toDF(
        id +: (1 to Dedup.K).map(i => s"$p$i") :+ "band" :+ "bv": _*)
      val nMatch = (1 to Dedup.K).map(i =>
        (col(s"a$i") === col(s"b$i")).cast("int")).reduce(_ + _)
      // =!= not <: an (old 5, new 3) pair only appears with the ALL
      // side on the left, so an ordered filter would drop it —
      // components symmetrizes edges, duplicates are harmless
      val probe = keyed(bandsAll, "id1", "a")
        .join(keyed(bandsNew, "id2", "b"), Seq("band", "bv"))
        .filter(col("id1") =!= col("id2"))
        .select(col("id1"), col("id2"), nMatch.as("n_match"))
        .distinct()
        .filter(col("n_match") >= 6)
        .select("id1", "id2")
      val merged = Graph.starComponents(oldStars.unionAll(probe))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(merged === full, s"trial $trial: $merged != $full")
      assert(full.nonEmpty, s"trial $trial degenerate (no pairs)")
    }
  }

  test("incremental dedup = full pair set restricted to the new batch") {
    val full = Dedup.queries("dd_minhash_lsh")(spark, sf).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"),
        r.getAs[Int]("n_match"))).toSet
    val inc = Dedup.queries("dd_incremental")(spark, sf).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"),
        r.getAs[Int]("n_match"))).toSet
    val expected = full.filter(p => p._1 % 5 == 0 || p._2 % 5 == 0)
    assert(inc === expected)
    assert(inc.nonEmpty) // the slice must actually exercise the probe
  }

  test("degenerate all-identical corpus: bucket window bounds candidates") {
    // Adversarial case for SRP-LSH: every vector identical, so all 8
    // bands collapse into ONE bucket. Unbounded pairing would emit
    // n(n-1)/2 = 499,500 candidates; the rank window must cap it at
    // < n·window while keeping consecutive ranks paired (connectivity).
    import org.apache.spark.sql.functions._
    val n = 1000
    val dir = java.nio.file.Files.createTempDirectory("graft-degen").toString
    spark.range(n).select(col("id").as("vec_id"),
        expr("transform(sequence(1, 8), i -> cast(0.5 as float))")
          .as("embedding"),
        lit(0).as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val cand = Dedup.embedCandidates(spark, dir)
    val cnt = cand.count()
    val window = Dedup.EMB_BUCKET_WINDOW
    assert(cnt > 0, "identical vectors must still pair")
    assert(cnt <= n.toLong * window,
      s"candidates $cnt exceed the n*window bound ${n.toLong * window}")
    assert(cnt < n.toLong * (n - 1) / 2,
      "window failed to prune the quadratic blow-up")
    // consecutive ids share a bucket and are 1 rank apart -> must pair
    val consec = cand.filter(col("id2") === col("id1") + 1).count()
    assert(consec === n - 1, "rank window must keep adjacent pairs")
  }

  test("embed cosine top-k returns k distinct ordered pairs") {
    val rows = Dedup.queries("dd_embed_cosine")(spark, sf).collect()
    assert(rows.length === 20)
    val pairs = rows.map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")))
    assert(pairs.distinct.length === 20)
    pairs.foreach { case (a, b) => assert(a < b) }
  }

  test("native minhash9 expression equals the dictionary pipeline") {
    import org.apache.spark.sql.functions.{col, expr}
    graft.functions.MinHash9.register(spark)
    val native = Tables(spark, sf, "documents")
      .select(col("doc_id"), expr("minhash9(split(text, ' '))").as("mh"))
      .filter(col("mh").isNotNull).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val dict = Dedup.minhashesDict(spark, sf).collect()
      .map(r => r.getLong(0) -> (1 to 9).map(i => r.getString(i))).toMap
    assert(native.keySet === dict.keySet)
    native.foreach { case (id, sig) =>
      assert(sig.toSeq === dict(id).toSeq, s"doc $id signature drift")
    }
    // the native signature plan must be exchange-free
    val plan = Tables(spark, sf, "documents")
      .select(col("doc_id"), expr("minhash9(split(text, ' '))").as("mh"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("native simhash63 expression equals the lane-packed pipeline") {
    // the round-4 zero-shuffle expression must reproduce the 21-lane
    // SQL aggregation bit-for-bit on every document
    val native = Dedup.simhashSignatures(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lanes = Dedup.simhashSignaturesLanes(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native.keySet === lanes.keySet)
    native.foreach { case (id, sig) =>
      assert(sig === lanes(id), s"doc $id signature drift")
    }
    // and the native plan must contain no exchange at all
    val plan = Dedup.simhashSignatures(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("dd_lines: full local replay of C4 line dedup matches exactly") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String = {
      md.reset()
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // every 8-token line in (doc_id, idx) order; first occurrence wins
    val lines = docs.flatMap { case (id, t) =>
      t.split(" ").grouped(8).zipWithIndex
        .map { case (g, i) => (id, i, g.mkString(" ")) }
    }
    val firstOwner = scala.collection.mutable.Map[String, (Long, Int)]()
    lines.foreach { case (id, i, s) =>
      if (!firstOwner.contains(s)) firstOwner(s) = (id, i)
    }
    val expect = lines.groupBy(_._1).map { case (id, ls) =>
      val kept = ls.filter { case (d, i, s) => firstOwner(s) == ((d, i)) }
      id -> ((ls.length.toLong, kept.length.toLong,
        md5hex(kept.sortBy(_._2).map(_._3).mkString(" "))))
    }
    val got = Dedup.queries("dd_lines")(spark, sf).collect()
    assert(got.length === expect.size)
    got.foreach { r =>
      val (nl, nk, sig) = expect(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_lines") === nl)
      assert(r.getAs[Long]("n_kept") === nk)
      assert(r.getAs[String]("clean_sig") === sig)
    }
    // the corpus actually exercises the drop path
    assert(got.exists(r => r.getAs[Long]("n_kept") <
      r.getAs[Long]("n_lines")))
  }

  test("LSH tuning: banding candidate sets nest, 1-band verifies all") {
    val rows = Dedup.queries("dd_lsh_tuning")(spark, sf).collect()
      .map(r => r.getAs[String]("cfg") ->
        (r.getAs[Long]("candidates"), r.getAs[Long]("verified"))).toMap
    assert(rows.keySet === Set("b9r1", "b3r3", "b1r9"))
    // sharing a 3-row band implies sharing each of its three 1-row
    // bands; sharing the 9-row band implies sharing every 3-row band —
    // so candidate sets nest and counts must be monotone
    assert(rows("b9r1")._1 >= rows("b3r3")._1)
    assert(rows("b3r3")._1 >= rows("b1r9")._1)
    assert(rows("b9r1")._2 >= rows("b3r3")._2)
    // a 1-band-of-9 candidate agrees on the WHOLE signature, so every
    // candidate verifies (n_match = 9 >= 6) by construction
    assert(rows("b1r9")._1 === rows("b1r9")._2)
  }

  test("dd_containment equals a local brute-force containment scan") {
    // the rare-gram probe's recall theorem, checked against an
    // unblocked all-pairs recompute in plain Scala
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
      .filter(_._2.length >= 12)
    def gramsOf(w: Seq[String]): Set[String] =
      w.sliding(3).map(_.mkString(" ")).toSet
    val corpus = docs.map { case (id, w) => id -> gramsOf(w) }
    val want = (for {
      (sid, w) <- docs if sid % 50 == 0
      sg = w.take(12).sliding(3).map(_.mkString(" ")).toSet
      (did, dg) <- corpus
      pct = (sg.count(dg.contains) * 100L) / sg.size if pct >= 80
    } yield (sid, did, pct)).sortBy(t => (t._1, t._2))
    val got = Dedup.queries("dd_containment")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want)
    assert(got.nonEmpty)
    // every snippet contains itself at 100%
    val selfs = got.filter(t => t._1 == t._2)
    assert(selfs.map(_._1).toSet === docs.map(_._1).filter(_ % 50 == 0).toSet)
    assert(selfs.forall(_._3 == 100L))
  }

  test("dd_keep_best partitions like dd_exact but keeps the " +
      "highest-quality duplicate, not the first") {
    val exact = Dedup.queries("dd_exact")(spark, sf).collect()
      .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies")))
    val best = Dedup.queries("dd_keep_best")(spark, sf).collect()
      .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("quality"),
        r.getAs[Long]("n_copies")))
    // same clustering: one survivor per group, identical group-size
    // multiset
    assert(best.length === exact.length)
    assert(best.map(_._3).sorted.toSeq === exact.map(_._2).sorted.toSeq)
    // the survivor's quality is the group max: replay locally
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val byGrp = docs.groupBy { case (_, t) =>
      t.trim.toLowerCase.replaceAll(" +", " ")
    }
    val want = byGrp.values.map { g =>
      val scored = g.map { case (id, t) =>
        // split(..., -1): Spark's split keeps trailing empty tokens
        (id, t.split(" ", -1).distinct.length.toLong)
      }
      val (id, q) = scored.minBy { case (id, q) => (-q, id) }
      (id, q, g.size.toLong)
    }.toSeq.sortBy(_._1)
    assert(best.toSeq.sortBy(_._1) === want)
  }
}
