package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Graph}
import graft.streaming.CorpusStream
import scala.jdk.CollectionConverters._

/** Streaming corpus curation (quality → exact dedup → near-dup) equals
  * the batch recipe's front gates run over the full corpus, when
  * batches arrive in doc-id order — the twin law every streaming
  * operator here is pinned by. */
class CorpusStreamSpec extends SparkSpec {

  /** The batch twin: pipe_training_recipe stages 1–3 (quality gate,
    * exact dedup keep-lowest, near-dup id2-drop with pairing over the
    * FULL corpus). */
  private def twinAcceptedIds(): Set[Long] = {
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    val good = docs.filter(size(split(col("text"), " ")) >= 5)
    val keepExact = good
      .withColumn("gh",
        md5(regexp_replace(trim(lower(col("text"))), " +", " ")
          .cast("binary")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("gh").orderBy("doc_id")))
      .filter(col("rn") === 1)
    val dupIds = Dedup.minhashPairsOf(docs)
      .select(col("id2").as("doc_id")).distinct()
    keepExact.join(dupIds, Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
  }

  test("streamed curation over ordered batches equals the batch recipe") {
    val base = Files.createTempDirectory("graft_corpus_stream")
    val src = Files.createDirectory(base.resolve("src"))
    val out = base.resolve("out").toString
    val cp = base.resolve("cp").toString
    // three ordered arrival batches of the sf0.001 corpus, one file each
    val lines = Tables(spark, sf, "documents")
      .select(col("doc_id"),
        to_json(struct(col("doc_id"), col("text"))).as("j"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val cuts = Seq(lines.length / 3, 2 * lines.length / 3, lines.length)
    var lo = 0
    cuts.zipWithIndex.foreach { case (hi, i) =>
      val f = src.resolve(f"b$i%02d.json")
      Files.write(f,
        lines.slice(lo, hi).map(_._2).mkString("\n").getBytes("UTF-8"))
      // the file source orders batches by modification time — make the
      // arrival order explicit instead of racing the filesystem clock
      Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
      lo = hi
    }
    val q = CorpusStream.start(spark, src.toString, out, cp,
      availableNow = true, maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    val got = spark.read.parquet(s"$out/accepted")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = twinAcceptedIds()
    assert(got === want)
    // the signature index holds every seen doc with MinHash coverage
    // (>= 3 words), accepted or not — the dd_incremental probe shape
    val sigDocs = spark.read.parquet(s"$out/sigs")
      .select("doc_id").distinct().count()
    val withSigs = Dedup.minhashesOf(
      Tables(spark, sf, "documents").select("doc_id", "text")).count()
    assert(sigDocs === withSigs)

    // stream-maintained duplicate clusters == the batch dd_cluster twin
    // over the full ingested history (round 13): the per-batch star-
    // forest merge loses nothing vs recomputing components from scratch
    // (read through the versioned delta layout's reader — round 14)
    val streamClusters = CorpusStream.readClusters(spark, out)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchClusters = Graph.starComponents(
        Dedup.minhashPairsOf(
          Tables(spark, sf, "documents").select("doc_id", "text"))
          .select("id1", "id2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamClusters === batchClusters && streamClusters.nonEmpty)

    // replaying an already-curated batch appends nothing: the digest
    // gate filters every replayed good doc against state
    val before = spark.read.parquet(s"$out/accepted").count()
    val replay = Tables(spark, sf, "documents")
      .select("doc_id", "text")
      .filter(col("doc_id") < lines(cuts.head)._1)
    val (replayWritten, _) = CorpusStream.curateBatch(replay, out, 5)
    val after = spark.read.parquet(s"$out/accepted").count()
    assert(after === before)

    // and leaves the maintained clusters at the same fixpoint: merging
    // an already-merged batch's pairs into the star forest is a no-op
    // — AND, under the delta layout, writes ZERO rows (replay is a
    // no-op on disk, round 14)
    assert(replayWritten === 0L)
    val replayed = CorpusStream.readClusters(spark, out)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(replayed === batchClusters)
  }

  test("cluster state is append-plus-compact and crash-safe (round " +
    "14): deltas are batch-scaled, compaction bounds the version log, " +
    "a torn (markerless) write is invisible, and replay writes nothing") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_clusterstate")
    val out = base.resolve("out").toString
    val prior = CorpusStream.compactEvery
    CorpusStream.compactEvery = 2
    try {
      // each batch ingests one fresh 3-doc exact-dup family
      def mkBatch(k: Int) = // five family-unique words: no shingle is
        // shared across families, so clusters are exactly the batches
        Seq.tabulate(3)(j =>
          (k * 10L + j, s"f${k}a f${k}b f${k}c f${k}d f${k}e"))
          .toDF("doc_id", "text")
      val writes = (0 until 5).map(k =>
        CorpusStream.curateBatch(mkBatch(k), out, 5))
      // delta rows are BATCH-scaled (3 per batch: the new family),
      // never census-scaled — except the compaction batch, which
      // rewrites the full labeling once per compactEvery deltas (the
      // round-13 overwrite wrote the full labeling EVERY batch)
      assert(writes === Seq((3L, 3L), (3L, 6L), (9L, 9L), (3L, 12L),
        (3L, 15L)), writes)
      // the version log is bounded: one committed base + at most
      // compactEvery committed deltas; consumed versions were cleaned
      def versions(kind: String): Seq[String] = {
        val d = new java.io.File(s"$out/clusters/$kind")
        if (!d.exists) Nil
        else d.listFiles.filter(f => f.isDirectory &&
          new java.io.File(f, "_GRAFT_COMMITTED").exists)
          .map(_.getName).toSeq.sorted
      }
      assert(versions("base") === Seq("v=3"), versions("base"))
      assert(versions("delta") === Seq("v=4", "v=5"), versions("delta"))
      // the reconstructed labeling equals a from-scratch recompute
      val expect = (0 until 5).flatMap(k =>
        Seq.tabulate(3)(j => (k * 10L, k * 10L + j))).toSet
      def labeling(): Set[(Long, Long)] =
        CorpusStream.readClusters(spark, out)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(labeling() === expect)
      // TORN WRITE: a version directory with data but NO commit marker
      // (the crash-between-parquet-and-marker state) is invisible to
      // the reader — accumulated connectivity cannot be lost to it
      Seq((999L, 999L)).toDF("cluster_id", "doc_id")
        .write.parquet(s"$out/clusters/delta/v=99")
      assert(labeling() === expect)
      // replay of an already-merged batch: fixpoint, zero rows written
      val (w, full) = CorpusStream.curateBatch(mkBatch(2), out, 5)
      assert(w === 0L && full === 15L)
      assert(labeling() === expect)
    } finally {
      CorpusStream.compactEvery = prior
    }
  }

  test("delta-log PROPERTY: random batch/replay/torn-write interleavings " +
    "at random compaction cadences — the reader always equals a local " +
    "union-find recompute (round 14)") {
    import spark.implicits._
    // drives writeClusterState/readClusters directly at the LAYOUT
    // level: the labeling evolves as components of an accumulating
    // random pair set (truth = an independent local union-find);
    // between writes, replays (fixpoint re-writes) and torn version
    // directories (parquet, no marker — the crash-between-parquet-and-
    // marker state) are injected at random, including at the NEXT
    // version number (the crash-then-replay collision the writer must
    // clear). The reader must reconstruct the exact labeling after
    // every step.
    def unionFind(pairs: Seq[(Long, Long)]): Set[(Long, Long)] =
      UnionFind.labels(pairs).iterator.map(_.swap).toSet
    val rnd = new scala.util.Random(1405)
    val prior = CorpusStream.compactEvery
    try {
      for (trial <- 0 until 3) {
        CorpusStream.compactEvery = 1 + rnd.nextInt(3)
        val base = Files.createTempDirectory(s"graft_dlog$trial")
        val out = base.resolve("out").toString
        val allPairs =
          scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        def readNow(): Set[(Long, Long)] =
          CorpusStream.readClusters(spark, out)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        def tornAt(v: Int): Unit = {
          val dir = new java.io.File(s"$out/clusters/delta/v=$v")
          if (!dir.exists) // never clobber a committed version — a
            // crash cannot rewrite committed state by construction
            Seq((777L, 777L)).toDF("cluster_id", "doc_id")
              .write.parquet(dir.getPath)
        }
        for (step <- 0 until 10) {
          rnd.nextInt(5) match {
            case 0 if allPairs.nonEmpty =>
              // REPLAY: re-merging already-merged pairs is a fixpoint
              // — the layout must write NOTHING
              val cur = unionFind(allPairs.toSeq).toSeq
                .toDF("cluster_id", "doc_id")
              val (w, _) = CorpusStream.writeClusterState(
                spark, out, CorpusStream.readClusters(spark, out), cur)
              assert(w === 0L, s"replay wrote $w rows")
            case 1 =>
              tornAt(50 + step) // far version: pure invisibility
            case 2 =>
              tornAt(step + 1) // likely the next version number: the
              // writer must clear the leftover before reusing it
            case _ =>
              val pairs = Seq.fill(1 + rnd.nextInt(5))(
                (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
                .filter(p => p._1 != p._2)
              allPairs ++= pairs
              val next = unionFind(allPairs.toSeq).toSeq
                .toDF("cluster_id", "doc_id")
              CorpusStream.writeClusterState(
                spark, out, CorpusStream.readClusters(spark, out), next)
          }
          assert(readNow() === unionFind(allPairs.toSeq),
            s"trial $trial step $step (compactEvery=${
              CorpusStream.compactEvery})")
        }
      }
    } finally {
      CorpusStream.compactEvery = prior
    }
  }

  test("a batch merge frees only its own blocks: frames checkpointed " +
    "from another thread meanwhile stay readable") {
    // a merge that freed every RDD appearing in the SparkContext's
    // persistent set while it ran would take a concurrent query's
    // checkpoint blocks, failing its next read with
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. The other thread checkpoints
    // continuously for the whole merge, so some of its frames land
    // inside the merge however the two threads interleave.
    val out = Files.createTempDirectory("graft_merge_owner")
      .resolve("out").toString
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    def handles(df: DataFrame): Seq[Int] =
      df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val theirs = new ConcurrentLinkedQueue[DataFrame]()
    val stop = new AtomicBoolean(false)
    val other = new Thread(() =>
      while (!stop.get) {
        theirs.add(spark.range(8).toDF("x").localCheckpoint())
        Thread.sleep(5)
      })
    other.start()
    try CorpusStream.curateBatch(docs, out, 5)
    finally { stop.set(true); other.join() }
    val frames = theirs.asScala.toSeq
    try {
      assert(frames.nonEmpty)
      frames.foreach(f => assert(f.collect().length === 8))
      // and the merge itself leaves none of its blocks pinned
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before --
        frames.flatMap(handles)
      assert(leaked.isEmpty, s"merge left RDDs $leaked persisted")
    } finally frames.foreach(Graph.releaseCheckpoint)
  }
}
