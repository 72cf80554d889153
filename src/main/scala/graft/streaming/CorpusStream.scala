package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.operators.{Dedup, Graph}

/** Streaming corpus curation: the LLM-training recipe's front gates
  * (quality → exact dedup → near-dup removal) running INCREMENTALLY
  * over a document stream via `foreachBatch` — the loop-closer between
  * the streaming ingest surface (T1–T4) and the batch corpus pipeline
  * (`pipe_training_recipe`). Each micro-batch is curated against the
  * accumulated corpus STATE, never against the full corpus:
  *
  *   1. quality gate — `>= minWords` words (`pipe_clean_corpus` stage 1);
  *   2. exact dedup — within-batch keep-lowest per normalized-body md5
  *      digest, then a digest anti-join against every digest already
  *      seen (`dd_exact`'s 16-byte key: the state probe shuffles
  *      digests, never bodies);
  *   3. near-dup removal — the batch's MinHash banded signatures probe
  *      the materialized signature state on (band, bv) exactly like
  *      `dd_incremental`'s batch-vs-corpus join (state×new plus
  *      new×new, never state×state), dropping a new doc on >= 6/9
  *      signature agreement with anything seen earlier (or with a
  *      lower-id doc in its own batch).
  *
  * State is four parquet tables under `outDir` — three append-only:
  * `accepted/` (the curated corpus), `digests/` (normalized-body md5 of
  * every good doc seen), and `sigs/` (banded signatures of every doc
  * seen — dropped docs stay in the index, mirroring the batch twin
  * where pairing runs over the FULL corpus before survivors are
  * chosen) — plus `clusters/` (round 13), the maintained
  * duplicate-cluster star forest kept by merging the batch's verified
  * pairs into the prior forest (the dd_cluster_incr technique; equals
  * the full-history dd_cluster recompute at every batch boundary).
  *
  * CLUSTER-STATE LAYOUT (round 14 — append-plus-compact, crash-safe;
  * replaces the round-13 full overwrite per batch, which both rewrote
  * ≈ the whole dup-family census every trigger on a dup-heavy stream
  * AND could lose accumulated old×old connectivity to a torn
  * delete-then-write, ADVICE r13): `clusters/` holds VERSIONED
  * snapshots — `delta/v=N/` directories carrying only the labels that
  * CHANGED in batch N's merge, periodically compacted into a full
  * `base/v=N/` labeling — each version committed by writing a
  * `_GRAFT_COMMITTED` marker AFTER its parquet completes, so a crash
  * mid-write leaves an uncommitted directory that readers ignore and
  * the replaying writer deletes before reusing the version number;
  * the committed state is never mutated in place. [[readClusters]]
  * reconstructs the labeling as latest-committed-version-wins per doc
  * — one bounded read over ≤ compactEvery+1 version directories, each
  * at most dup-family-census rows. A replayed batch re-derives a
  * fixpoint (star-forest merge under re-applied edges), producing an
  * EMPTY delta, which is not written — replay is a no-op on disk.
  *
  * At 100 TB each batch's cost scales with the batch: the
  * signature index is probed through a bucket equi-join and the digest
  * state through a 16-byte hash anti-join; nothing re-pairs the
  * existing corpus, and the cluster write is the CHANGED labels only
  * (batch-scaled), not the accumulated census. Under in-order arrival
  * (doc ids non-decreasing
  * across batches — the daily-ingest shape) the accepted set is
  * IDENTICAL to running the batch recipe's stages 1–3 over the full
  * corpus; CorpusStreamSpec pins that twin equivalence batch-by-batch.
  *
  * Sink semantics: parquet appends are checkpoint-gated per batch
  * (Trigger.AvailableNow + checkpointLocation), the same at-least-once
  * append contract as the T1 ingest path; a replayed batch re-appends,
  * which the digest gate then filters from the CORPUS on the next pass
  * — accepted/ itself should be read through `dropDuplicates(doc_id)`
  * by consumers that must tolerate mid-batch crashes.
  */
object CorpusStream {

  /** Streamed document-line schema ({"doc_id": n, "text": "..."}). */
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private val MIN_WORDS = 5 // pipe_clean_corpus stage-1 gate

  /** File-source JSON-lines stream → incremental curation. AvailableNow
    * drains pending input then stops (deterministic tests); the
    * processing-time default mirrors the reference's 10 s flush. */
  def start(spark: SparkSession, srcDir: String, outDir: String,
            checkpointDir: String,
            availableNow: Boolean = false,
            maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val reader = spark.readStream
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    val docs = reader.text(srcDir)
      .select(from_json(col("value"), schema).as("r"))
      .select("r.*")
    docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        curateBatch(batch, outDir, MIN_WORDS)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(if (availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime("10 seconds"))
      .start()
  }

  /** Marker file written into a version directory AFTER its parquet
    * completes — the commit point. Underscore-prefixed so Spark's
    * parquet reader ignores it inside the directory. */
  private val CommitMarker = "_GRAFT_COMMITTED"

  /** Compact the delta log into a full base snapshot once this many
    * committed delta versions accumulate — bounds the read fan-in at
    * compactEvery+1 directories. */
  private[graft] var compactEvery: Int = 8

  /** One micro-batch through the three gates against on-disk state.
    * Exposed for the spec's batch-by-batch twin comparison. Returns
    * (cluster label rows WRITTEN this batch, full labeling size) — the
    * write-amplification observable: the round-13 overwrite wrote the
    * second number every batch, the delta layout writes the first. */
  private[graft] def curateBatch(batch0: DataFrame, outDir: String,
                                 minWords: Int): (Long, Long) = {
    val s = batch0.sparkSession
    val batch = batch0.select(col("doc_id"), col("text"))
      .filter(col("doc_id").isNotNull).cache()
    try {
      // gate 1+2a: quality, then within-batch keep-lowest per digest
      val good = batch
        .filter(size(split(col("text"), " ")) >= minWords)
        .withColumn("gh",
          md5(regexp_replace(trim(lower(col("text"))), " +", " ")
            .cast("binary")))
      val exact = good
        .withColumn("rn", row_number().over(
          Window.partitionBy("gh").orderBy("doc_id")))
        .filter(col("rn") === 1)
        .drop("rn")
      // gate 2b: digest anti-join against state (16-byte keys only)
      val priorDigests = readState(s, s"$outDir/digests",
        StructType(Seq(StructField("gh", StringType))))
      val exOk = exact.join(priorDigests, Seq("gh"), "left_anti")
      // gate 3: banded-signature probe — state×new plus new×new
      // uncached banding (round 13): this caller caches the banded
      // frame itself and unpersists it at batch end — the cache
      // bandedSignaturesOf takes internally on the signature table had
      // no release path and pinned one table per micro-batch for the
      // life of the stream
      val sigs = Dedup.bandedSignaturesUncached(batch).cache()
      val sigSchema = StructType(
        StructField("doc_id", LongType) +:
          (1 to Dedup.K).map(i => StructField(s"h$i", StringType)) :+
          StructField("band", IntegerType) :+
          StructField("bv", StringType))
      val priorSigs = readState(s, s"$outDir/sigs", sigSchema)
      val nMatch = (1 to Dedup.K).map(i =>
        (col(s"a$i") === col(s"b$i")).cast("int")).reduce(_ + _)
      def keyed(df: DataFrame, id: String, p: String): DataFrame = df.toDF(
        id +: (1 to Dedup.K).map(i => s"$p$i") :+ "band" :+ "bv": _*)
      val fromState = keyed(priorSigs, "id1", "a")
        .join(keyed(sigs, "id2", "b"), Seq("band", "bv"))
        .filter(col("id1") =!= col("id2")) // replayed batch: not a self-dup
      val inBatch = keyed(sigs, "id1", "a")
        .join(keyed(sigs, "id2", "b"), Seq("band", "bv"))
        .filter(col("id1") < col("id2"))
      val scored = fromState.unionByName(inBatch)
        .select(col("id1"), col("id2"), nMatch.as("n_match"))
        .filter(col("n_match") >= 6)
        .cache()
      val nearDup = scored
        .select(col("id2").as("doc_id"))
        .distinct()
      val survivors = exOk.join(nearDup, Seq("doc_id"), "left_anti")
      // gate 3b (round 13): INCREMENTAL CLUSTER MAINTENANCE — the
      // duplicate-cluster graph rides along as stream state, the
      // dd_cluster_incr technique per micro-batch: the persisted
      // labeling is a STAR FOREST (doc_id → cluster root), which
      // preserves accumulated connectivity exactly, so components over
      // (prior star edges ∪ this batch's verified pairs) equal the
      // full-history recompute (CorpusStreamSpec pins stream clusters
      // == batch dd_cluster twin). Per-batch cost: star contraction
      // whose rounds are governed by the NEW pairs (stars have depth
      // 1), one window pass over star edges per round — never a corpus
      // re-pair. The contraction's last-round blocks are released by
      // handle once the state is on disk — a long-running stream must
      // not pin one labels copy per batch, and blocks another query
      // persists on this SparkContext meanwhile are not ours to free
      val priorStars = readClusters(s, outDir)
      val newStars = Graph.starComponents(
        priorStars.filter(col("doc_id") =!= col("cluster_id"))
          .select(col("doc_id").as("id1"), col("cluster_id").as("id2"))
          .unionAll(scored.select("id1", "id2")))
        .withColumnRenamed("node", "doc_id")
      // state + output appends (survivors first: a crash between writes
      // then re-curates the batch against unchanged state instead of
      // silently dropping it against half-written state; the cluster
      // write goes last — a replayed batch derives an empty delta, so
      // it is idempotent on disk, and the versioned commit makes a
      // torn write invisible to readers)
      survivors.select("doc_id", "text")
        .write.mode("append").parquet(s"$outDir/accepted")
      exact.select("gh").distinct()
        .write.mode("append").parquet(s"$outDir/digests")
      sigs.write.mode("append").parquet(s"$outDir/sigs")
      val written = writeClusterState(s, outDir, priorStars, newStars)
      Graph.releaseCheckpoint(newStars)
      scored.unpersist()
      sigs.unpersist()
      written
    } finally {
      batch.unpersist()
      ()
    }
  }

  private val starSchema: StructType = StructType(Seq(
    StructField("cluster_id", LongType),
    StructField("doc_id", LongType)))

  private def fsOf(s: SparkSession, p: Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** COMMITTED versions under `clusters/<kind>/` — (version, path)
    * pairs for every `v=N` directory whose commit marker exists. */
  private def committedVersions(s: SparkSession, root: Path,
                                kind: String): Seq[(Int, Path)] = {
    val dir = new Path(root, kind)
    val fs = fsOf(s, dir)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .flatMap { st =>
        val v = st.getPath.getName.stripPrefix("v=").toIntOption
        v.filter(_ => fs.exists(new Path(st.getPath, CommitMarker)))
          .map(_ -> st.getPath)
      }
  }

  /** The maintained duplicate-cluster labeling — (cluster_id, doc_id)
    * over every doc in a dup family, reconstructed from the committed
    * versioned state: the latest committed base snapshot overridden by
    * every later committed delta, latest version winning per doc.
    * Uncommitted (torn) version directories are invisible. Empty frame
    * before the first family appears. This is the READ SIDE of the
    * append-plus-compact layout: one bounded union over at most
    * compactEvery+1 directories plus one dup-family-grain window. */
  def readClusters(s: SparkSession, outDir: String): DataFrame = {
    val root = new Path(s"$outDir/clusters")
    val bases = committedVersions(s, root, "base")
    val deltas = committedVersions(s, root, "delta")
    val baseV = bases.map(_._1).maxOption.getOrElse(-1)
    val live = bases.filter(_._1 == baseV) ++ deltas.filter(_._1 > baseV)
    if (live.isEmpty)
      s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], starSchema)
    else {
      val frames = live.map { case (v, p) =>
        s.read.schema(starSchema).parquet(p.toString)
          .withColumn("__v", lit(v))
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("__v").desc)
      frames.reduce(_.unionAll(_))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select("cluster_id", "doc_id")
    }
  }

  /** Write this batch's cluster-state CHANGE: the labels in `next`
    * absent from `prior` (new family members and re-rooted docs) go to
    * `delta/v=N/`; every compactEvery-th write instead compacts the
    * full labeling into `base/v=N/` and drops the consumed versions.
    * Both are committed by marker-after-parquet (a torn write leaves
    * an ignorable, later-deleted directory) — the committed state is
    * never mutated in place, so no crash point loses accumulated
    * connectivity (ADVICE r13). An empty delta (the replayed-batch
    * fixpoint) writes nothing. Returns (rows written, full labeling
    * rows). */
  private[graft] def writeClusterState(s: SparkSession, outDir: String,
                                prior: DataFrame,
                                next: DataFrame): (Long, Long) = {
    val root = new Path(s"$outDir/clusters")
    // eager: both sides pinned BEFORE any directory mutation (prior
    // reads the very directories a compaction would clean)
    val nextC = next.select("cluster_id", "doc_id").localCheckpoint()
    val delta = nextC.join(prior, Seq("cluster_id", "doc_id"),
      "left_anti").localCheckpoint()
    try {
      val nDelta = delta.count()
      val nFull = nextC.count()
      if (nDelta == 0L) (0L, nFull)
      else {
        val fs = fsOf(s, root)
        val bases = committedVersions(s, root, "base")
        val deltas = committedVersions(s, root, "delta")
        val v = (bases ++ deltas).map(_._1).maxOption.getOrElse(0) + 1
        val compact = deltas.size + 1 > compactEvery
        val (kind, df, n) =
          if (compact) ("base", nextC, nFull) else ("delta", delta, nDelta)
        val dir = new Path(new Path(root, kind), s"v=$v")
        // a leftover from a crashed attempt at this version is
        // uncommitted by construction (no marker) — clear it
        if (fs.exists(dir)) fs.delete(dir, true)
        df.write.mode("overwrite").parquet(dir.toString)
        fs.create(new Path(dir, CommitMarker), true).close()
        if (compact) {
          // consumed deltas and superseded bases: best-effort cleanup
          // AFTER the new base committed — readers ignore them either
          // way, so a crash mid-cleanup costs only disk
          (deltas ++ bases).filter(_._1 < v)
            .foreach { case (_, p) => fs.delete(p, true) }
        }
        (n, nFull)
      }
    } finally {
      Graph.releaseCheckpoint(delta)
      Graph.releaseCheckpoint(nextC)
    }
  }

  /** Read a state table, or an empty frame with its schema before the
    * first batch has written it. */
  private def readState(s: SparkSession, path: String,
                        schema: StructType): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) s.read.schema(schema).parquet(path)
    else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      schema)
  }
}
