package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column operators: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, decoded with REAL codecs —
  * the JDK ships them (`javax.imageio`: PNG/JPEG/BMP/GIF/TIFF;
  * `javax.sound.sampled`: WAV/AU/AIFF PCM), so nothing here is
  * stubbed except video (no video codec exists in the JDK — the
  * frame-sample operator treats video as opaque fixed-stride binary,
  * which is exactly what a demuxer-less pipeline stage can do).
  *
  * The engine-side generalization of the reference's binary→derived-
  * column pattern (3B1_pdf_to_text_udf.sql:1-20 decodes PDF bytes to
  * text; here image bytes decode to dimensions/channel statistics and
  * WAV bytes to sample statistics). The pipeline shape is the
  * production one: payloads are encoded and decoded entirely on
  * executors inside `mapPartitions` batches over typed Datasets; the
  * driver only ever sees metadata rows.
  *
  * Oracle strategy: payload CONTENT is derived arithmetically from
  * `doc_id` (width, height, base intensity, sample count), the engine
  * round-trips it through the real encoder AND decoder, and the DuckDB
  * oracle recomputes the closed-form pixel/sample sums — so a
  * hash-green run proves the codec round-trip is bit-exact, not that
  * two fakes agree.
  */
object Multimodal extends graft.QuerySet {
  // ImageIO's DEFAULT stream cache is DISK-BACKED: ImageIO.write/read
  // on an in-memory stream still spools every image through a temp
  // file in java.io.tmpdir (FileCacheImageOutput/InputStream when
  // getUseCache() is true — the JDK default). At 500k tiny PNGs per
  // query that is 500k temp-file create/write/delete round-trips whose
  // cost rides /tmp's state — the round-12 drift ledger caught the mm_
  // family's walls moving 2× run-to-run on byte-identical code with
  // the soak corpora sitting in /tmp. Memory-cached streams are
  // strictly better for ≤16×16 images; the flag is JVM-global and this
  // object initializes on every executor before any codec call (all
  // call sites live here), so one statement covers the family.
  javax.imageio.ImageIO.setUseCache(false)

  // ---- image family ------------------------------------------------

  /** Per-doc image spec, all values arithmetic in doc_id so the oracle
    * can recompute every decoded statistic in closed form:
    * w ∈ [8,16], h ∈ [8,14], base ∈ [0,199]; pixel (x,y) is
    * r = base+x, g = base+y, b = base+x+y (all < 256 by construction,
    * so no wraparound and the sums have polynomial closed forms). */
  final case class ImgSpec(doc_id: Long, w: Int, h: Int, base: Int)
  final case class ImgPayload(doc_id: Long, payload: Array[Byte])
  final case class ImgMeta(doc_id: Long, magic: String, width: Long,
                           height: Long, channels: Long, sum_r: Long,
                           sum_g: Long, sum_b: Long)

  private def imgSpecs(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables(s, dir, "documents").select(
      col("doc_id"),
      (lit(8) + col("doc_id") % 9).cast("int").as("w"),
      (lit(8) + col("doc_id") % 7).cast("int").as("h"),
      (col("doc_id") % 200).cast("int").as("base"))
      // codec work is CPU-bound: spread it over the full core count
      // instead of inheriting the scan's file-layout partitioning (one
      // small parquet file = one partition = single-threaded encode —
      // measured 2× slower); the shuffled rows are 4 scalars each
      .repartition(col("doc_id"))
      .as[ImgSpec]
  }

  /** ENCODE: render the spec'd gradient and compress it to real PNG
    * bytes with the JDK encoder — per-partition batches, payloads
    * never leave the executor. */
  private[graft] def encodePng(rows: Iterator[ImgSpec]): Iterator[ImgPayload] =
    rows.map { sp =>
      val img = new BufferedImage(sp.w, sp.h, BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until sp.h; x <- 0 until sp.w) {
        val r = sp.base + x; val g = sp.base + y; val b = sp.base + x + y
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
      }
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      ImgPayload(sp.doc_id, bos.toByteArray)
    }

  /** DECODE: real `ImageIO` PNG decode — dimensions and channel count
    * from the decoder, per-channel integer pixel sums from the decoded
    * raster (images here are ≤ 16×14; a bulk-raster read is the same
    * loop at production sizes). */
  private[graft] def decodeMeta(rows: Iterator[ImgPayload]): Iterator[ImgMeta] =
    rows.map { p =>
      val magic = p.payload.take(4).map("%02x".format(_)).mkString
      val img = ImageIO.read(new ByteArrayInputStream(p.payload))
      var sr = 0L; var sg = 0L; var sb = 0L
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val px = img.getRGB(x, y)
        sr += (px >> 16) & 0xff; sg += (px >> 8) & 0xff; sb += px & 0xff
      }
      ImgMeta(p.doc_id, magic, img.getWidth.toLong, img.getHeight.toLong,
        img.getRaster.getNumBands.toLong, sr, sg, sb)
    }

  final case class ResizeMeta(doc_id: Long, rw: Long, rh: Long,
                              sum_r: Long, sum_g: Long, sum_b: Long)

  /** DECODE + RESIZE: decode, nearest-neighbor downscale ×2 (keep
    * pixels at even coordinates — deterministic, so the oracle's
    * closed form holds exactly; bilinear would be the one-line swap in
    * production), then per-channel sums of the RESIZED image. */
  private[graft] def resizeMeta(rows: Iterator[ImgPayload]): Iterator[ResizeMeta] =
    rows.map { p =>
      val img = ImageIO.read(new ByteArrayInputStream(p.payload))
      val rw = (img.getWidth + 1) / 2; val rh = (img.getHeight + 1) / 2
      val out = new BufferedImage(rw, rh, BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until rh; x <- 0 until rw)
        out.setRGB(x, y, img.getRGB(x * 2, y * 2))
      var sr = 0L; var sg = 0L; var sb = 0L
      for (y <- 0 until rh; x <- 0 until rw) {
        val px = out.getRGB(x, y)
        sr += (px >> 16) & 0xff; sg += (px >> 8) & 0xff; sb += px & 0xff
      }
      ResizeMeta(p.doc_id, rw.toLong, rh.toLong, sr, sg, sb)
    }

  // ---- perceptual dedup (aHash) ------------------------------------

  /** Pattern spec for perceptual dedup: every doc renders a 16×16
    * grayscale PNG whose SHAPE is one of four patterns (doc_id % 4:
    * x-gradient / y-gradient / diagonal / 4px-checkerboard) and whose
    * BRIGHTNESS varies per doc (base = doc_id % 100, all values
    * base + [0,120] < 256). Average-hash is exactly invariant to the
    * brightness shift (the mean shifts with the pixels, so the
    * bit comparisons cancel base), so the perceptual groups are the
    * four patterns — which the oracle can name without computing a
    * single hash. */
  final case class PatSpec(doc_id: Long, p: Int, base: Int)
  final case class PHash(doc_id: Long, phash: String)

  private def patSpecs(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables(s, dir, "documents").select(
      col("doc_id"),
      (col("doc_id") % 4).cast("int").as("p"),
      (col("doc_id") % 100).cast("int").as("base"))
      .repartition(col("doc_id")) // same CPU-spread as imgSpecs
      .as[PatSpec]
  }

  private[graft] def encodePattern(rows: Iterator[PatSpec]): Iterator[ImgPayload] =
    rows.map { sp =>
      val img = new BufferedImage(16, 16, BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until 16; x <- 0 until 16) {
        val v = sp.p match {
          case 0 => x * 8
          case 1 => y * 8
          case 2 => (x + y) * 4
          case _ => ((x / 4 + y / 4) % 2) * 120
        }
        val c = sp.base + v
        img.setRGB(x, y, (c << 16) | (c << 8) | c)
      }
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      ImgPayload(sp.doc_id, bos.toByteArray)
    }

  /** Classic average-hash over the DECODED image: nearest-neighbor
    * 8×8 downsample, bit = (pixel > mean of the 64 samples), 64 bits
    * row-major. Integer-exact: the mean comparison is `g·64 > Σg` —
    * no float division. */
  private[graft] def avgHashLong(pl: ImgPayload): Long = {
    val img = ImageIO.read(new ByteArrayInputStream(pl.payload))
    val g = new Array[Int](64)
    var sum = 0
    for (j <- 0 until 8; i <- 0 until 8) {
      val px = img.getRGB(
        i * img.getWidth / 8, j * img.getHeight / 8) & 0xff
      g(j * 8 + i) = px; sum += px
    }
    var hash = 0L
    for (idx <- 0 until 64)
      if (g(idx).toLong * 64 > sum) hash |= (1L << (63 - idx))
    hash
  }

  private[graft] def avgHash(rows: Iterator[ImgPayload]): Iterator[PHash] =
    rows.map(pl => PHash(pl.doc_id, f"${avgHashLong(pl)}%016x"))

  /** The same hash as a packed long — the near-dup join's shuffle
    * currency (8 bytes a row instead of a 16-char string). */
  final case class PHashBits(doc_id: Long, bits: Long)
  private[graft] def avgHashBits(rows: Iterator[ImgPayload]): Iterator[PHashBits] =
    rows.map(pl => PHashBits(pl.doc_id, avgHashLong(pl)))

  // ---- perceptual NEAR-dup (Hamming ≤ 2 via multi-index hashing) ---

  /** Near-dup spec: pattern p = id%16 picks a HIGH cell set (seven
    * vertical thresholds i≥1..7, seven horizontal j≥1..7, a diagonal
    * i+j≥7, a 2×2 checkerboard; value base+160 vs base, rendered as
    * 2×2 blocks of a 16×16 image so the aHash 8×8 sample grid reads
    * exactly one block each); flip f = (id div 16)%8 additionally
    * raises the f-th LOW cell of the pattern to base+200 — toggling
    * exactly ONE aHash bit (margins are decisive for every base ≤ 55
    * and every pattern: worst high-cell margin is 1080 scaled units
    * vs a 200-unit mean shift). Consequence, provable in closed form
    * AND pinned exhaustively by CollocationsSpec over all 128
    * classes: Hamming(a, b) = 0 iff same (p, f), = 2 for same p
    * different f, ≥ 6 across patterns — so the ≤2 near-dup relation
    * is exactly "same pattern", which the oracle names arithmetically
    * while the engine must earn it through real PNG decode + hashing.
    * 16 patterns (not 4) keep the true near-dup classes at n/16 —
    * the operator's output is the ground-truth pair set, so class
    * design is what bounds it. */
  final case class NearSpec(doc_id: Long, p: Int, f: Int, base: Int)

  private def nearSpecs(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables(s, dir, "documents").select(
      col("doc_id"),
      (col("doc_id") % 16).cast("int").as("p"),
      expr("doc_id div 16 % 8").cast("int").as("f"),
      (col("doc_id") % 56).cast("int").as("base"))
      .repartition(col("doc_id")) // same CPU-spread as imgSpecs
      .as[NearSpec]
  }

  /** The 64-bit average-hash TABLE of the near-dup image corpus —
    * (doc_id, bits) — behind a [[graft.sources.Materialize.Index]]
    * hook (round 13): the codec pass (render → PNG encode → ImageIO
    * decode → aHash) is the dominant shared cost of BOTH near-dup
    * queries (~45 s of mm_phash_cluster's 49.8 s x10 wall) and
    * produces the IDENTICAL table for each, so the named queries
    * materialize it once per (session, sf dir) as a managed table —
    * the ann_qvecs train/add-vs-search split the sim_ family already
    * uses: cold pass = codec + write + first search, steady passes =
    * the band join + verify (+ components) residue alone. At 100 TB
    * the hash table is 16 bytes/image next to the image corpus — the
    * artifact every production perceptual-dedup pipeline persists. */
  private[graft] def hashBitsOf(s: SparkSession, dir: String,
      index: graft.sources.Materialize.Index =
        graft.sources.Materialize.cached): DataFrame = {
    import s.implicits._
    index("mm_hashbits", () =>
      nearSpecs(s, dir)
        .mapPartitions(encodeNear)
        .mapPartitions(avgHashBits)
        .toDF())
  }

  /** Hamming ≤ 2 TRUE-PAIR set over a (doc_id, bits) hash table: 3-band
    * multi-index split → band-keyed self-join → exact bit_count verify.
    * Shared by mm_phash_near and the MultimodalSpec parity pin, so the
    * materialized and inline hash sources run the identical plan. */
  private[graft] def phashNearOf(hashes: DataFrame): DataFrame = {
    val banded = hashes.select(col("doc_id"), col("bits"),
      explode(array((0 until 3).map(k =>
        struct(lit(k).as("k"), hashBand(k).as("bv"))): _*)).as("b"))
      .select(col("doc_id"), col("bits"),
        col("b.k").as("k"), col("b.bv").as("bv"))
    banded.select(col("doc_id").as("id1"),
        col("bits").as("h1"), col("k"), col("bv"))
      .join(banded.select(col("doc_id").as("id2"),
        col("bits").as("h2"), col("k"), col("bv")), Seq("k", "bv"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2", "h1", "h2")
      .distinct()
      .withColumn("hamming", expr("cast(bit_count(h1 ^ h2) as bigint)"))
      .filter(col("hamming") <= 2)
      .select("id1", "id2", "hamming")
  }

  /** Cluster-representative output over a (doc_id, bits) hash table:
    * replica collapse on the 64-bit hash → banded Hamming join over
    * DISTINCT hashes → connected components → map back through the
    * hash representative (the mm_phash_cluster pipeline — see the
    * named query's scale notes). */
  private[graft] def phashClusterOf(hashes: DataFrame): DataFrame = {
    val reps = hashes.groupBy("bits").agg(min(col("doc_id")).as("hrep"))
    val banded = reps.select(col("hrep"), col("bits"),
      explode(array((0 until 3).map(k =>
        struct(lit(k).as("k"), hashBand(k).as("bv"))): _*)).as("b"))
      .select(col("hrep"), col("bits"),
        col("b.k").as("k"), col("b.bv").as("bv"))
    val pairs = banded.select(col("hrep").as("id1"),
        col("bits").as("h1"), col("k"), col("bv"))
      .join(banded.select(col("hrep").as("id2"),
        col("bits").as("h2"), col("k"), col("bv")), Seq("k", "bv"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2", "h1", "h2")
      .distinct()
      .filter(expr("bit_count(h1 ^ h2) <= 2"))
      .select("id1", "id2")
    val comp = Graph.starComponents(pairs)
      .withColumnRenamed("node", "hrep")
    hashes.join(reps, "bits")
      .join(comp, Seq("hrep"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("hrep")).as("cluster_id"))
  }

  /** INCREMENTAL perceptual-hash maintenance (round 14) — the
    * nightly add-path for the mm_ family, completing the
    * materialized-hash-table story of round 13: a NEW image batch
    * (doc_id % 5 = 0, dd_cluster_incr's split) hashes ONLY its own
    * rows through the codec and merges into the persisted cluster
    * state via the star-forest technique, never re-decoding or
    * re-pairing the existing corpus. Yesterday's state is two
    * artifacts, persisted once per (session, sf dir): the BASE hash
    * table (the only corpus-scaled codec pass, paid at first build)
    * and the base star forest (doc → cluster root, which preserves
    * accumulated connectivity exactly — `dd_cluster_incr`'s shape over
    * `mm_hashbits`). Tonight: batch codec → replica collapse on the
    * 64-bit hash → banded Hamming probe of batch reps against
    * (base reps ∪ batch reps) — state×new plus new×new, never
    * old×old — → components over (star edges ∪ verified pairs) →
    * docs map through their hash representative. Equals the full
    * mm_phash_cluster recompute (same oracle, hash-matched): the
    * class minimum is always the rep of its own hash within its
    * partition, and star edges plus probe pairs connect every class's
    * reps. At 100 TB the nightly cost is |batch| codec decodes plus a
    * batch-scaled band join — the x10 soak line measures the
    * batch-vs-corpus codec split. */
  private[graft] def phashIncrOf(s: SparkSession, dir: String,
      index: graft.sources.Materialize.Index =
        graft.sources.Materialize.cached): DataFrame = {
    import s.implicits._
    val baseHashes = index("mm_base_hashbits", () =>
      nearSpecs(s, dir).filter(col("doc_id") % 5 =!= 0)
        .mapPartitions(encodeNear)
        .mapPartitions(avgHashBits)
        .toDF())
    // REP-LEVEL star forest (not doc-level): the persisted edges are
    // per DISTINCT hash representative — each non-root rep points to
    // its class root — so the nightly components pass runs over the
    // collapsed hash graph (≤ #distinct hashes vertices), the same
    // replica-collapse that makes phashClusterOf O(n)-safe; doc-level
    // stars would hand components a dup-family-census-sized input
    // every night (measured 2.3× slower end-to-end at the x10 soak)
    val baseStars = index("mm_base_stars", () => {
      val reps = baseHashes.groupBy("bits").agg(min("doc_id").as("rep"))
      phashClusterOf(baseHashes)
        .join(reps.select(col("rep").as("doc_id")), "doc_id")
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as("id1"), col("cluster_id").as("id2"))
    })
    // tonight's batch: the ONLY codec work of the steady path — an
    // EAGER localCheckpoint, because the merge reads it three times
    // (batch reps for the probe and state sides, and the doc→rep
    // mapback). A lazy .cache() was raced: AQE materializes the
    // Hamming join's probe and state inputs CONCURRENTLY, both found
    // the cache cold, and the 32-task codec pass ran twice (measured:
    // twin ~700 ms jobs at sf0.1). The eager barrier pays the codec
    // exactly once; consumers read the checkpointed blocks.
    val batchHashes = nearSpecs(s, dir).filter(col("doc_id") % 5 === 0)
      .mapPartitions(encodeNear)
      .mapPartitions(avgHashBits)
      .toDF()
      .localCheckpoint()
    phashMergeOf(baseHashes, baseStars, batchHashes)
  }

  /** The codec-free MERGE of [[phashIncrOf]] (shared with the
    * [[graft.api.Media]] facade): replica-collapse both hash tables,
    * probe batch reps against (base reps ∪ batch reps) through the
    * 3-band Hamming join — state×new plus new×new, never old×old —
    * then components over (base star edges ∪ verified pairs) and the
    * doc→rep mapback. Inputs are (doc_id, bits) hash tables and the
    * base labeling's REP-LEVEL star edges (id1 = a non-root hash
    * representative, id2 = its class root) — connectivity at rep
    * grain suffices: every class root is the rep of its own hash, and
    * non-rep docs reach their rep through the mapback join, never
    * through the components pass. */
  private[graft] def phashMergeOf(baseHashes: DataFrame,
                                  baseStars: DataFrame,
                                  batchHashes: DataFrame): DataFrame = {
    val baseReps = baseHashes.groupBy("bits")
      .agg(min("doc_id").as("rep"))
    val batchReps = batchHashes.groupBy("bits")
      .agg(min("doc_id").as("rep"))
    def banded(reps: DataFrame): DataFrame =
      reps.select(col("rep"), col("bits"),
        explode(array((0 until 3).map(k =>
          struct(lit(k).as("k"), hashBand(k).as("bv"))): _*)).as("b"))
        .select(col("rep"), col("bits"),
          col("b.k").as("k"), col("b.bv").as("bv"))
    val probe = banded(batchReps)
      .select(col("rep").as("rep2"), col("bits").as("bits2"),
        col("k"), col("bv"))
    val state = banded(baseReps).unionByName(banded(batchReps))
      .select(col("rep").as("rep1"), col("bits").as("bits1"),
        col("k"), col("bv"))
    val pairs = state.join(probe, Seq("k", "bv"))
      .filter(col("rep1") =!= col("rep2"))
      .filter(expr("bit_count(bits1 ^ bits2) <= 2"))
      .select(least(col("rep1"), col("rep2")).as("id1"),
        greatest(col("rep1"), col("rep2")).as("id2"))
      .distinct()
    val comp = Graph.starComponents(baseStars.unionAll(pairs))
      .withColumnRenamed("node", "rep")
    val docRep = baseHashes.join(baseReps, "bits")
      .select(col("doc_id"), col("rep"))
      .unionByName(batchHashes.join(batchReps, "bits")
        .select(col("doc_id"), col("rep")))
    docRep.join(comp, Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("rep")).as("cluster_id"))
  }

  /** Inline (no-artifact) codec pass over the near-dup corpus or its
    * %5==0 batch — the soak's codec-split instrument: the wall ratio
    * full/batch is the part of the nightly cost the add-path scales
    * down with the batch. */
  private[graft] def nearHashesInline(s: SparkSession, dir: String,
                                      batchOnly: Boolean): DataFrame = {
    import s.implicits._
    val sp = nearSpecs(s, dir)
    (if (batchOnly) sp.filter(col("doc_id") % 5 === 0) else sp)
      .mapPartitions(encodeNear)
      .mapPartitions(avgHashBits)
      .toDF()
  }

  /** The 3-band split of the 64-bit average hash (22/21/21 bits) shared
    * by mm_phash_near and mm_phash_cluster: multi-index hashing
    * (Norouzi et al.) — any pair within Hamming 2 agrees on at least
    * one band, by pigeonhole. */
  private def hashBand(k: Int): org.apache.spark.sql.Column = k match {
    case 0 => shiftrightunsigned(col("bits"), 42)
    case 1 => shiftrightunsigned(col("bits"), 21)
      .bitwiseAND(lit(0x1FFFFFL))
    case _ => col("bits").bitwiseAND(lit(0x1FFFFFL))
  }

  private def highCell(p: Int, i: Int, j: Int): Boolean =
    if (p <= 6) i >= p + 1
    else if (p <= 13) j >= p - 6
    else if (p == 14) i + j >= 7
    else ((i / 2) + (j / 2)) % 2 == 1

  private[graft] def encodeNear(rows: Iterator[NearSpec]): Iterator[ImgPayload] =
    rows.map { sp =>
      // the f-th low cell in row-major (j, i) order
      val lows = for (j <- 0 until 8; i <- 0 until 8
                      if !highCell(sp.p, i, j)) yield (i, j)
      val (fi, fj) = lows(sp.f)
      val img = new BufferedImage(16, 16, BufferedImage.TYPE_3BYTE_BGR)
      for (j <- 0 until 8; i <- 0 until 8) {
        val v =
          if ((i, j) == (fi, fj)) sp.base + 200
          else if (highCell(sp.p, i, j)) sp.base + 160
          else sp.base
        for (dy <- 0 to 1; dx <- 0 to 1)
          img.setRGB(i * 2 + dx, j * 2 + dy, (v << 16) | (v << 8) | v)
      }
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      ImgPayload(sp.doc_id, bos.toByteArray)
    }

  // ---- audio family ------------------------------------------------

  /** Per-doc audio spec: n ∈ [400,499] frames of mono 16-bit PCM at
    * 8 kHz, sample i = a + i with a = doc_id % 500 (a + n < 1000 — no
    * int16 overflow, and sum/min/max have closed forms). */
  final case class AudSpec(doc_id: Long, n: Int, a: Int)
  final case class AudPayload(doc_id: Long, payload: Array[Byte])
  final case class AudMeta(doc_id: Long, n_frames: Long, channels: Long,
                           sample_rate: Long, bits: Long, sum_s: Long,
                           min_s: Long, max_s: Long)

  private def audSpecs(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables(s, dir, "documents").select(
      col("doc_id"),
      (lit(400) + col("doc_id") % 100).cast("int").as("n"),
      (col("doc_id") % 500).cast("int").as("a"))
      .repartition(col("doc_id")) // same CPU-spread as imgSpecs
      .as[AudSpec]
  }

  /** ENCODE: real WAV bytes via `AudioSystem.write` (RIFF header +
    * little-endian PCM), the JDK's own encoder. */
  private[graft] def encodeWav(rows: Iterator[AudSpec]): Iterator[AudPayload] =
    rows.map { sp =>
      val fmt = new AudioFormat(8000f, 16, 1, true, false) // signed LE
      val data = new Array[Byte](sp.n * 2)
      for (i <- 0 until sp.n) {
        val v = sp.a + i
        data(2 * i) = (v & 0xff).toByte
        data(2 * i + 1) = ((v >> 8) & 0xff).toByte
      }
      val ais = new AudioInputStream(
        new ByteArrayInputStream(data), fmt, sp.n.toLong)
      val bos = new ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      AudPayload(sp.doc_id, bos.toByteArray)
    }

  /** DECODE: `AudioSystem.getAudioInputStream` parses the RIFF header
    * (format, frame count), then the PCM frames stream through a
    * sum/min/max fold. */
  private[graft] def decodeWav(rows: Iterator[AudPayload]): Iterator[AudMeta] =
    rows.map { p =>
      val in = AudioSystem.getAudioInputStream(
        new ByteArrayInputStream(p.payload))
      val f = in.getFormat
      val frames = in.getFrameLength
      val bytes = in.readAllBytes()
      in.close()
      var sum = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
      var i = 0
      while (i + 1 < bytes.length) {
        val v = ((bytes(i) & 0xff) | (bytes(i + 1) << 8)).toLong
        sum += v; if (v < mn) mn = v; if (v > mx) mx = v
        i += 2
      }
      AudMeta(p.doc_id, frames, f.getChannels.toLong,
        f.getSampleRate.toLong, f.getSampleSizeInBits.toLong, sum, mn, mx)
    }

  // ---- video (documented stub) ------------------------------------

  /** "Video" payload for the frame sampler: a binary column treated as
    * fixed-stride frames. The JDK has NO video codec (unlike images
    * and WAV audio above), so this family stays at the
    * opaque-binary-plumbing level: stride slicing, frame admission,
    * fingerprinting — all codegen'd binary expressions, no UDF. */
  private def framePayloads(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(col("doc_id"),
      concat(lit("IMG0").cast("binary"), col("text").cast("binary"))
        .as("payload"))

  val queries: Map[String, Q] = Map(
    // Real PNG round-trip: encode the doc_id-derived gradient with the
    // JDK PNG encoder, decode with ImageIO, report decoder-observed
    // dimensions/channels and integer per-channel pixel sums. The
    // oracle recomputes every column in closed form — hash-green means
    // the codec round-trip is bit-exact.
    "mm_decode_meta" -> ((s, dir) => {
      import s.implicits._
      imgSpecs(s, dir)
        .mapPartitions(encodePng)
        .mapPartitions(decodeMeta)
        .toDF()
        .orderBy("doc_id")
    }),

    // Decode + nearest-neighbor ×2 downscale + channel stats of the
    // resized image — the feature-extract/resize stage of an image
    // training pipeline, again against a closed-form oracle.
    "mm_resize_stats" -> ((s, dir) => {
      import s.implicits._
      imgSpecs(s, dir)
        .mapPartitions(encodePng)
        .mapPartitions(resizeMeta)
        .toDF()
        .orderBy("doc_id")
    }),

    // Perceptual image dedup: render → PNG → decode → average-hash →
    // group by hash. The engine must decode and hash bit-identically
    // across brightness variants to reproduce the pattern census the
    // oracle names arithmetically — a dedup-family operator whose
    // blocking key is computed by a real image codec. Scale shape:
    // codec work is embarrassingly parallel; the hash groupBy is one
    // digest-keyed shuffle (the dd_exact shape).
    "mm_phash_dedup" -> ((s, dir) => {
      import s.implicits._
      val hashes = patSpecs(s, dir)
        .mapPartitions(encodePattern)
        .mapPartitions(avgHash)
        .toDF()
      val groups = hashes.groupBy("phash")
        .agg(min(col("doc_id")).as("dup_group"),
          count(lit(1)).as("group_size"))
      hashes.join(groups, "phash")
        .select(col("doc_id"), col("dup_group"), col("group_size"))
        .orderBy("doc_id")
    }),

    // Perceptual NEAR-dup join: decode → average-hash → 3-band bit
    // split (22/21/21) → band-keyed self-join (multi-index hashing,
    // Norouzi et al.: any pair within Hamming d ≤ 2 agrees on ≥1 of
    // 3 bands, by pigeonhole) → exact bit_count(xor) verify ≤ 2. The
    // band join is the dd_minhash_lsh shape applied to image space:
    // candidates are band-bucket pairs, never all pairs, and the
    // shuffle currency is one packed long per hash (no strings). The
    // output is the TRUE near-pair set, so its size is governed by
    // near-dup class sizes (n/16 here by spec design) — quadratic
    // only where ground truth is, the dd_containment contract.
    // Hash table MATERIALIZED once per (session, sf dir) — round 13:
    // the codec pass that builds it is this query's and
    // mm_phash_cluster's entire shared cost; see hashBitsOf.
    "mm_phash_near" -> ((s, dir) =>
      phashNearOf(hashBitsOf(s, dir,
          graft.sources.Materialize.indexOf(s, dir)))
        .orderBy("id1", "id2")),

    // CLUSTER-REPRESENTATIVE output for perceptual near-dup (round 12
    // — the scale-safe twin of mm_phash_near, whose output is the TRUE
    // pair set and therefore quadratic on a replica-saturated corpus:
    // 78.1M pair rows at the x10 soak, 100× output on 10× input). One
    // row per image — (doc_id, cluster_id = min doc_id of its near-dup
    // class), O(n) output at ANY replica density. Scale design in two
    // moves: (1) REPLICA COLLAPSE — identical images hash identically,
    // so group by the 64-bit hash and keep min(doc_id) per DISTINCT
    // hash first; the quadratic blowup lives precisely in k-replica
    // classes contributing k²/2 pairs, and after collapse the pair
    // graph is over distinct hashes, whose near-classes replica
    // saturation cannot inflate. (2) the same 3-band Hamming join as
    // mm_phash_near over the DISTINCT hashes (recall exact by the same
    // pigeonhole), verified ≤ 2, then the dd_cluster connected-
    // components reduction (Graph.starComponents — star contraction,
    // one job per round) and a join mapping every doc through its hash
    // representative to its component's minimum; singleton hashes keep
    // themselves. ORACLE: the near relation is "same pattern class"
    // (Hamming 0 for same (p,f), 2 within a class, ≥ 6 across — the
    // nearSpecs margins), so the cluster id is named arithmetically:
    // min(doc_id) over doc_id % 16.
    "mm_phash_cluster" -> ((s, dir) =>
      phashClusterOf(hashBitsOf(s, dir,
          graft.sources.Materialize.indexOf(s, dir)))
        .orderBy("doc_id")),

    // INCREMENTAL cluster maintenance for the perceptual-hash family
    // (round 14): hash the %5==0 batch through the codec, merge into
    // the persisted base hash table + star forest — batch-scaled codec
    // and pairing, equals the full recompute (see phashIncrOf). Same
    // oracle as mm_phash_cluster: the near relation is "same pattern
    // class", so the merged labeling is named arithmetically while the
    // engine must earn it through the real codec, the banded probe,
    // and the star-forest components merge.
    "mm_phash_incr" -> ((s, dir) =>
      phashIncrOf(s, dir, graft.sources.Materialize.indexOf(s, dir))
        .orderBy("doc_id")),

    // Real WAV round-trip: PCM frames → AudioSystem WAV encoder →
    // AudioSystem decoder → header metadata + sample statistics.
    "mm_audio_meta" -> ((s, dir) => {
      import s.implicits._
      audSpecs(s, dir)
        .mapPartitions(encodeWav)
        .mapPartitions(decodeWav)
        .toDF()
        .orderBy("doc_id")
    }),

    // Frame sampling over opaque binary: treat the payload as
    // fixed-size 100-byte frames, keep every 3rd frame, fingerprint
    // each — binary substring + sequence explode, all codegen'd
    // expressions, no UDF. (The video-shaped path: stride slicing
    // works without a codec.)
    "mm_frame_sample" -> ((s, dir) =>
      framePayloads(s, dir)
        // integer div: Spark '/' is float division and DuckDB rounds on
        // double→int casts, so both sides use explicit integer division
        .withColumn("n_frames", expr("octet_length(payload) div 100"))
        .filter(col("n_frames") >= 1)
        .select(col("doc_id"), col("payload"),
          explode(expr("sequence(0, n_frames - 1, 3)")).as("frame_idx"))
        .select(col("doc_id"), col("frame_idx"),
          md5(expr("substring(payload, frame_idx * 100 + 1, 100)"))
            .as("frame_md5"))
        .orderBy("doc_id", "frame_idx"))
  )

  val oracles: Map[String, String] = Map(
    // closed forms over w = 8 + id%9, h = 8 + id%7, base = id%200:
    //   Σ_pixels r = Σ_y Σ_x (base+x) = h·(w·base + w(w-1)/2)
    //   Σ_pixels g = w·(h·base + h(h-1)/2)
    //   Σ_pixels b = w·h·base + h·w(w-1)/2 + w·h(h-1)/2
    // 89504e47 is the real PNG signature's first four bytes.
    "mm_decode_meta" ->
      """WITH sp AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
        |         doc_id % 200 AS base
        |  FROM documents)
        |SELECT doc_id, '89504e47' AS magic,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels,
        |  CAST(h * (w * base + w * (w - 1) // 2) AS BIGINT) AS sum_r,
        |  CAST(w * (h * base + h * (h - 1) // 2) AS BIGINT) AS sum_g,
        |  CAST(w * h * base + h * (w * (w - 1) // 2)
        |       + w * (h * (h - 1) // 2) AS BIGINT) AS sum_b
        |FROM sp ORDER BY doc_id""".stripMargin,

    // resized image keeps pixels at even (x, y): rw = (w+1)//2,
    // rh = (h+1)//2, and Σ over even x of x = 2·(rw(rw-1)/2) = rw(rw-1)
    "mm_resize_stats" ->
      """WITH sp AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
        |         doc_id % 200 AS base
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, base, (w + 1) // 2 AS rw, (h + 1) // 2 AS rh
        |  FROM sp)
        |SELECT doc_id,
        |  CAST(rw AS BIGINT) AS rw, CAST(rh AS BIGINT) AS rh,
        |  CAST(rh * (rw * base + rw * (rw - 1)) AS BIGINT) AS sum_r,
        |  CAST(rw * (rh * base + rh * (rh - 1)) AS BIGINT) AS sum_g,
        |  CAST(rw * rh * base + rh * rw * (rw - 1)
        |       + rw * rh * (rh - 1) AS BIGINT) AS sum_b
        |FROM r ORDER BY doc_id""".stripMargin,

    // perceptual groups == the four patterns (aHash is exactly
    // brightness-invariant and the four 8×8 bit grids are pairwise
    // distinct — right-half / bottom-half / lower-triangle / checker,
    // MultimodalSpec pins this); dup_group = min doc of the pattern
    // class, which is the class index itself since docs 0..3 exist
    "mm_phash_dedup" ->
      """SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY doc_id % 4) AS dup_group,
        |  count(*) OVER (PARTITION BY doc_id % 4) AS group_size
        |FROM documents ORDER BY doc_id""".stripMargin,

    // near-dup relation provable from the spec: ≤2 ⇔ same pattern
    // (same id%16); distance is 0 iff also same flip cell (same
    // id div 16 % 8), else exactly 2 — the oracle names the geometry,
    // the engine must reproduce it through a real codec round-trip
    "mm_phash_near" ->
      """SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(CASE WHEN (a.doc_id // 16) % 8 = (b.doc_id // 16) % 8
        |    THEN 0 ELSE 2 END AS BIGINT) AS hamming
        |FROM documents a JOIN documents b
        |  ON a.doc_id < b.doc_id AND a.doc_id % 16 = b.doc_id % 16
        |ORDER BY id1, id2""".stripMargin,

    // cluster-representative output: the near relation is exactly
    // "same pattern class" (see mm_phash_near), so the component of a
    // doc is its id%16 class and the representative its minimum —
    // named arithmetically while the engine must earn it through the
    // codec round-trip, the banded Hamming join, and the
    // connected-components reduction
    "mm_phash_cluster" ->
      """SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY doc_id % 16) AS cluster_id
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the incremental merge must equal the full recompute — identical
    // oracle to mm_phash_cluster (the star-forest merge loses nothing)
    "mm_phash_incr" ->
      """SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY doc_id % 16) AS cluster_id
        |FROM documents ORDER BY doc_id""".stripMargin,

    // n = 400 + id%100 frames of sample a+i, a = id%500:
    // Σ = n·a + n(n-1)/2, min = a, max = a+n-1; header says mono,
    // 8 kHz, 16-bit
    "mm_audio_meta" ->
      """WITH sp AS (
        |  SELECT doc_id, 400 + doc_id % 100 AS n, doc_id % 500 AS a
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(n AS BIGINT) AS n_frames, CAST(1 AS BIGINT) AS channels,
        |  CAST(8000 AS BIGINT) AS sample_rate, CAST(16 AS BIGINT) AS bits,
        |  CAST(n * a + n * (n - 1) // 2 AS BIGINT) AS sum_s,
        |  CAST(a AS BIGINT) AS min_s,
        |  CAST(a + n - 1 AS BIGINT) AS max_s
        |FROM sp ORDER BY doc_id""".stripMargin,

    // Text is pure ASCII (verified), so byte offsets == char offsets
    // and the oracle can mirror the binary ops on strings.
    "mm_frame_sample" ->
      """WITH p AS (
        |  SELECT doc_id, 'IMG0' || text AS payload,
        |         CAST(length('IMG0' || text) // 100 AS INTEGER) AS n_frames
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, ((n_frames - 1) // 3) + 1),
        |                          i -> i * 3)) AS frame_idx,
        |    payload
        |  FROM p WHERE n_frames >= 1)
        |SELECT doc_id, frame_idx,
        |  md5(substr(payload, frame_idx * 100 + 1, 100)) AS frame_md5
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin
  )
}
