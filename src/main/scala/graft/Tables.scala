package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table readers over a scale-factor directory (see TESTDATA.md).
  *
  * Mirrors the reference's qualified-name table scans
  * (`code/curate/02_customer_sp.sql:22` `session.table(...)`) re-expressed as
  * self-describing Parquet reads — the scan is vectorized (`ColumnarBatch`)
  * and Catalyst pushes filters/projections down to the parquet reader.
  *
  * Each table's schema is resolved once per file version, as the
  * reference's `CREATE TABLE … USING TEMPLATE (… INFER_SCHEMA …)`
  * (`3A_load_cust_data.sql:6-19`) types a raw table once at load:
  * Spark's own parquet inference is a one-task footer-read job, which
  * every plain `spark.read.parquet` pays again.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    resolvedSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** What a schema was inferred from: the name, length and modification
    * time of every entry directly under the path (the file itself for a
    * single-file table; the part files, renamed on every rewrite, for a
    * Spark-written directory), and the session confs that steer Spark's
    * parquet -> Catalyst type conversion. */
  private final case class Resolved(files: Seq[(String, Long, Long)],
                                    conf: Map[String, String],
                                    schema: StructType)

  // one entry per qualified path, JVM-wide and shared by every session;
  // an entry whose files or confs no longer match (Tables.events flips
  // nanosAsLong) is re-inferred and replaced
  private val resolved = new ConcurrentHashMap[String, Resolved]()

  /** The schema `spark.read.parquet(path)` would infer, inferred at most
    * once per (file version, conf snapshot); None when the path does not
    * list, so the caller's plain read raises Spark's own PATH_NOT_FOUND. */
  private def resolvedSchema(spark: SparkSession,
                             path: String): Option[StructType] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val listing =
      try Some(fs.listStatus(p))
      catch { case _: FileNotFoundException => None }
    listing.map { entries =>
      val files = entries.toSeq
        .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
        .sorted
      val conf = spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") ||
          k.startsWith("spark.sql.legacy.parquet.") ||
          k == "spark.sql.caseSensitive"
      }
      val key = fs.makeQualified(p).toString
      val hit = resolved.get(key)
      if (hit != null && hit.files == files && hit.conf == conf) hit.schema
      else {
        val schema = spark.read.parquet(path).schema
        resolved.put(key, Resolved(files, conf, schema))
        schema
      }
    }
  }

  /** Raise a narrow source's parallelism to the cluster default before
    * heavy per-row compute (signature hashing, shingling, codecs): a
    * single large unsplittable input (one parquet row group, a .gz
    * text file) delivers ONE input split regardless of
    * maxPartitionBytes, serializing every downstream expression until
    * the first exchange. Round-robin repartition right after the read
    * is the standard fix (optimization guide §2.5 "input skew"; the
    * Multimodal codec paths already do this with a measured 2× win) —
    * and a source already at ≥ default parallelism returns untouched,
    * so wide production scans skip the extra exchange. Keyless
    * repartition is deterministic (sort-before-repartition) and every
    * consumer aggregates by key, so results are unaffected. Call only
    * on raw scans / narrow projections: deciding the no-op branch
    * plans the frame once. The probe reads `queryExecution.toRdd`, the
    * frame's own cached execution RDD, not `Dataset.rdd`, which would
    * build an extra deserializer lineage just to count partitions
    * (ADVICE r10). No job runs either way. */
  def spread(df: DataFrame): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions >= n) df
    else df.repartition(n)
  }

  /** `events.parquet` has shipped with two physical `ts` encodings across
    * generator versions: `TIMESTAMP(NANOS)` (which Spark's parquet reader
    * rejects — read nanos as long via the legacy conf and rebuild a
    * microsecond timestamp with exact integer `div`, not float `/`) and
    * plain `timestamp[us]` (decoded as TIMESTAMP_NTZ). Branch on the decoded
    * type and normalize both to session-zone `TimestampType` — every session
    * here runs UTC, so the NTZ→TZ cast is instant-preserving and downstream
    * `unix_micros`/window arithmetic sees identical values either way.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Register the tables used by a `spark.sql` query as temp views (S9). */
  def register(spark: SparkSession, dir: String, tables: String*): Unit = {
    val ts = if (tables.isEmpty) names else tables
    ts.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
  }
}
