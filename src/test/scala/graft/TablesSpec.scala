package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** `Tables` resolves a raw table's schema once per file version: each
  * read must still see exactly what `spark.read.parquet` would infer,
  * and a repeat read of unchanged files must launch no Spark job. */
class TablesSpec extends SparkSpec {

  private def plain(dir: String, name: String) =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Run `conf` set to `value` (None = unset) around `body`, then put
    * the session's prior value back. */
  private def withConf[T](key: String, value: Option[String])(body: => T): T = {
    val prior = spark.conf.getOption(key)
    value.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Jobs `body` launches from this thread. Each call tags its jobs with
    * a fresh job group, then runs a marker job: the listener bus
    * delivers events in order, so once the marker's start arrives every
    * job of `body` has been counted. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-marker" => markerSeen = true
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "tables spec reads")
      body
      sc.setJobGroup(s"$group-marker", "tables spec marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000
      while (!markerSeen && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(markerSeen, "listener bus never delivered the marker job")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def tempDir(): String =
    Files.createTempDirectory("graft-tables-spec").toString

  test("every raw table reads with the schema Spark infers") {
    for (n <- Tables.names)
      assert(Tables(spark, sf, n).schema === plain(sf, n).schema, n)
    for (nanosAsLong <- Seq("true", "false"))
      withConf("spark.sql.legacy.parquet.nanosAsLong", Some(nanosAsLong)) {
        assert(Tables(spark, sf, "events").schema ===
          plain(sf, "events").schema, s"nanosAsLong=$nanosAsLong")
      }
  }

  test("a parquet conf that changes inference gets its own schema") {
    // events.ts is an un-adjusted TIMESTAMP(MICROS): NTZ by default,
    // session-zone TIMESTAMP with NTZ inference off
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    for ((value, expected) <- Seq("false" -> TimestampType,
                                  "true" -> TimestampNTZType))
      withConf(key, Some(value)) {
        val schema = Tables(spark, sf, "events").schema
        assert(schema === plain(sf, "events").schema, s"$key=$value")
        assert(schema("ts").dataType === expected, s"$key=$value")
      }
  }

  test("a repeat read of unchanged files launches no job") {
    Tables(spark, sf, "orders")
    assert(jobsOf(Tables(spark, sf, "orders")) === 0)
    // the listener does see the inference job of a first read
    val dir = tempDir()
    spark.range(5).toDF("k").write.parquet(s"$dir/fresh.parquet")
    assert(jobsOf(Tables(spark, dir, "fresh")) > 0)
    assert(jobsOf(Tables(spark, dir, "fresh")) === 0)
  }

  test("a table rewritten in place reads with its new schema") {
    val dir = tempDir()
    spark.range(3).toDF("a").write.parquet(s"$dir/x.parquet")
    assert(Tables(spark, dir, "x").columns.toSeq === Seq("a"))
    spark.range(3).select(col("id").as("b"), lit("s").as("c"))
      .write.mode("overwrite").parquet(s"$dir/x.parquet")
    val after = Tables(spark, dir, "x")
    assert(after.schema === plain(dir, "x").schema)
    assert(after.columns.toSeq === Seq("b", "c"))
    assert(after.count() === 3)
    // a single-file table replaced by another file
    val file = Paths.get(s"$dir/y.parquet")
    Files.copy(Paths.get(s"$sf/region.parquet"), file)
    assert(Tables(spark, dir, "y").schema === plain(sf, "region").schema)
    Files.copy(Paths.get(s"$sf/nation.parquet"), file,
      StandardCopyOption.REPLACE_EXISTING)
    assert(Tables(spark, dir, "y").schema === plain(sf, "nation").schema)
    assert(Tables(spark, dir, "y").count() === plain(sf, "nation").count())
  }

  test("symlinked tables read like their targets") {
    // the Soak dims shadow corpus: symlinks to Spark-written directories
    val dir = tempDir()
    Tables(spark, sf, "part").write.parquet(s"$dir/real/part.parquet")
    Files.createDirectories(Paths.get(s"$dir/dims"))
    Files.createSymbolicLink(Paths.get(s"$dir/dims/part.parquet"),
      Paths.get(s"$dir/real/part.parquet"))
    Files.createSymbolicLink(Paths.get(s"$dir/dims/region.parquet"),
      Paths.get(s"$sf/region.parquet"))
    for (n <- Seq("part", "region")) {
      val viaLink = Tables(spark, s"$dir/dims", n)
      assert(viaLink.schema === plain(sf, n).schema, n)
      assert(viaLink.exceptAll(plain(sf, n)).isEmpty, n)
      assert(viaLink.count() === plain(sf, n).count(), n)
    }
  }

  test("a missing table fails with Spark's own error class") {
    val dir = tempDir()
    val expected = intercept[AnalysisException](plain(dir, "nope"))
    val got = intercept[AnalysisException](Tables(spark, dir, "nope"))
    assert(got.getCondition === expected.getCondition)
    assert(got.getCondition === "PATH_NOT_FOUND")
  }

  test("two reads of one table self-join on a real condition") {
    val a = Tables(spark, sf, "part")
    val b = Tables(spark, sf, "part")
    val joined = a.join(b, a("p_partkey") === b("p_partkey"))
    // p_partkey is unique: a trivially-true condition would give n^2
    assert(joined.count() === a.count())
    assert(joined.filter(a("p_name") =!= b("p_name")).isEmpty)
  }
}
