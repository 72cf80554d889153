package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR (default: the sf0.1 test data) and prints ONE JSON
  * line {"metric","value","unit","queries",...,"errors","sf"}. The stdout
  * line is size-capped (the harness keeps only a 2000-char tail): the
  * slowest queries are itemized, the rest aggregate under "others", and
  * the complete per-query detail lands in ./BENCH_FULL.json.
  *
  * Parallelism is SPARK_GRAFT_CPUS, else every core the machine has
  * (`Sessions.cpus`).
  *
  * Methodology:
  *
  *   - every query is timed as its FULL ANSWER (`fullAnswer`: every
  *     output column and the declared ORDER BY), from building its
  *     DataFrame to the last row;
  *   - every query runs once COLD (plan compile + JIT + first data
  *     read), then 3 more times; the reported steady figure is the
  *     per-query MINIMUM of those 3. External CPU pressure only ever adds
  *     time, so the minimum converges on the machine-idle cost;
  *   - harness-visible state is reset outside every timed region:
  *     caches and persisted RDDs after each query (`Sessions.reset`), and
  *     the /tmp scratch area of the write-path queries before each pass,
  *     so no pass reads or lists another pass's output files. Bucketed /
  *     CTAS warehouse tables are written once per JVM by design and stay
  *     in place: they model a materialized layout, not leaked state;
  *   - a query that throws still reports its time-to-failure, is listed
  *     in "errors", and its cause goes to stderr as
  *     `[bench] <name> failed: <message>`. Every Throwable is caught: an
  *     unattended run must still produce its artifact.
  */
object Bench {

  private val steadyPasses = 3

  /** The one timed action. Spark's `noop` sink evaluates every row and
    * every column of the plan, in its declared order, and discards the
    * result; a `count()` would let Catalyst prune columns and sorts away
    * (BenchSpec fails if that happens). */
  private[graft] def fullAnswer(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cpus())
    // pay session startup outside every timed region
    Tables(spark, sfDir, "lineitem").count()
    Tables(spark, sfDir, "orders").count()
    // PDF→text is a load job in the reference (3B2_load_pdf_to_text.sql),
    // not an analyst query: its CTAS runs here, so vw_invoice_view's cold
    // pass times the first read of the materialized table. ANN index
    // builds and bucketed layouts stay INSIDE the cold pass: cold = build
    // + first search, steady = recurring search.
    graft.sources.Bucketing.writeInvoiceTextOnce(spark, sfDir)

    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    val failed = mutable.LinkedHashSet.empty[String]
    def pass(): Seq[(String, Double)] = {
      FileUtils.deleteQuietly(new java.io.File("/tmp/graft_scratch"))
      queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try fullAnswer(fn(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed += name
        }
        val elapsed = (System.nanoTime() - t0) / 1e9
        Sessions.reset(spark)
        name -> elapsed
      }
    }
    val cold = pass()
    val steady = Seq.fill(steadyPasses)(pass()).transpose
      .map(s => s.head._1 -> s.map(_._2).min)

    def r3(v: Double): String = f"$v%.3f"
    def js(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val head = s""""metric":"total","value":${r3(steady.map(_._2).sum)},"unit":"sec""""
    val tail = s""""cold_total":${r3(cold.map(_._2).sum)},"errors":$errs,"sf":"$sfDir""""
    try Files.writeString(Paths.get("BENCH_FULL.json"),
      s"""{$head,"queries":${js(steady)},"queries_cold":${js(cold)},$tail}""" + "\n")
    catch { case _: Throwable => () } // a read-only cwd must not kill the run
    // Final stdout line: a complete JSON object under the 2000-char
    // capture window. The slowest queries stay itemized; the rest fold
    // into "others" (count + summed seconds).
    val bySlow = steady.sortBy(-_._2)
    def line(k: Int): String = {
      val rest = bySlow.drop(k)
      val others = if (rest.isEmpty) "" else
        s""","others":{"n":${rest.size},"sum":${r3(rest.map(_._2).sum)}}"""
      s"""{$head,"queries":${js(bySlow.take(k).sortBy(_._1))}$others,$tail,"full":"BENCH_FULL.json"}"""
    }
    var k = bySlow.size
    while (k > 1 && line(k).length > 1600) k -= 1
    println(line(k))
    spark.stop()
  }
}
