package graft
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Its last
  * stderr line counts the run's Janino compiles: one per codegen cache
  * miss, so with a cache that never evicts it is the number of distinct
  * generated sources the dumped queries need. The milliseconds are
  * `CodeGenerator.compileTime`, an exact sum; Spark's compile-time
  * histogram keeps only a sample. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name filter for fast iteration
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Sessions.local(Sessions.cpus(4))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries cache reused intermediates (signatures, purchase sets);
      // drop them so storage memory doesn't accumulate across the suite
      Sessions.reset(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // {SFDIR} placeholders (file-catalog oracles) resolve to the dir this
    // dump actually ran against, so oracles track the scale factor.
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("{SFDIR}", sfDir))}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    val metaspaceMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName == "Metaspace").fold(0L)(_.getUsage.getUsed) >> 20
    System.err.println(
      s"[verify] codegen: ${CodegenMetrics.METRIC_COMPILATION_TIME.getCount}" +
        s" compiles, ${CodeGenerator.compileTime / 1000000} ms," +
        s" metaspace $metaspaceMb MB")
  }
}
