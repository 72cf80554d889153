package graft

import org.apache.spark.sql.SparkSession

/** The one local-session recipe for graft's mains and specs: `local[n]`
  * with shuffle partitions pinned to the worker count (tiny-data
  * shuffles don't fan out into hundreds of empty tasks), UTC session
  * time, no UI, WARN logging. Library callers build their own sessions;
  * nothing here is required by the query code.
  */
object Sessions {

  /** Worker threads: `SPARK_GRAFT_CPUS` when set, else `default`
    * (every core the machine has unless the caller says otherwise). */
  def cpus(default: Int = Runtime.getRuntime.availableProcessors()): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)

  /** Build (or join, via `getOrCreate`) a local session; `configure`
    * adds caller-specific confs or extensions on top of the recipe. */
  def local(cpus: Int, appName: String = "graft",
            configure: SparkSession.Builder => SparkSession.Builder =
              identity): SparkSession = {
    val s = configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Drop everything one query left in storage memory: cached
    * Datasets, and also raw persisted RDDs (the iterative queries'
    * localCheckpoint blocks), which `catalog.clearCache()` misses. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
