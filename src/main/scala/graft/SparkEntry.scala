package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** A module of named queries, each with the DuckDB SQL it is checked
  * against. */
trait QuerySet {
  type Q = (SparkSession, String) => DataFrame
  def queries: Map[String, Q]
  def oracles: Map[String, String]
}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's unpaid-invoice analysis
    * (streamlit/pages/2_unpaid_invoice_analysis.py:10-15) over testdata. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.queries("j3_unpaid_orders")(spark, "/root/testdata/sf0.001")

  /** Every query module, each listed once; both maps below derive from
    * this list. */
  lazy val modules: Seq[QuerySet] = {
    import operators._
    Seq(Relational, Projections, Curation, Dedup, Similarity, TextAnalysis,
      Streaming, Multimodal, Recommender, Extensions, FuzzyJoin, CorpusPrep,
      AsOf, Sketch, Maintenance, CorpusPipeline, CorpusQuality, Sessionize,
      EventAnalytics, SemanticDedup, JoinReduction, Clustering, ProductQuant,
      Typed, Graph, Spectral, IvfPq, TimeSeries, Classify, DataQuality,
      Skyline, Affinity, Collocations, Spatial, Walks, Hierarchy, Density,
      Diagnostics, sources.Sources, sources.Bucketing)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    merge(modules.map(_.queries))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] = merge(modules.map(_.oracles))

  /** Union of per-module maps that fails, naming the key, when two
    * modules register the same name (`++` would keep the last one). */
  def merge[V](maps: Seq[Map[String, V]]): Map[String, V] = {
    val dups = maps.flatMap(_.keys).groupBy(identity)
      .collect { case (k, ks) if ks.size > 1 => k }
    require(dups.isEmpty,
      s"query name registered by two modules: ${dups.toSeq.sorted.mkString(", ")}")
    maps.flatten.toMap
  }
}
