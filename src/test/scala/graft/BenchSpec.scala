package graft

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Guards Bench's one timed action: the executed plan of
  * `Bench.fullAnswer` must compute every output column of the query and
  * keep its declared ORDER BY. A `count()` in its place lets Catalyst
  * prune the computed columns and drop the sort. */
class BenchSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** The executed plan of the query execution `action` runs over `df`
    * (recognised by `df`'s own attribute ids, so a late event of an
    * earlier suite's query is never taken for it). */
  private def executedPlan(df: DataFrame)(action: => Unit): SparkPlan = {
    val ids = df.queryExecution.analyzed.output.map(_.exprId).toSet
    def over(qe: QueryExecution): Boolean =
      qe.analyzed.find(_.output.exists(a => ids(a.exprId))).isDefined
    val seen = Promise[QueryExecution]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (over(qe)) seen.trySuccess(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        if (over(qe)) seen.tryFailure(e)
    }
    spark.listenerManager.register(l)
    try { action; Await.result(seen.future, 60.seconds).executedPlan }
    finally spark.listenerManager.unregister(l)
  }

  /** The columns the plan produces: a write's input, else its output. */
  private def produced(plan: SparkPlan): Seq[String] = plan match {
    case w: V2TableWriteExec => w.query.output.map(_.name)
    case p => p.output.map(_.name)
  }

  private def sorts(plan: SparkPlan): Int =
    collect(plan) { case s: SortExec if s.global => s }.size

  private def ranked: DataFrame =
    spark.range(0, 1000)
      .withColumn("sq", col("id") * col("id") % 997)
      .withColumn("tag", concat(lit("k"), col("id").cast("string")))
      .orderBy(col("sq").desc, col("id"))

  test("fullAnswer computes every output column and keeps the ORDER BY") {
    val df = ranked
    val plan = executedPlan(df)(Bench.fullAnswer(df))
    assert(produced(plan) === Seq("id", "sq", "tag"), plan)
    assert(sorts(plan) === 1, plan)
  }

  test("the same check catches a count()") {
    val df = ranked
    val plan = executedPlan(df)(df.count())
    assert(produced(plan) !== Seq("id", "sq", "tag"))
    assert(sorts(plan) === 0, plan)
  }
}
