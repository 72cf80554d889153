package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit,
  LogicalPlan, Project, Sort, SubqueryAlias, V2WriteCommand}
import org.apache.spark.sql.execution.{QueryExecution, SortExec,
  TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables
import graft.jobs.{CustomerStandardize, InvoiceParse, SalesEnrich}
import graft.operators.Curation
import graft.streaming.ChainedDag

/** Guards the benchmark's one timed action: every timed query must be
  * evaluated as its full answer. The executed plan of the action has to
  * produce every column of the query's schema, and keep its declared
  * ORDER BY. Swapping the noop write for `count()` (or any other action
  * Catalyst can prune under) turns these tests red. */
class FullAnswerSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val root = {
    val d = new File("target/full-answer-spec")
    d.mkdirs()
    d
  }
  private lazy val spark = Harness.session(root)
  private lazy val ctx = new Ctx(spark, "data/sf0.01", root, 1L)

  /** Every query execution `body` runs, in order. */
  private def executions(body: => Unit): Seq[QueryExecution] = {
    val seen = mutable.ArrayBuffer.empty[QueryExecution]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized(seen += qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val lm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager
    lm.register(l)
    try { body; Bus.drain(spark.sparkContext) } finally lm.unregister(l)
    seen.synchronized(seen.toSeq)
  }

  /** The columns the action's plan produces: a write's input, or the
    * plan's own output for any other action. */
  private def produced(qe: QueryExecution): Seq[String] =
    qe.optimizedPlan match {
      case w: V2WriteCommand => w.query.output.map(_.name)
      case p => p.output.map(_.name)
    }

  /** The query ends in an ORDER BY (possibly under a projection or a
    * LIMIT), as opposed to a sort inside one of its inputs. */
  private def declaresOrder(p: LogicalPlan): Boolean = p match {
    case _: Sort => true
    case _: Project | _: GlobalLimit | _: LocalLimit | _: SubqueryAlias =>
      declaresOrder(p.children.head)
    case _ => false
  }

  private def keepsOrder(qe: QueryExecution): Boolean =
    collect(qe.executedPlan) {
      case s: SortExec if s.global => s
      case t: TakeOrderedAndProjectExec => t
    }.nonEmpty

  private def assertFull(df: DataFrame, action: => Unit): Unit = {
    val timed = executions(action).last
    assert(produced(timed) === df.schema.fieldNames.toSeq,
      s"timed action dropped columns:\n${timed.optimizedPlan}")
    if (declaresOrder(df.queryExecution.analyzed))
      assert(keepsOrder(timed),
        s"timed action dropped the ORDER BY:\n${timed.executedPlan}")
  }

  Serve.queries.foreach { q =>
    test(s"$q is timed as its full answer") {
      val df = Query.build(ctx, q)
      assertFull(df, Query.run(ctx, q, None))
    }
  }

  test("the curation and stream layer twins are timed as full answers") {
    val s = spark
    val d = ctx.data
    Seq(
      CustomerStandardize.transform(Curation.customerInput(s, d)),
      InvoiceParse.parse(Curation.invoiceRawText(s, d)),
      SalesEnrich.transform(Tables(s, d, "lineitem"), Tables(s, d, "orders"),
        Tables(s, d, "customer"), Tables(s, d, "part")),
      ChainedDag.curate(s.read.format("txnfeed").option("total", "1000")
        .load())
    ).foreach(df => assertFull(df, FullAnswer.run(df)))
  }

  test("a count() is caught") {
    val df = Query.build(ctx, "j3_unpaid_orders")
    val timed = executions(df.count()).last
    assert(produced(timed) !== df.schema.fieldNames.toSeq)
  }
}
