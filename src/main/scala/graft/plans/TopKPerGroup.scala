package graft.plans

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator Catalyst extension (the (c) route of SURVEY.md §7):
  * top-k rows per group as a first-class plan node.
  *
  * Why not a window? `row_number().over(partitionBy(g).orderBy(o)) <= k`
  * plans a WindowExec, which SORTS every group in full before discarding
  * all but k rows — at 100 TB that is a total sort of the fact table.
  * [[TopKPerGroupExec]] instead keeps a bounded k-element heap per group
  * in one pass: hash-shuffle by group (required child distribution —
  * EnsureRequirements inserts the exchange), then O(n log k) per
  * partition with O(groups·k) memory, no sort.
  */
final case class TopKPerGroup(groupExprs: Seq[Expression],
                              order: Seq[SortOrder], k: Int,
                              child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): TopKPerGroup =
    copy(child = c)
}

final case class TopKPerGroupExec(groupExprs: Seq[Expression],
                                  order: Seq[SortOrder], k: Int,
                                  child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupExprs) :: Nil

  // rows never move between partitions, so a range-partitioned child
  // still satisfies a later ORDER BY on the group keys without a shuffle
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val g = groupExprs
    val so = order
    val kk = k
    child.execute().mapPartitions { iter =>
      val groupProj = UnsafeProjection.create(g, childOutput)
      val ord: Ordering[InternalRow] = RowOrdering.create(so, childOutput)
      // scala PriorityQueue dequeues the MAX per ordering; under `ord`
      // (compare < 0 = ranks earlier) the head is the WORST survivor —
      // exactly the eviction candidate.
      val heaps =
        mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      iter.foreach { row =>
        val key = groupProj(row)
        heaps.get(key) match {
          case Some(heap) =>
            if (heap.size < kk) heap.enqueue(row.copy())
            else if (ord.compare(row, heap.head) < 0) {
              heap.dequeue(); heap.enqueue(row.copy())
            }
          case None =>
            val heap = mutable.PriorityQueue.empty(ord)
            heap.enqueue(row.copy())
            heaps.put(key.copy(), heap)
        }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): TopKPerGroupExec =
    copy(child = c)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, child) =>
      TopKPerGroupExec(g, o, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** User-facing API. Columns are named and resolved here against the
  * child's analyzed output (the Column→Expression bridge yields lazy
  * ColumnNode wrappers that generic analyzer rules do not unwrap inside
  * a foreign plan node). */
object TopK {
  def register(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraStrategies.contains(TopKStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    }
  }

  /** `orderCols`: (column name, descending?). */
  def perGroup(df: DataFrame, groupCols: Seq[String],
               orderCols: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    register(spark)
    val child = GraftSqlBridge.analyzedPlan(df)
    def attr(n: String): Attribute = child.output
      .find(_.name.equalsIgnoreCase(n))
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not in ${child.output.map(_.name).mkString(",")}"))
    val g = groupCols.map(attr)
    val so = orderCols.map { case (n, desc) =>
      SortOrder(attr(n),
        if (desc) org.apache.spark.sql.catalyst.expressions.Descending
        else Ascending)
    }
    GraftSqlBridge.ofRows(spark, TopKPerGroup(g, so, k, child))
  }
}
