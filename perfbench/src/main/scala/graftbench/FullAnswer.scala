package graftbench

import org.apache.spark.sql.DataFrame

/** The one action every timed query goes through. Spark's `noop` sink
  * evaluates every row and every column of the plan, in its declared
  * order, and discards the result. A `count()` here would let Catalyst
  * prune columns and sorts away; FullAnswerSpec fails if that happens. */
object FullAnswer {
  def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
