package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.RowPattern.SkipMode
import graft.operators.EventAnalytics
import graft.streaming.CepPattern

/** Every streaming output mode of streaming/CepPattern against its
  * batch fold in operators/EventAnalytics, over generated traces:
  * flatMapGroupsWithState runs on a batch frame too (each key's whole
  * history in one group), so the stream's confirmed emissions must
  * equal the fold's. Patterns are terminator-disjoint and every trace
  * ends with a code no pattern matches (`x`), so every match confirms
  * before end of input and the fold's end-of-entity flush adds
  * nothing. Codes come from `event_type` directly (v/c/p/o/x); the
  * classifier forms read U/D/e from `value` against PREV, and `x` on
  * the closing event.
  */
class CepTraceSpec extends SparkSpec {

  /** (user_id, event_id, ts, event_type, value, mv) — the parsed-stream
    * shape plus a LONG measure; ts ties are broken by event_id. */
  private def traces(seed: Long): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    var id = 0L
    val rows = (1L to 40L).flatMap { u =>
      val n = rnd.nextInt(50)
      (0 to n).map { i =>
        id += 1
        val code = if (i == n) "x" else "vcpo" (rnd.nextInt(4)).toString
        (u, id, i / 2 * 1000000L, code, rnd.nextInt(6).toDouble,
          rnd.nextInt(1000).toLong)
      }
    }
    rows.toDF("user_id", "event_id", "us", "event_type", "value", "mv")
      .withColumn("ts", timestamp_micros(col("us")))
      .select("user_id", "event_id", "ts", "event_type", "value", "mv")
  }

  private val classify: (Row, Row) => Char = (prev, cur) =>
    if (cur.getAs[String]("event_type") == "x") 'x'
    else if (prev == null) 'o'
    else {
      val p = prev.getAs[Double]("value")
      val c = cur.getAs[Double]("value")
      if (c > p) 'U' else if (c < p) 'D' else 'e'
    }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private val key = Seq("user_id")
  private val order = Seq("ts", "event_id")

  test("every streaming mode equals its batch fold on generated traces") {
    for (seed <- Seq(20261020L, 7L)) {
      val ev = traces(seed)
      val coded = ev.selectExpr("user_id", "unix_micros(ts) AS us",
        "event_id", "event_type AS code")
      val cents = "cast(cast(value as decimal(18,2)) * 100 as long)"
      def stream(ds: org.apache.spark.sql.Dataset[_]): DataFrame = ds.toDF()
      def check(mode: String, got: DataFrame, want: DataFrame): Unit = {
        val (g, w) = (rows(got), rows(want))
        assert(g == w, s"seed $seed $mode: stream ${g -- w} batch ${w -- g}")
        assert(w.nonEmpty, s"seed $seed $mode: nothing matched")
      }

      // code-column forms
      check("counts", stream(CepPattern.matches(spark, ev, "v[co]*p",
          codeExpr = "event_type")).select("user_id", "n_matches"),
        EventAnalytics.matchCountsOf(coded, "v[co]*p"))
      check("spans", stream(CepPattern.matchSpans(spark, ev, "v[co]*p",
          codeExpr = "event_type")).drop("match_seq"),
        EventAnalytics.matchSpansOf(coded, "v[co]*p"))
      check("rows", stream(CepPattern.matchRows(spark, ev, "v[co]*p",
          codeExpr = "event_type")),
        EventAnalytics.matchRowsOf(coded, "v[co]*p"))
      check("measures", stream(CepPattern.matchMeasures(spark, ev,
          "v[co]*p", codeExpr = "event_type", valueExpr = cents)),
        EventAnalytics.matchMeasuresOf(coded.join(
          ev.selectExpr("event_id", s"$cents AS v"), "event_id")
          .select("user_id", "us", "event_id", "code", "v"), "v[co]*p"))
      val funnelComps = Seq("s" -> "v", "d" -> "c+", "u" -> "p+")
      check("skip", stream(CepPattern.matchSkip(spark, ev, funnelComps,
          SkipMode.ToLast("u"), codeExpr = "event_type"))
          .select("user_id", "match_seq", "start_event_id",
            "end_event_id", "n_events"),
        EventAnalytics.matchSpansSkip(ev, funnelComps, SkipMode.ToLast("u"),
          key, order, "event_id")(
          (_, cur) => cur.getAs[String]("event_type").charAt(0)))

      // DEFINE/PREV classifier forms
      check("counts by", stream(CepPattern.matchesBy(spark, ev, "U+D")(
          classify)).select("user_id", "n_matches"),
        EventAnalytics.matchCountsClassified(ev, "U+D", key, order)(
          classify))
      check("spans by", stream(CepPattern.matchSpansBy(spark, ev, "U+D")(
          classify)).select("user_id", "match_seq", "start_event_id",
          "end_event_id", "n_events"),
        EventAnalytics.matchSpansClassified(ev, "U+D", key, order,
          "event_id")(classify))
      check("running rows by", stream(CepPattern.matchRowsRunningBy(spark,
          ev, "U+D", measureCol = "mv")(classify)),
        EventAnalytics.matchRowsRunning(ev, "U+D", key, order, "event_id",
          "mv")(classify))
      val vComps = Seq("s" -> "[^x]", "d" -> "D+", "u" -> "U*")
      for (skip <- Seq(SkipMode.PastLast, SkipMode.ToFirst("d"))) {
        val wide = EventAnalytics.matchVarMeasures(ev, vComps, skip, key,
          order, "event_id", "mv", subsets = Seq("w" -> Seq("d", "u")))(
          classify)
        check(s"var measures by $skip", stream(CepPattern
            .matchVarMeasuresBy(spark, ev, vComps, skip,
              measureCol = "mv", subsets = Seq("w" -> Seq("d", "u")))(
              classify)),
          wide.select(col("user_id"), col("match_seq"), inline(array(
            Seq("s", "d", "u", "w").map(n => struct(lit(n).as("v"),
              col(s"${n}_n").as("n"), col(s"${n}_sum").as("s"))): _*))))
        val nav = EventAnalytics.matchVarNav(ev, vComps, skip, key, order,
          "event_id", "mv")(classify)
        check(s"var nav by $skip", stream(CepPattern.matchVarNavBy(spark,
            ev, vComps, skip, measureCol = "mv")(classify)),
          nav.select(col("user_id"), col("match_seq"), col("start_id"),
            col("end_id"), inline(array(Seq("s", "d", "u").map(n =>
              struct(lit(n).as("v"), col(s"${n}_first").as("f"),
                col(s"${n}_last").as("l"))): _*))))
        check(s"labeled rows by $skip", stream(CepPattern.matchRowsSkipBy(
            spark, ev, vComps, skip)(classify)),
          EventAnalytics.matchRowsSkip(ev, vComps, skip, key, order,
            "event_id")(classify))
      }
    }
  }
}
