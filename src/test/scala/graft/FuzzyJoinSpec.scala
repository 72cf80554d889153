package graft

import org.apache.spark.sql.functions._
import graft.operators.{Extensions, FuzzyJoin}

class FuzzyJoinSpec extends SparkSpec {

  test("passjoin pairs exactly match the length-bucket variant") {
    val pass = FuzzyJoin.queries("dd_fuzzy_passjoin")(spark, sf).collect()
    val bucket =
      Extensions.queries("dd_fuzzy_levenshtein")(spark, sf).collect()
    assert(pass.map(_.toSeq).toSeq === bucket.map(_.toSeq).toSeq)
    assert(pass.nonEmpty) // the comparison must not be vacuous
  }

  test("pigeonhole candidates are a superset of true pairs") {
    val cands = FuzzyJoin.candidatePairs(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val truth = Extensions.queries("dd_fuzzy_levenshtein")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(truth.subsetOf(cands))
  }

  test("content keys stay sub-quadratic where length buckets go dense") {
    // 2000 distinct strings, ALL the same length: the worst case for
    // length-bucket blocking (one bucket = all-pairs) and the normal
    // case for segment keys (distinct content, few shared substrings)
    import spark.implicits._
    val n = 2000
    val words = (0 until n)
      .map(i => f"${java.lang.Integer.toHexString(i * 2654435761L.toInt)}%8s"
        .replace(' ', '0') + f"$i%04d")
      .toDF("p_name")
    val dir = java.nio.file.Files.createTempDirectory("fj_vol").toString
    words.write.mode("overwrite").parquet(s"$dir/part.parquet")
    val cands = FuzzyJoin.candidatePairs(spark, dir).count()
    val allPairs = n.toLong * (n - 1) / 2
    assert(cands < allPairs / 50,
      s"candidates $cands vs all-pairs $allPairs")
  }

  test("synthetic edge cases: short strings, first-char edits, ties") {
    import spark.implicits._
    val words = Seq(
      "ab", "ac", "x", // both-short pool: every pair within tau
      "pigeonhole", "pigeonhole", // duplicate input collapses
      "wigeonhole", // substitution at position 0 (breaks prefix blocking)
      "pigeonholes", "igeonhole", // insert / delete at the edges
      "completely-different-string").toDF("p_name")
    val dir = java.nio.file.Files.createTempDirectory("fj_case").toString
    words.write.mode("overwrite").parquet(s"$dir/part.parquet")
    val got = FuzzyJoin.queries("dd_fuzzy_passjoin")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    val names = Seq("ab", "ac", "x", "pigeonhole", "wigeonhole",
      "pigeonholes", "igeonhole", "completely-different-string")
    val want = (for {
      a <- names; b <- names if a < b
      d = levDist(a, b) if d <= 3
    } yield (a, b, d)).sortBy(t => (t._1, t._2))
    assert(got.toSeq === want)
  }

  test("er_blocked_match: self-matches recalled, bounds hold, fuzz real") {
    val rows = FuzzyJoin.queries("er_blocked_match")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // every reported distance within the verify bound
    assert(rows.forall(_._3 <= 2))
    // every dirty record whose name survives 4-char blocking finds its
    // own master at distance ≤ 1 (mutations are single edits). The
    // documented blocking-recall exception: names shorter than 5 chars
    // (custkey < 100) lose BOTH 4-char keys under any length-changing
    // edit — the survivors are the no-op duplicate-3rd-char on 2-char
    // names (c < 10, c%4 = 2) and append-x on exactly-4-char names
    // (10 ≤ c < 100, c%4 = 3), where the prefix key is untouched.
    val self = rows.filter(t => t._1 == t._2).map(_._1).toSet
    val all = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val expectedMisses = all.filter(c =>
      c < 100 && !(c % 4 == 3 && c >= 10) && !(c % 4 == 2 && c < 10))
    assert(self === all -- expectedMisses)
    assert(rows.filter(t => t._1 == t._2).forall(_._3 <= 1))
    // blocking genuinely surfaces CROSS-record fuzzy matches too
    assert(rows.exists(t => t._1 != t._2))
  }

  test("er_entities: census partitions the match graph, algorithms agree") {
    val rows = FuzzyJoin.queries("er_blocked_match")(spark, sf)
      .filter(col("dist") <= 1)
      .select((col("dirty_id") * 2 + 1).as("u"),
        (col("matched_key") * 2).as("v"))
    val census = FuzzyJoin.queries("er_entities")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // entities partition the node set of the high-precision match graph
    val nNodes = rows.select(col("u").as("n"))
      .unionAll(rows.select(col("v").as("n"))).distinct().count()
    assert(census.values.sum === nNodes)
    // every entity spans at least one edge ⇒ ≥ 2 records
    assert(census.values.forall(_ >= 2))
    // cross-algorithm: a driver-side union-find yields the identical
    // census
    assert(census === UnionFind.census(
      rows.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq))
  }

  test("jaro-winkler: textbook values, boost threshold, prefix cap") {
    import graft.functions.JaroWinklerSim.compute
    // classic literature pairs (also DuckDB's jaro_winkler_similarity
    // outputs, probed to the last ulp)
    assert(compute("MARTHA", "MARHTA") === 0.9611111111111111)
    assert(compute("DWAYNE", "DUANE") === 0.8400000000000001)
    assert(compute("DIXON", "DICKSONX") === 0.8133333333333332)
    // boost applies only STRICTLY above 0.7
    assert(compute("ab", "ac") === 0.6666666666666666)
    assert(compute("aaaaaaaaaa", "aaaaabbbbb") === 0.6666666666666666)
    // prefix bonus caps at 4 even with a 6-char common prefix
    assert(compute("prefixaaaa", "prefixbbbb") === 0.8400000000000001)
    // edges: empty → 0 (DuckDB convention), identity → 1, symmetric
    assert(compute("", "") === 0.0)
    assert(compute("", "abc") === 0.0)
    assert(compute("abc", "abc") === 1.0)
    assert(compute("DIXON", "DICKSONX") === compute("DICKSONX", "DIXON"))
    // no matches inside the window → 0 ("ab"/"ba" has window 0)
    assert(compute("ab", "ba") === 0.0)
  }

  test("jaro-winkler codegen path equals direct compute on real names") {
    import spark.implicits._
    graft.functions.JaroWinklerSim.register(spark)
    val names = spark.read.parquet(s"$sf/part.parquet")
      .select("p_name").distinct().limit(60)
      .collect().map(_.getString(0))
    val pairs = (for (a <- names; b <- names) yield (a, b)).toSeq
    val viaExpr = pairs.toDF("a", "b")
      .withColumn("jw", expr("jaro_winkler(a, b)"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    viaExpr.foreach { case (a, b, jw) =>
      assert(jw === graft.functions.JaroWinklerSim.compute(a, b),
        s"($a, $b)")
    }
    assert(viaExpr.exists(t => t._3 > 0.0 && t._3 < 1.0))
  }

  test("er_mutual_best is a 1:1 matching and equals the brute " +
      "reciprocal argmin over the match table") {
    val matches = FuzzyJoin.queries("er_blocked_match")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val bestM = matches.groupBy(_._1).map { case (_, v) =>
      v.minBy(t => (t._3, t._2)) }.toSet
    val bestD = matches.groupBy(_._2).map { case (_, v) =>
      v.minBy(t => (t._3, t._1)) }.toSet
    val want = bestM.intersect(bestD)
    val got = FuzzyJoin.queries("er_mutual_best")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    assert(got === want)
    // 1:1 discipline: no dirty record and no master appears twice
    assert(got.map(_._1).size === got.size)
    assert(got.map(_._2).size === got.size)
    // a refinement of the greedy per-dirty argmin
    assert(got.subsetOf(bestM))
    assert(got.nonEmpty)
  }

  private def levDist(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }
}
