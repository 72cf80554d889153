package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.PdfText

/** Property tests (SURVEY.md §5.5) for the scalar text layer, using raw
  * ScalaCheck generators with a fixed seed (the scalatest↔scalacheck
  * bridge artifact is not in the offline cache). Spark column functions
  * run through one batched local DataFrame per property.
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def samples[A](g: Gen[A], n: Int = 100): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("cleanPhone: only digits/underscores, <=10 chars, leading 1 dropped") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val phoneGen = Gen.listOfN(14,
      Gen.oneOf(Gen.numChar, Gen.oneOf('-', ' ', '(', ')', '.', '_', '+')))
      .map(_.mkString)
    val phones = samples(phoneGen)
    val out = phones.toDF("ph")
      .select(col("ph"),
        graft.functions.TextFunctions.cleanPhone(col("ph")).as("c"))
      .collect()
    out.foreach { r =>
      val (p, c) = (r.getString(0), r.getString(1))
      assert(c.length <= 10, s"input $p")
      assert(c.forall(ch => ch.isDigit || ch == '_'), s"input $p")
      val digits = p.filter(ch => ch.isDigit || ch == '_')
      val expected =
        if (digits.startsWith("1")) digits.drop(1).take(10)
        else digits.take(10)
      assert(c === expected, s"input $p")
    }
  }

  test("name split: first + space + last reassembles two-token names") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val token = Gen.nonEmptyListOf(Gen.alphaChar).map(_.mkString)
    val names = samples(Gen.zip(token, token))
    val out = names.map { case (a, b) => s"$a $b" }.toDF("n")
      .select(col("n"),
        graft.functions.TextFunctions.firstName(col("n")).as("f"),
        graft.functions.TextFunctions.lastName(col("n")).as("l"))
      .collect()
    out.zip(names).foreach { case (r, (a, b)) =>
      assert(r.getString(1) === a, s"input ${r.getString(0)}")
      assert(r.getString(2) === b, s"input ${r.getString(0)}")
    }
  }

  test("PDF string escaping round-trips through extraction") {
    val textGen = Gen.listOfN(30, Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('(', ')', '\\', ' ', '$', '.', ':')))
      .map(_.mkString)
    samples(textGen, 60).foreach { t =>
      assert(PdfText.extract(MiniPdf(Seq(t))) === t, s"input $t")
    }
  }

  test("components: star contraction equals local union-find") {
    import spark.implicits._
    // random sparse graphs with long chains (worst case for round
    // count) and dense clumps (worst case for volume)
    val edgeGen = for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(1, 60)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong - 1)
        b <- Gen.choose(0L, n.toLong - 1) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield es.distinct
    samples(edgeGen, 12).filter(_.nonEmpty).foreach { edges =>
      val got = graft.operators.Graph.starComponents(edges.toDF("id1", "id2"))
        .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
      assert(got === UnionFind.labels(edges), s"edges $edges")
    }
  }
}

/** Driver-side union-find over an undirected edge list: every node
  * that touches a non-self-loop edge, labeled by its component's
  * minimum node — the reference the distributed components operator
  * is checked against. */
object UnionFind {
  def labels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val links = edges.filter { case (a, b) => a != b }
    // linking the larger root under the smaller keeps every root its
    // component's minimum
    links.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    links.flatMap(e => Seq(e._1, e._2)).distinct.map(v => v -> find(v)).toMap
  }

  /** Component root → member count. */
  def census(edges: Seq[(Long, Long)]): Map[Long, Long] =
    labels(edges).groupBy(_._2).map { case (root, m) => root -> m.size.toLong }
}
