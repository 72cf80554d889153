package graft

import java.nio.file.Files
import scala.util.Random
import org.apache.spark.sql.functions._
import graft.operators.Recommender

class RecommenderSpec extends SparkSpec {
  import RecommenderSpec._

  test("ml_recommend equals the per-part formulation on generated catalogs") {
    // the 8th case is the first seed whose catalog needs the self-pair
    // guard: there a class-mate's cross pair outscores a name's own pair
    // by rounding, which only some weightings produce
    val guardSeed = Iterator.from(1000).take(20000)
      .find(s => analyse(gen(s)).guard)
      .getOrElse(fail("no generated catalog needs the self-pair guard"))
    val cases = (1 to 7).map(_.toLong) :+ guardSeed.toLong
    val seen = cases.map { seed =>
      val c = gen(seed)
      val dir = Files.createTempDirectory("graft_recommend").toString
      write(c, dir)
      val got = Recommender.queries("ml_recommend")(spark, dir).collect()
        .map(r => (r.getAs[Long]("cust"), r.getAs[Long]("part"))).toSeq
      assert(got === brute(c), s"seed $seed")
      analyse(c)
    }
    assert(seen.exists(_.termCounts == Set(1, 2, 3)), "1-, 2- and 3-term names")
    assert(seen.exists(_.repeatedTerm), "a name repeating a term")
    assert(seen.exists(_.crossClassTie), "an exact score tie across classes")
    assert(seen.exists(_.unbounded), "a customer with < TOPK free owned parts")
    assert(seen.exists(_.bounded), "a customer settled by its own classes")
    assert(seen.exists(_.guard), "a bought-out class reached by a cross pair")
  }

  test("ml_recommend never recommends an already-purchased part") {
    val rec = Recommender.queries("ml_recommend")(spark, sf)
      .collect().map(r => (r.getAs[Long]("cust"), r.getAs[Long]("part")))
    assert(rec.nonEmpty)
    val purchased = Tables(spark, sf, "lineitem")
      .join(Tables(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      .distinct().collect()
      .map(r => (r.getAs[Long]("cust"), r.getAs[Long]("part"))).toSet
    rec.foreach(p => assert(!purchased.contains(p), s"recommended owned $p"))
    // at most TOPK per customer
    rec.groupBy(_._1).foreach { case (_, rs) => assert(rs.length <= 3) }
  }

  test("ml_lsh_pipeline is seeded-deterministic and self-consistent") {
    def run() = Recommender.queries("ml_lsh_pipeline")(spark, sf)
      .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")))
    val first = run()
    assert(first.nonEmpty)
    first.foreach { case (a, b) => assert(a < b) }
    assert(run().toSeq === first.toSeq) // fixed seed → same pairs
  }

  test("M1: seeded sampling is deterministic") {
    val p = Tables(spark, sf, "part")
    val s1 = p.sample(withReplacement = false, 0.3, seed = 42)
      .select("p_partkey").collect().map(_.getLong(0)).toSeq
    val s2 = p.sample(withReplacement = false, 0.3, seed = 42)
      .select("p_partkey").collect().map(_.getLong(0)).toSeq
    assert(s1 === s2)
    assert(s1.nonEmpty && s1.length < 200)
  }
}

/** A brute-force `ml_recommend`: the DuckDB oracle's per-part
  * formulation (score of an unbought part = its best cosine to a bought
  * part of the same brand; top TOPK by score, then part id), with sums
  * folded in each name's term order as the name-grain plan folds them,
  * so equal scores are equal doubles on both sides. */
object RecommenderSpec {
  val TopK = 3
  val MinOrders = 12

  final case class Part(key: Long, brand: String, name: String)
  final case class Catalog(parts: Seq[Part], orders: Seq[(Long, Long)],
                           lines: Seq[(Long, Long)])

  def terms(name: String): Seq[String] = name.split(" ", -1).toSeq.distinct

  /** Random small catalogs: 1- to 3-term names over five terms (repeats
    * and permutations of one another), two brands, random part ids, and
    * customers that buy broadly, narrowly, a whole class, or too little
    * to qualify. */
  def gen(seed: Long): Catalog = {
    val rnd = new Random(seed)
    val vocab = Seq("red", "old", "rod", "gear", "bolt")
    val drawn = Seq.fill(6) {
      Seq.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.size)))
    }
    val names = (drawn ++ drawn.take(3).map(rnd.shuffle(_)))
      .map(_.mkString(" ")).distinct
    val keys = rnd.shuffle((1L to 400L).toList).take(30 + rnd.nextInt(30))
    val parts = keys.map(k =>
      Part(k, s"B${rnd.nextInt(2)}", names(rnd.nextInt(names.size))))
    val classes = parts.groupBy(p => (p.brand, p.name)).values.toIndexedSeq
    var orderKey = 0L
    val orders = Seq.newBuilder[(Long, Long)]
    val lines = Seq.newBuilder[(Long, Long)]
    for (cust <- 1L to 10L) {
      val style = rnd.nextInt(4)
      val nOrd = if (style == 3) 3 + rnd.nextInt(8) else 12 + rnd.nextInt(3)
      val pool: IndexedSeq[Part] = style match {
        case 1 => IndexedSeq.fill(1 + rnd.nextInt(2))(parts(rnd.nextInt(parts.size)))
        case 2 =>
          val whole = classes(rnd.nextInt(classes.size))
          val x = whole.head
          val near = parts.filter(p => p.brand == x.brand && p.name != x.name &&
            terms(p.name).exists(terms(x.name).contains))
          val (same, other) =
            near.partition(p => terms(p.name).toSet == terms(x.name).toSet)
          whole.toIndexedSeq ++ (same ++ other).take(3)
        case _ => parts.toIndexedSeq
      }
      for (i <- 0 until nOrd) {
        orderKey += 1
        orders += orderKey -> cust
        val buys = if (style == 2 && i < pool.size) Seq(pool(i))
          else Seq.fill(1 + rnd.nextInt(3))(pool(rnd.nextInt(pool.size)))
        buys.foreach(p => lines += orderKey -> p.key)
      }
    }
    Catalog(parts, orders.result(), lines.result())
  }

  def write(c: Catalog, dir: String): Unit = {
    val spark = TestSpark.spark
    import spark.implicits._
    c.parts.map(p => (p.key, p.brand, p.name))
      .toDF("p_partkey", "p_brand", "p_name").write.parquet(s"$dir/part.parquet")
    c.orders.toDF("o_orderkey", "o_custkey").write.parquet(s"$dir/orders.parquet")
    c.lines.toDF("l_orderkey", "l_partkey").write.parquet(s"$dir/lineitem.parquet")
  }

  private final class Model(c: Catalog) {
    private val n = c.parts.size
    private val df = c.parts.flatMap(p => terms(p.name))
      .groupBy(identity).map { case (t, ts) => t -> ts.size }
    private val w = df.map { case (t, d) => t -> (n + 1.0) / (d + 1.0) }
    private def sumSq(ts: Seq[String]) =
      ts.map(t => w(t) * w(t)).foldLeft(0.0)(_ + _)
    private val nrm = c.parts.map(_.name).distinct
      .map(nm => nm -> math.sqrt(sumSq(terms(nm)))).toMap

    /** Cosine of two names sharing a term, summed in `a`'s term order. */
    def sim(a: String, b: String): Option[Double] = {
      val shared = terms(a).filter(terms(b).contains)
      if (shared.isEmpty) None else Some(sumSq(shared) / (nrm(a) * nrm(b)))
    }

    private val custOf = c.orders.toMap
    private val quals = c.orders.groupBy(_._2)
      .collect { case (cust, os) if os.size >= MinOrders => cust }.toSet
    val bought: Map[Long, Set[Long]] = c.lines
      .flatMap { case (o, p) => custOf.get(o).filter(quals).map(_ -> p) }
      .groupBy(_._1).map { case (cust, ps) => cust -> ps.map(_._2).toSet }
    val byKey: Map[Long, Part] = c.parts.map(p => p.key -> p).toMap
    val gsize: Map[(String, String), Int] =
      c.parts.groupBy(p => (p.brand, p.name)).map { case (k, ps) => k -> ps.size }

    /** Every unbought part a bought part of the same brand reaches,
      * best first (score descending, then part id). */
    def ranked(cust: Long): Seq[(Long, Double)] = {
      val mine = bought(cust)
      c.parts.filterNot(q => mine(q.key)).flatMap { q =>
        val ss = mine.toSeq.map(byKey)
          .filter(p => p.brand == q.brand && p.key != q.key)
          .flatMap(p => sim(p.name, q.name))
        if (ss.isEmpty) None else Some(q.key -> ss.max)
      }.sortBy { case (k, s) => (-s, k) }
    }
  }

  def brute(c: Catalog): Seq[(Long, Long)] = {
    val m = new Model(c)
    m.bought.keys.toSeq.sorted
      .flatMap(cust => m.ranked(cust).take(TopK).map(cust -> _._1))
  }

  final case class Seen(termCounts: Set[Int], repeatedTerm: Boolean,
                        crossClassTie: Boolean, unbounded: Boolean,
                        bounded: Boolean, guard: Boolean)

  /** Which of the cases the bound's proof distinguishes this catalog
    * holds. `guard`: a settled customer owns a bought-out class whose own
    * pair scores below θ while a cross pair from another owned class
    * reaches θ, and its bought parts would rank if the plan lost them:
    * only the kept self pair carries them. */
  def analyse(c: Catalog): Seen = {
    val m = new Model(c)
    val names = c.parts.map(_.name).distinct
    var tie, unbounded, bounded, guard = false
    for ((cust, mine) <- m.bought) {
      val owned = mine.toSeq.map(m.byKey).groupBy(p => (p.brand, p.name))
      val free = owned.map { case (k, ps) => k -> (m.gsize(k) - ps.size) }
      val self = owned.keys.map(k => k -> m.sim(k._2, k._2).get).toMap
      if (free.values.sum < TopK) unbounded = true
      else {
        bounded = true
        val theta = free.collect { case (k, f) if f > 0 => self(k) }.min
        val top = m.ranked(cust).take(TopK)
        guard ||= free.exists { case (x, f) =>
          val cross = owned.keys.toSeq
            .filter(y => y._1 == x._1 && y._2 != x._2)
            .flatMap(y => m.sim(y._2, x._2)).filter(_ >= theta)
          f == 0 && self(x) < theta && cross.nonEmpty && {
            val xs = owned(x).map(_.key).sorted.take(TopK)
              .map(_ -> cross.max)
            (top ++ xs).sortBy { case (k, s) => (-s, k) }.take(TopK) != top
          }
        }
      }
      val r = m.ranked(cust)
      if (r.size > TopK) {
        val kth = r(TopK - 1)._2
        tie ||= r.filter(_._2 == kth).map(q => m.byKey(q._1))
          .map(p => (p.brand, p.name)).distinct.size > 1
      }
    }
    Seen(names.map(nm => nm.split(" ").length).toSet,
      names.exists(nm => nm.split(" ").length > terms(nm).size),
      tie, unbounded, bounded, guard)
  }
}
