package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.RowPattern

/** The row-pattern machine's contract is EXACT `Matcher.find()` count
  * equality — the same scan Spark's regexp_extract_all and DuckDB's
  * regexp_extract_all run. Checked three ways: exhaustively over every
  * short trace for a battery of adversarial patterns (the commit-
  * c904004 method), randomized over long traces and machine-generated
  * patterns, and the bounded-state claims the 100 TB story rests on
  * (speculation-chain depth; compile-time terminator-disjointness) are
  * pinned for the funnel family, for `v.*p`, and for the degenerate
  * loop-alternation class (loud cap).
  */
class RowPatternSpec extends AnyFunSuite {

  private def javaCount(pattern: String, s: String): Long = {
    val m = java.util.regex.Pattern.compile(pattern).matcher(s)
    var n = 0L
    while (m.find()) n += 1
    n
  }

  private def check(pattern: String, s: String): Unit = {
    val got = RowPattern.countMatches(pattern, s)
    val want = javaCount(pattern, s)
    assert(got == want,
      s"pattern '$pattern' on '$s': machine $got != java $want")
  }

  // patterns chosen to stress every semantic corner: greedy/lazy
  // loops, alternation priority (leftmost-FIRST, not longest), empty
  // matches and the find() bump, match override by a longer-lived
  // higher-priority attempt (the speculative-resumption path), classes
  // and negation
  private val patterns = Seq(
    "v[co]*p", "v[co]*?p", "vp", "p", "v", "v.*p", "v.?p",
    "a", "a*", "a+", "a?", "a*?", "a+?", "a??",
    "ab*c|a", "a|ab", "ab|a", "(a|b)*c", "(ab)+", "(a|ab)(c|bc)",
    "[^a]b", "[ab]+", "a[ab]*b", "(?:ab|a)b", "ab*|x", "a(b|c)*d",
    "aa|a", "(a+)*b", "(a+)+b", "a*a*", "(a|)b", "(|a)b", "a(|b)",
    "v(c|o)*p"
  )

  test("exhaustive: every trace over {a,b} up to length 10") {
    val alpha = "ab"
    for (p <- patterns; len <- 0 to 10) {
      var i = 0
      val total = math.pow(alpha.length, len).toInt
      while (i < total) {
        val sb = new StringBuilder
        var x = i
        for (_ <- 0 until len) { sb += alpha(x % alpha.length); x /= alpha.length }
        check(p, sb.toString)
        i += 1
      }
    }
  }

  test("exhaustive: funnel alphabet traces up to length 6") {
    val alpha = "vcpo"
    for (p <- Seq("v[co]*p", "v[co]*?p", "v(c|o)*p", "vc?p", "[^p]*p");
         len <- 0 to 6) {
      var i = 0
      val total = math.pow(alpha.length, len).toInt
      while (i < total) {
        val sb = new StringBuilder
        var x = i
        for (_ <- 0 until len) { sb += alpha(x % alpha.length); x /= alpha.length }
        check(p, sb.toString)
        i += 1
      }
    }
  }

  test("exhaustive: v[co]*p traces over {v,c,p,o} up to length 8") {
    // the funnel the CEP queries ship, on EVERY trace up to length 8
    // (87 380 traces)
    var checked = 0
    def rec(prefix: String): Unit = {
      if (prefix.nonEmpty) { check("v[co]*p", prefix); checked += 1 }
      if (prefix.length < 8) "vcpo".foreach(c => rec(prefix + c))
    }
    rec("")
    assert(checked === (1 to 8).map(n => math.pow(4, n).toLong).sum)
  }

  test("randomized: long traces, all patterns (seeded)") {
    val rnd = new scala.util.Random(20260815L)
    for (p <- patterns; _ <- 1 to 60) {
      val alpha = if (p.exists("vcpo".contains(_))) "vcpo" else "abxc"
      val len = rnd.nextInt(400)
      val s = Array.fill(len)(alpha(rnd.nextInt(alpha.length))).mkString
      check(p, s)
    }
  }

  test("randomized machine-generated patterns vs java (seeded)") {
    checkGenerated(seed = 42L, alpha = "abc")
  }

  test("machine-generated patterns over the funnel alphabet (seeded)") {
    // the production code alphabet: patterns over v/c/p/o shaped like
    // real MATCH_RECOGNIZE specs hit the same corners (loop classes,
    // anchors-by-literal, alternation priority) with funnel traces
    checkGenerated(seed = 20260816L, alpha = "vcpo")
  }

  private def checkGenerated(seed: Long, alpha: String): Unit = {
    val rnd = new scala.util.Random(seed)
    def genAtom(depth: Int): String =
      rnd.nextInt(if (depth > 2) 4 else 6) match {
        case 0 | 1 => alpha(rnd.nextInt(alpha.length)).toString
        case 2 => "."
        case 3 =>
          val k = 1 + rnd.nextInt(2)
          val cs = Seq.fill(k)(alpha(rnd.nextInt(alpha.length))).distinct
          (if (rnd.nextBoolean()) "[^" else "[") + cs.mkString + "]"
        case 4 => "(" + genAlt(depth + 1) + ")"
        case _ => "(?:" + genAlt(depth + 1) + ")"
      }
    def genRep(depth: Int): String = {
      val a = genAtom(depth)
      rnd.nextInt(5) match {
        case 0 => a + "*"
        case 1 => a + "+"
        case 2 => a + "?"
        case 3 => a + (if (rnd.nextBoolean()) "*?" else "+?")
        case _ => a
      }
    }
    def genCat(depth: Int): String =
      (1 to 1 + rnd.nextInt(3)).map(_ => genRep(depth)).mkString
    def genAlt(depth: Int): String =
      (1 to 1 + rnd.nextInt(2)).map(_ => genCat(depth)).mkString("|")
    var validated = 0
    var tried = 0
    while (tried < 800 && validated < 300) {
      val p = genAlt(0)
      tried += 1
      // nullable-quantifier-body patterns are rejected by contract
      // (engine-defined under backtracking) — skip those, count the
      // rest so the test can't silently validate nothing
      val prog = try Some(RowPattern.compile(p))
      catch { case _: IllegalArgumentException => None }
      if (prog.isDefined) {
        validated += 1
        for (_ <- 1 to 5) {
          // trace length capped at 17: the REFERENCE side
          // (java.util.regex) backtracks exponentially on generated
          // nested quantifiers — ~2^len steps on a non-matching tail —
          // while the NFA machine under test is linear regardless
          val s = Array.fill(rnd.nextInt(18))(
            alpha(rnd.nextInt(alpha.length))).mkString
          check(p, s)
        }
      }
    }
    assert(validated >= 200, s"only $validated generated patterns compiled")
  }

  test("funnel pattern: speculation depth stays ≤ 2 on any trace") {
    // terminator-disjoint pattern: 'p' closes the match and is outside
    // the loop class, so no thread outlives a recorded match — every
    // pending resolves on the char that created it, the chain never
    // exceeds one speculative scan, and per-entity state is O(1).
    val rnd = new scala.util.Random(7L)
    val prog = RowPattern.compile("v[co]*p")
    assert(RowPattern.terminatorDisjoint(prog))
    for (_ <- 1 to 20) {
      val m = new RowPattern.MatchCounter(prog)
      val s = Array.fill(100000)("vcpo" (rnd.nextInt(4))).mkString
      m.feedAll(s)
      m.finish()
      assert(m.maxDepth <= 2, s"chain grew to ${m.maxDepth}")
    }
  }

  test("terminator-disjointness is decided correctly from the NFA") {
    def disjoint(p: String) =
      RowPattern.terminatorDisjoint(RowPattern.compile(p))
    // funnel family: terminator outside every loop class
    assert(disjoint("v[co]*p"))
    assert(disjoint("v(c|o)*p"))
    assert(disjoint("vp"))
    assert(disjoint("[^p]*p"))
    // loop can consume the terminator
    assert(!disjoint("v.*p"))
    assert(!disjoint("a[ab]*b"))
    // nullable pattern: empty matches record while unrelated threads live
    assert(!disjoint("a*"))
    assert(!disjoint("a?"))
    // a completing char on a path INTO a loop (the f in fg[c]*h|f):
    // the IChar-label test alone would miss it, reachability catches it
    assert(!disjoint("fg[c]*h|f"))
    // degenerate loop-alternation: the loop eats the short alternative
    assert(!disjoint("(a[^b]*b|c)"))
  }

  test("v.*p: one early match + a long match-free tail stays depth ≤ 2") {
    // the round-8 weak spot: a non-disjoint pattern whose greedy loop
    // outlives the pending match. The chain runs the resumed scan live
    // instead of buffering the tail — state stays O(1) for the whole
    // 1M-char tail, and the count is exact.
    val prog = RowPattern.compile("v.*p")
    assert(!RowPattern.terminatorDisjoint(prog))
    val m = new RowPattern.MatchCounter(prog)
    m.feed('v'); m.feed('p')
    var k = 0
    while (k < 1000000) { m.feed('x'); k += 1 }
    assert(m.maxDepth <= 2, s"chain grew to ${m.maxDepth}")
    assert(m.finish() == 1L)
    // and with more matches in the tail: every terminator extends the
    // head attempt's match, resetting the chain — still depth ≤ 2
    val m2 = new RowPattern.MatchCounter(prog)
    m2.feedAll("vp" + ("x" * 1000 + "vp") * 50 + "x" * 1000)
    assert(m2.maxDepth <= 2, s"chain grew to ${m2.maxDepth}")
    assert(m2.finish() ==
      javaCount("v.*p", "vp" + ("x" * 1000 + "vp") * 50 + "x" * 1000))
  }

  test("degenerate loop-alternation fails loudly at the depth cap") {
    // (a[^b]*b|c) over acacac…: the c-matches cannot resolve until the
    // a-loop attempt dies — every engine needs O(trace) state here, so
    // the chain refuses at depthCap instead of silently growing
    val prog = RowPattern.compile("(a[^b]*b|c)")
    val m = new RowPattern.MatchCounter(prog, depthCap = 64)
    val e = intercept[IllegalStateException] {
      var k = 0
      while (k < 10000) { m.feed('a'); m.feed('c'); k += 1 }
    }
    assert(e.getMessage.contains("terminator-disjoint"))
    // …but the same pattern under the cap is exact
    assert(RowPattern.countMatches("(a[^b]*b|c)", "acac" * 20 + "b") ==
      javaCount("(a[^b]*b|c)", "acac" * 20 + "b"))
  }

  private def javaSpans(pattern: String, s: String): List[(Long, Long)] = {
    val m = java.util.regex.Pattern.compile(pattern).matcher(s)
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    while (m.find()) out += ((m.start.toLong, m.end.toLong))
    out.toList
  }

  private def machineSpans(pattern: String, s: String): List[(Long, Long)] = {
    val m = new RowPattern.MatchCounter(RowPattern.compile(pattern),
      trackSpans = true)
    m.feedAll(s)
    m.finish()
    m.drainSpans()
  }

  test("ONE ROW PER MATCH: spans equal java Matcher start/end " +
    "(exhaustive + randomized, disjoint patterns)") {
    val disjoint = patterns.filter(p =>
      try RowPattern.terminatorDisjoint(RowPattern.compile(p))
      catch { case _: IllegalArgumentException => false })
    assert(disjoint.size >= 5, s"battery too small: $disjoint")
    // exhaustive over the funnel alphabet
    for (p <- Seq("v[co]*p", "v(c|o)*p", "vp", "[^p]*p"); len <- 0 to 6) {
      val alpha = "vcpo"
      var i = 0
      val total = math.pow(alpha.length, len).toInt
      while (i < total) {
        val sb = new StringBuilder
        var x = i
        for (_ <- 0 until len) { sb += alpha(x % alpha.length); x /= alpha.length }
        val s = sb.toString
        assert(machineSpans(p, s) == javaSpans(p, s), s"'$p' on '$s'")
        i += 1
      }
    }
    // randomized long traces over the whole disjoint battery
    val rnd = new scala.util.Random(20260915L)
    for (p <- disjoint; _ <- 1 to 40) {
      val alpha = if (p.exists("vcpo".contains(_))) "vcpo" else "abxc"
      val s = Array.fill(rnd.nextInt(400))(
        alpha(rnd.nextInt(alpha.length))).mkString
      assert(machineSpans(p, s) == javaSpans(p, s), s"'$p' on '$s'")
    }
  }

  test("span mode refuses non-terminator-disjoint patterns loudly") {
    val e = intercept[IllegalArgumentException](
      new RowPattern.MatchCounter(RowPattern.compile("v.*p"),
        trackSpans = true))
    assert(e.getMessage.contains("terminator-disjoint"))
  }

  test("snapshot(): structural copy matches the serialization copy " +
    "and never perturbs the live machine") {
    val rnd = new scala.util.Random(20261215L)
    def serializedFinish(m: RowPattern.MatchCounter): Long = {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(m); oos.close()
      val ois = new java.io.ObjectInputStream(
        new java.io.ByteArrayInputStream(bos.toByteArray))
      ois.readObject().asInstanceOf[RowPattern.MatchCounter].finish()
    }
    for (p <- Seq("v[co]*p", "v.*p", "vc?p", "ab*c", "(?:ab|a)b");
         _ <- 1 to 10) {
      val alpha = if (p.exists("vcpo".contains(_))) "vcpo" else "abxc"
      val s = Array.fill(rnd.nextInt(200))(
        alpha(rnd.nextInt(alpha.length))).mkString
      val m = new RowPattern.MatchCounter(RowPattern.compile(p))
      var i = 0
      while (i < s.length) {
        m.feed(s.charAt(i))
        // mid-stream: the two copy paths agree, and neither touches
        // the live machine (the final count below stays exact)
        if (i % 37 == 0) {
          val viaSnapshot = m.flushedCount
          assert(viaSnapshot == serializedFinish(m),
            s"'$p' on '${s.take(i + 1)}'")
          assert(viaSnapshot == javaCount(p, s.take(i + 1)),
            s"'$p' flushed at ${i + 1}")
        }
        i += 1
      }
      assert(m.finish() == javaCount(p, s), s"'$p' on '$s' after snapshots")
    }
  }

  private def javaStarts(pattern: String, s: String): Long = {
    val m = java.util.regex.Pattern.compile(pattern).matcher(s)
    (0 until s.length).count(i => m.region(i, s.length).lookingAt()).toLong
  }

  test("SKIP TO NEXT ROW: start counts equal java lookingAt per " +
    "position, exhaustively and randomized (nullables rejected)") {
    val alpha = "ab"
    for (p <- patterns) {
      val nullable =
        java.util.regex.Pattern.compile(p).matcher("").lookingAt()
      if (nullable) {
        // an empty match starts at every row — the detector must
        // refuse rather than return a meaningless count
        intercept[IllegalArgumentException](RowPattern.countStarts(p, "a"))
      } else {
        for (len <- 0 to 9) {
          var i = 0
          val total = math.pow(alpha.length, len).toInt
          while (i < total) {
            val sb = new StringBuilder
            var x = i
            for (_ <- 0 until len) {
              sb += alpha(x % alpha.length); x /= alpha.length
            }
            val s = sb.toString
            assert(RowPattern.countStarts(p, s) == javaStarts(p, s),
              s"'$p' on '$s'")
            i += 1
          }
        }
      }
    }
    // randomized long funnel traces, disjoint AND non-disjoint
    // patterns — including the overlap-heavy v[co]*v
    val rnd = new scala.util.Random(20260816L)
    for (p <- Seq("v[co]*v", "v[co]*p", "v.*p", "vp", "vv", "v[co]+v");
         _ <- 1 to 40) {
      val len = rnd.nextInt(500)
      val s = Array.fill(len)("vcpo"(rnd.nextInt(4))).mkString
      assert(RowPattern.countStarts(p, s) == javaStarts(p, s),
        s"'$p' on len-$len trace")
    }
  }

  test("PERMUTE expands to the all-orderings alternation; counts and " +
    "start counts match java on random traces") {
    assert(RowPattern.permute("a", "b") == "(?:(?:a)(?:b)|(?:b)(?:a))")
    // duplicate components collapse to the distinct orderings — the
    // same language as the standard's duplicated branches
    assert(RowPattern.permute("a", "a") == "(?:(?:a)(?:a))")
    intercept[IllegalArgumentException](RowPattern.permute())
    intercept[IllegalArgumentException](
      RowPattern.permute("a", "b", "c", "d", "e", "f", "g"))
    val rnd = new scala.util.Random(7L)
    val p3 = RowPattern.permute("v", "c+", "p") // 6 orderings
    for (_ <- 1 to 60) {
      val len = rnd.nextInt(200)
      val s = Array.fill(len)("vcpo"(rnd.nextInt(4))).mkString
      check(p3, s) // find() counting on the expanded alternation
      assert(RowPattern.countStarts(p3, s) == javaStarts(p3, s),
        s"starts on '$s'")
    }
  }

  test("SKIP TO FIRST/LAST/NEXT/PAST: the SkipScanner equals a java " +
    "region+lookingAt+groups replay on random traces (seeded)") {
    import RowPattern.SkipMode
    // reference: per-position lookingAt with each component captured;
    // after a match the scan resumes per the skip mode, failed
    // attempts advance one row — the SQL:2016 semantics spelled out
    // on java's own engine (components are paren-free so group i+1 is
    // component i)
    // matches as (start, end, per-component (start, end) half-open
    // group spans in absolute positions; -1,-1 = group empty)
    type M = (Int, Int, Seq[(Int, Int)])
    def ref(s: String, comps: Seq[(String, String)],
            skip: SkipMode): Seq[M] = {
      val pat = java.util.regex.Pattern.compile(
        comps.map(c => "(" + c._2 + ")").mkString)
      val m = pat.matcher(s)
      val out = scala.collection.mutable.ArrayBuffer.empty[M]
      var pos = 0
      while (pos < s.length) {
        m.region(pos, s.length)
        if (m.lookingAt()) {
          val groups = comps.indices.map { g =>
            val (a, b) = (m.start(g + 1), m.end(g + 1))
            if (a == b) (-1, -1) else (a, b)
          }
          out += ((pos, m.end() - 1, groups))
          val r = skip match {
            case SkipMode.PastLast => m.end()
            case SkipMode.ToNextRow => pos + 1
            case SkipMode.ToFirst(n) =>
              m.start(comps.indexWhere(_._1 == n) + 1)
            case SkipMode.ToLast(n) =>
              m.end(comps.indexWhere(_._1 == n) + 1) - 1
          }
          assert(r > pos, s"ref skip must advance at '$s'")
          pos = r
        } else pos += 1
      }
      out.toSeq
    }
    def engine(s: String, comps: Seq[(String, String)],
               skip: SkipMode): Seq[M] = {
      val sc = new RowPattern.SkipScanner[Int](
        new RowPattern.SkipProgram(comps), skip)
      val out = scala.collection.mutable.ArrayBuffer.empty[M]
      def add(m: RowPattern.SkipMatch[Int]): Unit = {
        // bounds are match-relative; payloads are absolute positions
        val groups = comps.indices.map { g =>
          val c = m.comp(g)
          if (c.isEmpty) (-1, -1) else (c.head, c.last + 1)
        }
        out += ((m.first, m.last, groups))
      }
      s.zipWithIndex.foreach { case (c, i) => sc.feed(c, i).foreach(add) }
      sc.finish().foreach(add)
      out.toSeq
    }
    val suites = Seq(
      // the V-shape (any-row anchor, fall run, rise run)
      (Seq("s" -> ".", "d" -> "D+", "u" -> "U+"), "UDeo",
        Seq(SkipMode.PastLast, SkipMode.ToNextRow,
          SkipMode.ToFirst("d"), SkipMode.ToLast("u"),
          SkipMode.ToLast("d"))),
      // funnel-ish with an optional middle and a lazy head
      (Seq("v" -> "v+?", "c" -> "c?o", "p" -> "p"), "vcop",
        Seq(SkipMode.PastLast, SkipMode.ToNextRow,
          SkipMode.ToLast("c"), SkipMode.ToFirst("p"))),
      // alternation inside a component
      (Seq("a" -> "U|e", "b" -> "[UD]+", "c" -> "eD|D"), "UDeU",
        Seq(SkipMode.PastLast, SkipMode.ToFirst("b"),
          SkipMode.ToLast("b"), SkipMode.ToFirst("c"))),
      // a PERMUTE component and a counted component inside skip modes
      (Seq("x" -> RowPattern.permute("v", "c"), "y" -> "p{1,2}"),
        "vcp",
        Seq(SkipMode.PastLast, SkipMode.ToNextRow,
          SkipMode.ToLast("x"), SkipMode.ToFirst("y"))))
    val rnd = new scala.util.Random(20261117L)
    for ((comps, alphabet, skips) <- suites; skip <- skips) {
      var matched = 0
      for (_ <- 1 to 120) {
        val len = rnd.nextInt(60)
        val s = Array.fill(len)(alphabet(rnd.nextInt(alphabet.length)))
          .mkString
        // a skip that resolves to the match start is an ERROR in both:
        // the ref asserts, the engine throws — only compare where the
        // ref runs clean (the suites are built so it always does)
        val want = ref(s, comps, skip)
        val got = engine(s, comps, skip)
        assert(got == want, s"comps=$comps skip=$skip trace='$s'")
        matched += want.size
      }
      assert(matched > 0, s"comps=$comps skip=$skip never matched")
    }
    // degenerate skips fail loudly: resuming at the match's own first
    // row, and a skip target that matched no rows
    val vp = Seq("s" -> ".", "d" -> "D+", "u" -> "U+")
    intercept[IllegalStateException](
      engine("oDU", vp, SkipMode.ToFirst("s")))
    val opt = Seq("a" -> "U", "b" -> "D?", "c" -> "e")
    intercept[IllegalArgumentException](
      engine("Ue", opt, SkipMode.ToLast("b")))
    // unknown component name refuses at construction
    intercept[IllegalArgumentException](
      new RowPattern.SkipScanner[Int](
        new RowPattern.SkipProgram(vp), SkipMode.ToFirst("nope")))
  }

  test("hand-traced counts") {
    assert(RowPattern.countMatches("v[co]*p", "vcpvcocp") == 2L)
    assert(RowPattern.countMatches("v[co]*p", "vvvp") == 1L)
    assert(RowPattern.countMatches("v[co]*p", "pppvoc") == 0L)
    assert(RowPattern.countMatches("a*", "b") == 2L) // "" at 0 and 1
    assert(RowPattern.countMatches("ab*c|a", "abbbd") == 1L)
  }

  test("counted repetition equals java across bounds, greedy and lazy " +
    "(seeded)") {
    val rnd = new scala.util.Random(20261120L)
    val pats = Seq("a{3}", "a{2,}b", "a{2,4}", "a{2,4}?b", "a{0,2}b",
      "(ab){2,3}", "[ab]{2,3}c", "va{1,3}p", "a{2,4}b{1,2}")
    for (p <- pats) {
      var total = 0L
      for (_ <- 1 to 200) {
        val len = rnd.nextInt(30)
        val s = Array.fill(len)("abcvp"(rnd.nextInt(5))).mkString
        val got = RowPattern.countMatches(p, s)
        val m = java.util.regex.Pattern.compile(p).matcher(s)
        var want = 0L
        while (m.find()) want += 1
        assert(got == want, s"'$p' on '$s': $got != $want")
        total += want
      }
      assert(total > 0, s"'$p' never matched")
    }
    // counted bounds compose with span mode and disjointness analysis:
    // v c{1,3} p is terminator-disjoint (p completes, the optional
    // chain consumes only c)
    assert(RowPattern.terminatorDisjoint(RowPattern.compile("vc{1,3}p")))
    // bounds are validated
    intercept[IllegalArgumentException](RowPattern.compile("a{4,2}"))
    intercept[IllegalArgumentException](RowPattern.compile("a{65}"))
    intercept[IllegalArgumentException](RowPattern.compile("a{"))
  }

  test("unsupported syntax fails loudly") {
    intercept[IllegalArgumentException](RowPattern.compile("^a"))
    intercept[IllegalArgumentException](RowPattern.compile("a$"))
    intercept[IllegalArgumentException](RowPattern.compile("\\d+"))
    intercept[IllegalArgumentException](RowPattern.compile("(a"))
    intercept[IllegalArgumentException](RowPattern.compile("a)"))
    // quantifier over a nullable body: engine-defined under
    // backtracking — rejected by contract
    intercept[IllegalArgumentException](RowPattern.compile("(a*)*b"))
    intercept[IllegalArgumentException](RowPattern.compile("(a?|b)+"))
  }
}
