package graft

import graft.functions.Fuzzy

/** Deletion-neighborhood fuzzy matching ([[graft.functions.Fuzzy]]) —
  * hand-checked pairs, completeness vs a brute-force driver reference at
  * distances 1 and 2, cross-table join, and edge shapes (single chars,
  * unicode). Oracle parity at sf is `fuzzy_pairs` in CORRECTNESS. */
class FuzzySpec extends SparkSpec {
  import spark.implicits._

  /** Textbook Levenshtein DP — the test's independent referee. */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private def bruteForce(ws: Seq[String], maxDist: Int): Set[(String, String, Int)] =
    (for {
      a <- ws; b <- ws if a < b
      d = lev(a, b) if d <= maxDist
    } yield (a, b, d)).toSet

  private def run(ws: Seq[String], maxDist: Int): Set[(String, String, Int)] =
    Fuzzy.fuzzyPairs(ws.toDF("w"), "w", maxDist)
      .as[(String, String, Int)].collect().toSet

  test("hand-checked pairs at distance 1") {
    val ws = Seq("kitten", "sitten", "sittin", "kittens", "banana")
    assert(run(ws, 1) === Set(
      ("kitten", "sitten", 1),   // substitution
      ("sitten", "sittin", 1),   // substitution
      ("kitten", "kittens", 1))) // insertion
  }

  test("complete vs brute force at distance 1") {
    val ws = Seq("grafting", "graftlng", "rafting", "draughty", "graft",
      "craft", "crafts", "crufty", "crusty", "trusty", "a", "b", "ab",
      "ba", "abc", "bac", "xyz") ++ (1 to 60).map(i => s"word${i % 20}x${i % 7}")
    assert(run(ws.distinct, 1) === bruteForce(ws.distinct, 1))
  }

  test("complete vs brute force at distance 2 (incl. transpositions)") {
    val ws = Seq("abcde", "abced", "acbde", "abde", "abcdef", "abcdx",
      "axcdx", "zzzzz", "abc", "cab", "bca")
    assert(run(ws, 2) === bruteForce(ws, 2))
  }

  test("single-character terms pair via the empty-string key") {
    assert(run(Seq("a", "b", "xy"), 1) === Set(("a", "b", 1)))
  }

  test("cross-table fuzzy join keeps exact matches at distance 0") {
    val l = Seq("color", "flavour", "unique").toDF("t")
    val r = Seq("colour", "flavour", "velour").toDF("t")
    val got = Fuzzy.fuzzyJoin(l, r, "t", "t", maxDist = 1)
      .as[(String, String, Int)].collect().toSet
    assert(got === Set(
      ("color", "colour", 1), ("flavour", "flavour", 0)))
  }

  test("duplicate carrier rows do not duplicate pairs") {
    val df = Seq("aaa", "aaa", "aab", "aab", "aab").toDF("w")
    assert(Fuzzy.fuzzyPairs(df, "w", 1).count() === 1)
  }

  test("entity resolution chains typo variants onto one canonical id") {
    // acme ~ acmee ~ acmees is a CHAIN: dist(acme, acmees)=2 > maxDist=1,
    // yet all three must unify. zed is a singleton entity.
    val df = Seq("acmee", "acme", "acmees", "bolt", "bolts", "zed").toDF("w")
    val got = Fuzzy.resolveEntities(df, "w", maxDist = 1)
      .as[(String, String)].collect().toSet
    assert(got === Set(
      ("acme", "acme"), ("acmee", "acme"), ("acmees", "acme"),
      ("bolt", "bolt"), ("bolts", "bolt"), ("zed", "zed")))
  }

  test("degenerate multi-KB term fails loudly instead of exploding keys") {
    // a mis-fed document body as a "term": at maxDist=2 its deletion
    // neighborhood would be O(len²) ≈ 12M keys — the guard must abort the
    // job with the documented message, not let the shuffle balloon.
    val long = "x" * 5000
    val df = Seq("alpha", long, "beta").toDF("w")
    val e = intercept[Exception] {
      Fuzzy.fuzzyPairs(df, "w", maxDist = 2).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("exceeds 256 chars")))
    // terms at the cap still work at d=2; d=1 allows much longer terms
    val okLong = "y" * 4096
    assert(Fuzzy.fuzzyPairs(Seq("aaa", "aab", okLong).toDF("w"), "w", 1)
      .count() === 1)
  }

  test("entity ids equal brute-force closure on a random-ish vocab") {
    val ws = (Seq("grafting", "graftlng", "rafting", "craft", "crafts",
      "crufty", "crusty", "trusty", "ab", "ba", "abc") ++
      (1 to 40).map(i => s"w${i % 13}x${i % 5}")).distinct
    // driver-side union-find over the brute-force pair set
    val parent = scala.collection.mutable.Map(ws.map(w => w -> w): _*)
    def find(w: String): String =
      if (parent(w) == w) w else { val r = find(parent(w)); parent(w) = r; r }
    for ((a, b, _) <- bruteForce(ws, 1)) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(if (ra < rb) rb else ra) = if (ra < rb) ra else rb
    }
    // canonical = min member of each class
    val cls = ws.groupBy(find).flatMap { case (_, ms) =>
      val m = ms.min; ms.map(_ -> m)
    }
    val got = Fuzzy.resolveEntities(ws.toDF("w"), "w", 1)
      .as[(String, String)].collect().toMap
    assert(got === cls)
  }
}
