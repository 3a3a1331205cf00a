package graft

import graft.functions.Blocklist

/** Phrase-blocklist screen ([[graft.functions.Blocklist.phraseHits]]):
  * hand-checked hits across phrase lengths, distinct-phrase counting,
  * token-boundary semantics, case folding, and degenerate inputs.
  * Oracle parity at sf is `blocklist_flags` in CORRECTNESS. */
class BlocklistSpec extends SparkSpec {
  import spark.implicits._

  private def run(
      docs: Seq[(Long, String)], phrases: Seq[String]): Map[Long, (Long, Boolean)] =
    Blocklist.phraseHits(
        docs.toDF("doc_id", "text"), phrases.toDF("phrase"), "phrase")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  test("hand-checked hits across 1/2/3-token phrases") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "slow red fox naps all day"),
      (3L, "quick brown quick brown quick"),
      (4L, "nothing to see"))
    val got = run(docs, Seq("quick brown", "fox", "naps all day"))
    assert(got == Map(
      1L -> ((2L, true)),   // "quick brown" + "fox"
      2L -> ((2L, true)),   // "fox" + "naps all day"
      3L -> ((1L, true)),   // "quick brown" twice counts ONCE
      4L -> ((0L, false))))
  }

  test("token boundaries: substrings of tokens never match") {
    // "row" is inside "brown"; "quick bro" crosses a token boundary
    val got = run(Seq((1L, "the quick brown fox")), Seq("row", "quick bro"))
    assert(got == Map(1L -> ((0L, false))))
  }

  test("matching is case-insensitive on both sides") {
    val got = run(Seq((1L, "The QUICK Brown fox")), Seq("quick BROWN"))
    assert(got == Map(1L -> ((1L, true))))
  }

  test("property: random docs/phrases == driver-side token-window reference") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    def randText(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    for (round <- 1 to 5) {
      val docs = (1L to 30L).map(i => (i, randText(1 + rnd.nextInt(12))))
      val phrases = Seq.fill(6)(randText(1 + rnd.nextInt(3))).distinct
      val got = run(docs, phrases)
      val expected = docs.map { case (id, text) =>
        val t = text.split(" ").toSeq
        val hit = phrases.map(_.split(" ").toSeq).distinct.count(p =>
          t.sliding(p.size).contains(p))
        id -> ((hit.toLong, hit > 0))
      }.toMap
      assert(got == expected, s"round $round")
    }
  }

  test("degenerates: blank phrases dropped, doc shorter than phrase, empty list") {
    val got = run(Seq((1L, "a b"), (2L, "")), Seq("a b c", "  ", "b"))
    assert(got == Map(1L -> ((1L, true)), 2L -> ((0L, false))))
    val none = run(Seq((1L, "a b")), Seq.empty)
    assert(none == Map(1L -> ((0L, false))))
  }
}
