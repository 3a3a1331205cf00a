package graft

import org.apache.spark.sql.functions._
import graft.functions.Dsir

/** DSIR importance weights ([[graft.functions.Dsir]]): self-importance
  * must be exactly zero (target == raw), the model must stay ≤256 rows,
  * target-like docs must outrank off-target docs, and selection must be
  * a deterministic rounded-weight top-k. Oracle parity at sf is
  * `dsir_weights` / `dsir_select` in CORRECTNESS. */
class DsirSpec extends SparkSpec {
  import spark.implicits._

  // target vocabulary A, off-target vocabulary B; every doc passes the
  // Gopher rules except the B docs' labels don't matter for train()
  private def aText(i: Long) =
    s"the a of item$i " + (1 to 12).map(j => s"alpha$j").mkString(" ")
  private def bText =
    (1 to 16).map(j => s"zz$j$j").mkString(" ")

  private def raw = ((1L to 5L).map(i => (i, aText(i))) ++
    (6L to 10L).map(i => (i, bText))).toDF("doc_id", "text")
  private def target = (1L to 5L).map(i => (i, aText(i))).toDF("doc_id", "text")

  test("self-importance is exactly zero: target == raw => every logw == 0") {
    val m = Dsir.train(raw, raw)
    // nt == nr and tott == totr per bucket -> log_ratio identically 0
    val got = Dsir.scoreWith(m, raw).as[(Long, Long, Double)].collect()
    assert(got.nonEmpty && got.forall(_._3 == 0.0))
  }

  test("model is bucket-bounded (≤256 rows) regardless of corpus size") {
    val m = Dsir.train(raw, target)
    assert(m.bucketLogRatio.count() <= Dsir.Buckets)
  }

  test("target-like docs outrank off-target docs; scoring is partitioning-invariant") {
    val m = Dsir.train(raw, target)
    val w = Dsir.scoreWith(m, raw).as[(Long, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    val aMin = (1L to 5L).map(w).min
    val bMax = (6L to 10L).map(w).max
    assert(aMin > bMax, s"target-vocab docs ($aMin) must outrank ($bMax)")
    val re = Dsir.scoreWith(m, raw.repartition(7))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(re == w)
  }

  test("empty raw or target corpus fails loudly, never trains all-smoothing") {
    val empty = raw.filter(col("doc_id") < 0)
    val e1 = intercept[IllegalArgumentException](Dsir.train(empty, target))
    assert(e1.getMessage.contains("raw corpus"))
    val e2 = intercept[IllegalArgumentException](Dsir.train(raw, empty))
    assert(e2.getMessage.contains("target corpus"))
  }

  test("n_feats counts unigrams + bigrams") {
    val one = Seq((1L, "x y z")).toDF("doc_id", "text")
    val m = Dsir.train(one, one)
    // 3 unigrams + 2 bigrams
    assert(Dsir.scoreWith(m, one).as[(Long, Long, Double)].collect()
      .head._2 == 5L)
    val single = Seq((2L, "solo")).toDF("doc_id", "text")
    assert(Dsir.scoreWith(m, single).as[(Long, Long, Double)].collect()
      .head._2 == 1L, "a one-token doc has no bigram")
  }

  test("weights(): Gopher-passed subset is the target; select is a top-k of it") {
    val w = Dsir.weights(raw).as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(w.keySet == (1L to 10L).toSet)
    // A docs pass the rules and form the target -> they outrank B docs
    assert((1L to 5L).map(i => w(i)._2).min > (6L to 10L).map(i => w(i)._2).max)
    val sel = Dsir.select(raw, 3).as[(Long, Long, Double)].collect()
    assert(sel.length == 3)
    val ranked = w.toSeq.sortBy { case (id, (_, lw)) => (-lw, id) }.take(3)
    assert(sel.map(_._1).toSeq == ranked.map(_._1))
    // ordered by logw desc within the selection
    assert(sel.map(_._3).toSeq == sel.map(_._3).sortBy(-(_: Double)).toSeq)
  }
}
