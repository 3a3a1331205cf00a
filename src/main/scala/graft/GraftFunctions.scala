package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftsql.Bridge

import graft.functions.{NearDup, Similarity}
import graft.plans.{CosineSimilarity, SortedIntersectCount}

/** SQL surface for graft's kernels: makes the library usable from pure
  * `spark.sql(...)` — a koalas user migrating SQL-first workloads calls
  * `graft_cosine` / `graft_simhash64` / ... without touching the Scala
  * API.
  *
  * Two registration paths, same builders:
  *  - [[GraftExtensions]]: a `SparkSessionExtensions` hook for cluster
  *    deployment (`spark.sql.extensions=graft.GraftExtensions` — every
  *    session, every executor, at build time);
  *  - [[GraftFunctions.register]]: session-scoped temp functions for an
  *    already-built session (tests, notebooks).
  *
  * All functions resolve to the same codegen'd Catalyst expressions the
  * DataFrame API uses — no UDF wrapping, identical plans either way.
  */
object GraftFunctions {

  /** (name, description, builder) for every exposed function. */
  private[graft] val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_cosine",
      "graft_cosine(a, b) - cosine similarity of two numeric arrays (fused native kernel)",
      (es: Seq[Expression]) => {
        require(es.length == 2, "graft_cosine takes 2 arguments")
        // cast elements to double HERE so float arrays go through the same
        // per-element cast as the Column API's asDouble — the kernel reads
        // doubles, and skipping the cast is a 1-ULP divergence, not an error
        def d(e: Expression) = org.apache.spark.sql.catalyst.expressions.Cast(
          e, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
        CosineSimilarity(d(es(0)), d(es(1)))
      }),
    ("graft_sorted_intersect",
      "graft_sorted_intersect(a, b) - intersection size of two SORTED long arrays",
      (es: Seq[Expression]) => {
        require(es.length == 2, "graft_sorted_intersect takes 2 arguments")
        SortedIntersectCount(es(0), es(1))
      }),
    ("graft_simhash64",
      "graft_simhash64(text) - 64-bit SimHash over whitespace tokens (native single-pass kernel)",
      (es: Seq[Expression]) => {
        require(es.length == 1, "graft_simhash64 takes 1 argument")
        graft.plans.SimHash64(es(0))
      }),
    ("graft_shingles",
      "graft_shingles(text, w) - distinct w-token shingles of text (w literal int)",
      (es: Seq[Expression]) => {
        require(es.length == 2, "graft_shingles takes 2 arguments")
        // w parameterizes the generated expression tree, so it must be a
        // literal: a column reference or non-integral literal would
        // otherwise surface as an opaque NPE/ClassCastException here.
        if (!es(1).foldable) throw new org.apache.spark.sql.AnalysisException(
          errorClass = "_LEGACY_ERROR_TEMP_3055",
          messageParameters = Map("reason" ->
            "graft_shingles: the shingle width w must be a foldable INT literal, got a non-foldable expression"))
        val w = es(1).eval(null) match {
          case i: Int => i
          case l: Long if l.isValidInt => l.toInt
          case s: Short => s.toInt
          case b: Byte => b.toInt
          case other => throw new org.apache.spark.sql.AnalysisException(
            errorClass = "_LEGACY_ERROR_TEMP_3055",
            messageParameters = Map("reason" ->
              s"graft_shingles: w must be an INT literal, got ${if (other == null) "NULL" else other.getClass.getSimpleName}"))
        }
        Bridge.toAnalyzableExpression(NearDup.shingles(Bridge.toColumn(es(0)), w))
      }),
    ("graft_dot",
      "graft_dot(a, b) - sequential-fold dot product of two numeric arrays",
      (es: Seq[Expression]) => {
        require(es.length == 2, "graft_dot takes 2 arguments")
        Bridge.toAnalyzableExpression(Similarity.dot(
          Similarity.asDouble(Bridge.toColumn(es(0))),
          Similarity.asDouble(Bridge.toColumn(es(1)))))
      }),
    ("graft_vector_sum",
      "graft_vector_sum(v, dim) - AGGREGATE: element-wise exact sum of fixed-length bigint vectors (dim literal int)",
      (es: Seq[Expression]) => {
        require(es.length == 2, "graft_vector_sum takes 2 arguments")
        val dim = literalInt(es(1), "graft_vector_sum", "dim")
        graft.plans.VectorSumFixed(es(0), dim).toAggregateExpression()
      }),
    ("graft_bottom_k",
      "graft_bottom_k(v, k) - AGGREGATE: the k distinct values with smallest md5 digests (deterministic sample; k literal int)",
      (es: Seq[Expression]) => {
        require(es.length == 2, "graft_bottom_k takes 2 arguments")
        val k = literalInt(es(1), "graft_bottom_k", "k")
        graft.plans.BottomKByHash(es(0), k).toAggregateExpression()
      }),
    ("graft_heavy_hitters",
      "graft_heavy_hitters(v, capacity) - AGGREGATE: Misra-Gries frequent items, capacity-bounded state (capacity literal int)",
      (es: Seq[Expression]) => {
        require(es.length == 2, "graft_heavy_hitters takes 2 arguments")
        val cap = literalInt(es(1), "graft_heavy_hitters", "capacity")
        graft.plans.HeavyHittersMG(es(0), cap).toAggregateExpression()
      })
  )

  /** Evaluate a parameter that shapes the expression tree: must be a
    * foldable INT literal (same contract as graft_shingles' w). Plain
    * IllegalArgumentException — error-class-based AnalysisExceptions
    * don't render outside the sql module's own error classes. */
  private def literalInt(e: Expression, fn: String, param: String): Int = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn: $param must be a foldable INT literal, got a non-foldable expression")
    e.eval(null) match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: $param must be an INT literal, got ${if (other == null) "NULL" else other.getClass.getSimpleName}")
    }
  }

  /** Register every graft function on an already-built session
    * (session-scoped, `createOrReplaceTempFunction`). Idempotent. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, _, builder) =>
      Bridge.registerFunction(spark, name, builder)
    }
}

/** `spark.sql.extensions` entry point:
  * `GraftSession.builder().withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.GraftExtensions`. Installs the SQL
  * function surface AND the banded-range-join optimizer rule
  * ([[graft.plans.BandedRangeJoinRule]] — naive inequality joins stop
  * planning as nested loops, cluster-wide). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, usage, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.GraftFunctions", null, name, usage,
          "", "", "", "agg_funcs", "1.0.0", "", "built-in"),
        builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.BandedRangeJoinRule)
  }
}
