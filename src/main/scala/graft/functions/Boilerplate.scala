package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-level boilerplate removal — the line-granular dedup between
  * document-level (`Dedup`/`NearDup`) and span-level (`SubstringDedup`):
  * lines repeated across MANY documents (site headers, cookie banners,
  * navigation footers, license stubs) are boilerplate and are cut from
  * every document, while lines that merely repeat WITHIN one document
  * survive (in-doc repetition is `Text.repetitionScore`'s business).
  * This is the cross-document line filter of the CCNet / RefinedWeb
  * pipeline family (Wenzek et al. 2020, arXiv:1911.00359; Penedo et al.
  * 2023, arXiv:2306.01116) — public-method implementations, built from
  * Spark primitives.
  *
  * Scale shape: one explode pass over the corpus; line identity crosses
  * the wire as an 8-byte `xxhash64`, never the line text (the
  * [[SubstringDedup]] convention — at 100 TB the shuffle is 8 B per
  * line occurrence, and the frequency table is distinct-line-sized with
  * partial aggregation). The rebuild is a per-document `filter` over the
  * already-split line array — no second explode, no per-doc window, no
  * join back on the document table. Document text never shuffles at all:
  * the only exchange carries (hash, doc) pairs for the distinct-doc
  * count; the boilerplate SET (hashes of lines in ≥ `minDocs` docs)
  * equi-joins back against that same 8-byte stream, and each affected
  * document receives its dirty hashes as one small array.
  */
object Boilerplate {

  /** Per-line cross-document frequency: one row per DISTINCT line with
    * the number of distinct documents containing it. Line text is kept
    * alongside its hash here (this is the human-readable report face;
    * the removal path below never shuffles text).
    */
  def lineFrequencies(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      sep: String = "\n"
  ): DataFrame =
    docs.select(col(idCol).as("_id"),
        explode(array_distinct(split(col(textCol), java.util.regex.Pattern.quote(sep))))
          .as("line"))
      // same non-empty rule as the removal face: empty lines are document
      // STRUCTURE, never boilerplate — a report topped by "" that removal
      // will never cut would mislead anyone tuning minDocs off it
      .filter(length(col("line")) > 0)
      .groupBy(col("line"))
      .agg(countDistinct(col("_id")).as("n_docs"))

  /** Remove every line that appears in at least `minDocs` DISTINCT
    * documents. Returns the input columns with `textCol` rewritten
    * (boilerplate lines cut, remaining lines re-joined with `sep`) plus
    * `n_removed` = boilerplate lines cut from this document (counting
    * in-doc multiplicity).
    *
    * Implementation: the per-(doc, distinct-line-hash) stream feeds a
    * distinct-doc count; hashes with count ≥ `minDocs` come back as the
    * boilerplate key set and join (8 B keys, equality join) against the
    * per-doc stream to mark each doc's dirty lines; each document then
    * filters its OWN line array against its (tiny) dirty-hash array —
    * per-row `filter` HOF, no re-explode. Collision risk is the
    * [[SubstringDedup]] contract: a 64-bit collision could only ever cut
    * an extra innocent line, never corrupt text, and at 2^32 distinct
    * lines the birthday bound is the accepted trade for an 8-byte
    * shuffle key.
    */
  def removeDupLines(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      sep: String = "\n",
      minDocs: Long = 10L
  ): DataFrame = {
    require(minDocs >= 2, s"minDocs must be at least 2, got $minDocs")
    val sepLit = java.util.regex.Pattern.quote(sep)
    val withLines = docs.withColumn("_lines", split(col(textCol), sepLit))
    // (id, line-hash) per DISTINCT non-empty line per doc — 8 B values,
    // one shuffle. Empty lines are structure, not boilerplate: they never
    // enter candidacy and always survive the rebuild.
    val docLine = withLines.select(col(idCol).as("_id"),
      explode(array_distinct(transform(
        filter(col("_lines"), l => length(l) > 0), l => xxhash64(l)))).as("_h"))
    val boiler = docLine.groupBy(col("_h"))
      .agg(countDistinct(col("_id")).as("_n"))
      .filter(col("_n") >= minDocs)
      .select(col("_h"))
    // each doc's own dirty hashes, as ONE array row per affected doc
    val dirty = docLine.join(boiler, "_h")
      .groupBy(col("_id"))
      .agg(collect_list(col("_h")).as("_dirty"))
    val rebuilt = withLines
      .join(dirty, col(idCol) === col("_id"), "left")
      .withColumn("_keep",
        when(col("_dirty").isNull, col("_lines"))
          .otherwise(filter(col("_lines"),
            l => !array_contains(col("_dirty"), xxhash64(l)))))
      .withColumn("n_removed",
        (size(col("_lines")) - size(col("_keep"))).cast("long"))
      .withColumn(textCol, array_join(col("_keep"), sep))
    rebuilt.select(docs.columns.map(col) :+ col("n_removed"): _*)
  }

  /** First-occurrence line filter WITHIN each document — the intra-doc
    * complement of [[removeDupLines]]: a line repeated inside ONE document
    * (pagination artifacts, re-included nav blocks, scraper stutter) keeps
    * its first occurrence and loses the rest. Cross-document repetition is
    * untouched here — that is [[removeDupLines]]'s job; composing the two
    * gives the full CCNet-style line hygiene pass.
    *
    * Scale shape: strictly per-row — split, indexed-lambda filter, rejoin;
    * ZERO shuffles, no state, streaming-safe. The first-occurrence test is
    * `array_position(lines, l) == i` (position of the first equal line vs
    * this line's own index), O(lines²) per document in the worst case —
    * per-row work over an in-memory array, not a distributed cost.
    *
    * Empty lines are structure, not repetition, and always survive — the
    * same contract as [[removeDupLines]].
    */
  def dedupLinesWithinDoc(
      docs: DataFrame,
      textCol: String = "text",
      sep: String = "\n"
  ): DataFrame = {
    val lines = split(col(textCol), java.util.regex.Pattern.quote(sep))
    val bound = docs.withColumn("_lines", lines)
    // Spark HOF index is 0-based, array_position 1-based.
    val kept = filter(col("_lines"),
      (l, i) => length(l) === 0 || array_position(col("_lines"), l) === i + 1)
    bound
      .withColumn("_keep", kept)
      .withColumn("n_removed",
        (size(col("_lines")) - size(col("_keep"))).cast("long"))
      .withColumn(textCol, array_join(col("_keep"), sep))
      .select(docs.columns.map(col) :+ col("n_removed"): _*)
  }
}
