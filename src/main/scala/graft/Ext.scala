package graft

import org.apache.spark.sql.functions._

import graft.Queries.QDef
import graft.functions.{Dedup, NearDup, Privacy, Similarity, Text}
import graft.operators.Sessions

/** EXT-tier query registry: the LLM-data-pipeline operators grounded in the
  * `documents` / `events` / `embeddings` tables (SURVEY §2.5 end, §7.2
  * item 5). Oracle SQL mirrors each Catalyst expression 1:1 in DuckDB
  * dialect (list_* higher-order functions ↔ Spark array HOFs).
  */
object Ext {

  import Tables._

  /** Gap-based sessionization over events (30-min gap). */
  private val sessionize = QDef(
    "sessionize",
    (s, d) => Sessions.sessionize(events(s, d)),
    Some(
      """SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        | min(ts) AS session_start, max(ts) AS session_end,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (
        | SELECT user_id, ts, value,
        |  sum(_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                  ROWS UNBOUNDED PRECEDING) AS session_id
        | FROM (
        |  SELECT user_id, ts, event_id, value,
        |   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |     OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |          + INTERVAL 30 MINUTE
        |    THEN 1 ELSE 0 END AS _new
        |  FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
        |        FROM events)) )
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin.replace('\n', ' ')
    )
  )

  /** Session distribution summary ([[graft.operators.Sessions
    * .sessionStats]]): one-row reduce over the session table — counts
    * exact, averages from exact long sums with engine-identical final
    * divides. */
  private val sessionStatsQ = QDef(
    "session_stats",
    (s, d) => Sessions.sessionStats(events(s, d)),
    Some(
      """WITH sess AS (SELECT user_id, session_id,
        | min(ts) AS session_start, max(ts) AS session_end,
        | CAST(count(*) AS BIGINT) AS n_events
        |FROM (
        | SELECT user_id, ts, event_id,
        |  sum(_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                  ROWS UNBOUNDED PRECEDING) AS session_id
        | FROM (
        |  SELECT user_id, ts, event_id,
        |   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |     OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |          + INTERVAL 30 MINUTE
        |    THEN 1 ELSE 0 END AS _new
        |  FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
        |        FROM events)) )
        |GROUP BY user_id, session_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
        | CAST(count(CASE WHEN n_events = 1 THEN 1 END) AS BIGINT) AS n_single_event,
        | CAST(sum(n_events) AS BIGINT) AS total_events,
        | CAST(sum(n_events) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_events,
        | CAST(sum(epoch_us(session_end) - epoch_us(session_start)) AS DOUBLE)
        |  / CAST(count(*) AS DOUBLE) / 1000000.0 AS avg_duration_sec,
        | CAST(max(epoch_us(session_end) - epoch_us(session_start)) AS DOUBLE)
        |  / 1000000.0 AS max_duration_sec
        |FROM sess""".stripMargin.replace('\n', ' ')
    )
  )

  /** Per-document text statistics. */
  private val textStats = QDef(
    "text_stats",
    (s, d) => Text.textStats(documents(s, d)).orderBy(col("doc_id")),
    Some(
      """SELECT doc_id,
        | CAST(length(text) AS INT) AS n_chars2,
        | CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        | CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_uniq_tokens,
        | CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS BIGINT) AS sum_token_len,
        | CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS DOUBLE)
        |   / len(string_split(text, ' ')) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin.replace('\n', ' ')
    )
  )

  /** Whitespace + BPE-ish regex token counts. */
  private val tokenCount = QDef(
    "token_count",
    (s, d) => Text.tokenCounts(documents(s, d)).orderBy(col("doc_id")),
    Some(
      ("SELECT doc_id, " +
        "CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens, " +
        s"CAST(len(regexp_extract_all(text, '${Text.bpeishPattern}')) AS INT) AS n_bpeish_tokens " +
        "FROM documents ORDER BY doc_id")
    )
  )

  private def markerSql(name: String, markers: Seq[String]): String =
    s"len(list_filter(string_split(text, ' '), t -> t IN (" +
      markers.map(m => s"'$m'").mkString(", ") + s"))) AS $name"

  /** The marker-argmax prediction as a bare SELECT (doc_id, lang,
    * lang_pred) — shared between the [[langIdQ]] oracle and the
    * [[langIdEvalQ]] confusion rollup. */
  private lazy val langPredSqlCore: String =
    "WITH m AS (SELECT doc_id, lang, " +
      markerSql("mk_en", Text.langMarkers(0)._2) + ", " +
      markerSql("mk_de", Text.langMarkers(1)._2) + ", " +
      markerSql("mk_es", Text.langMarkers(2)._2) + ", " +
      markerSql("mk_fr", Text.langMarkers(3)._2) +
      " FROM documents) " +
      "SELECT doc_id, lang, " +
      "CASE WHEN mk_en >= mk_de AND mk_en >= mk_es AND mk_en >= mk_fr AND mk_en > 0 THEN 'en' " +
      "WHEN mk_de >= mk_es AND mk_de >= mk_fr AND mk_de > 0 THEN 'de' " +
      "WHEN mk_es >= mk_fr AND mk_es > 0 THEN 'es' " +
      "WHEN mk_fr > 0 THEN 'fr' ELSE 'und' END AS lang_pred FROM m"

  /** Marker-token language ID (argmax, fixed tie order en>de>es>fr). */
  private val langIdQ = QDef(
    "lang_id",
    (s, d) => Text.langId(documents(s, d)).orderBy(col("doc_id")),
    Some(langPredSqlCore + " ORDER BY doc_id")
  )

  /** Classifier evaluation for the language-ID heuristic: the confusion
    * matrix of predicted vs declared language with per-cell share of the
    * truth row — the accuracy monitor a pipeline runs before trusting a
    * classifier to route 100 TB. Reuses [[Text.langId]]'s prediction;
    * the rollup is one (truth, pred)-key aggregate plus a truth-key
    * total joined back (both lang-cardinality-sized). */
  private val langIdEvalQ = QDef(
    "langid_eval",
    (s, d) => {
      val pred = Text.langId(documents(s, d))
      val cells = pred.groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
      val totals = cells.groupBy(col("lang")).agg(sum(col("n")).as("_t"))
      cells.join(broadcast(totals), "lang")
        .select(col("lang"), col("lang_pred"), col("n"),
          (col("n").cast("double") / col("_t")).as("share_of_truth"))
        .orderBy(col("lang"), col("lang_pred"))
    },
    Some("WITH p AS (" + langPredSqlCore + "), " +
      "cells AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n " +
      "FROM p GROUP BY 1, 2), " +
      "tot AS (SELECT lang, sum(n) AS t FROM cells GROUP BY 1) " +
      "SELECT cells.lang AS lang, lang_pred, n, " +
      "CAST(n AS DOUBLE) / t AS share_of_truth " +
      "FROM cells JOIN tot ON cells.lang = tot.lang " +
      "ORDER BY lang, lang_pred")
  )

  /** Sentence-shape statistics ([[graft.functions.Text.sentenceStats]]):
    * run-on / fragment structure signal; zero shuffle. */
  private val sentenceStatsQ = QDef(
    "sentence_stats",
    (s, d) => Text.sentenceStats(documents(s, d)).orderBy(col("doc_id")),
    Some("WITH sl AS (SELECT doc_id, string_split(text, '. ') AS sl FROM documents), " +
      "ll AS (SELECT doc_id, sl, list_transform(sl, s -> " +
      "CASE WHEN len(s) = 0 THEN 0 ELSE len(string_split(s, ' ')) END) AS ll FROM sl) " +
      "SELECT doc_id, CAST(len(sl) AS BIGINT) AS n_sentences, " +
      "CAST(list_sum(ll) AS BIGINT) AS n_sent_tokens, " +
      "CAST(list_sum(ll) AS DOUBLE) / len(sl) AS mean_sent_tokens, " +
      "CAST(list_min(ll) AS BIGINT) AS min_sent_tokens, " +
      "CAST(list_max(ll) AS BIGINT) AS max_sent_tokens " +
      "FROM ll ORDER BY doc_id")
  )

  /** Heuristic quality score. */
  private val qualityScore = QDef(
    "quality_score",
    (s, d) => Text.qualityScore(documents(s, d)).orderBy(col("doc_id")),
    Some(
      ("WITH m AS (SELECT doc_id, " +
        "CAST(len(list_filter(string_split(text, ' '), t -> t IN (" +
        Text.stopwords.map(w => s"'$w'").mkString(", ") + "))) AS DOUBLE) " +
        " / len(string_split(text, ' ')) AS stop_ratio, " +
        "CASE WHEN length(text) > 0 THEN " +
        "CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) " +
        " / length(text) ELSE CAST(0.0 AS DOUBLE) END AS alpha_ratio, " +
        "least(CAST(len(string_split(text, ' ')) AS DOUBLE) / CAST(200.0 AS DOUBLE), " +
        " CAST(1.0 AS DOUBLE)) AS len_score FROM documents) " +
        "SELECT doc_id, stop_ratio, alpha_ratio, len_score, " +
        "stop_ratio * CAST(0.5 AS DOUBLE) + alpha_ratio * CAST(0.3 AS DOUBLE) " +
        " + len_score * CAST(0.2 AS DOUBLE) AS quality " +
        "FROM m ORDER BY doc_id")
    )
  )

  /** PII redaction over a corpus with SYNTHESIZED deterministic PII (the
    * testdata word soup has none): each doc gets an email and a ≥6-digit
    * reference appended from its own doc_id, so both engines build the
    * identical dirty input and the scrubbed output + per-doc PII counts
    * hash-match. */
  private val redactPii = QDef(
    "redact_pii",
    (s, d) => Text.redactPii(
      documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
          lit("@example.com ref "),
          (col("doc_id") * 100003L + 100019L).cast("string")).as("text")))
      .orderBy(col("doc_id")),
    Some(
      "WITH dirty AS (SELECT doc_id, text || ' contact u' || " +
        "CAST(doc_id AS VARCHAR) || '@example.com ref ' || " +
        "CAST(doc_id * 100003 + 100019 AS VARCHAR) AS text FROM documents) " +
        s"SELECT doc_id, " +
        s"CAST(len(regexp_extract_all(text, '${Text.emailPattern}')) AS INT) AS n_emails, " +
        s"CAST(len(regexp_extract_all(regexp_replace(text, '${Text.emailPattern}', '<EMAIL>', 'g'), " +
        s"'${Text.longNumberPattern}')) AS INT) AS n_numbers, " +
        s"regexp_replace(regexp_replace(text, '${Text.emailPattern}', '<EMAIL>', 'g'), " +
        s"'${Text.longNumberPattern}', '<NUM>', 'g') AS redacted " +
        "FROM dirty ORDER BY doc_id")
  )

  /** The three fixed keyword queries shared by every retrieval oracle. */
  private val retrievalQsSql: String =
    "qs AS (SELECT * FROM (VALUES (1, 'table scan fast'), " +
      "(2, 'customer order join'), (3, 'stream vector hash')) q(query_id, qtext))"

  /** BM25 scoring CTE chain ending in `sc(query_id, doc_id, sdec)` —
    * shared by the `retrieval_bm25` oracle and the sparse leg of the
    * `retrieval_hybrid` oracle (same corpus statistics, same decimal
    * score sums). */
  private val bm25ScoreCtesSql: String =
    "tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      "dl AS (SELECT doc_id, len(t) AS dl FROM tok), " +
      "post AS (SELECT doc_id, unnest(t) AS term FROM tok), " +
      "qt AS (SELECT query_id, unnest(list_distinct(string_split(qtext, ' '))) AS term FROM qs), " +
      "qterm AS (SELECT DISTINCT term FROM qt), " +
      "m AS (SELECT p.doc_id, p.term FROM post p JOIN qterm USING (term)), " +
      "tf AS (SELECT doc_id, term, count(*) AS tf FROM m GROUP BY 1, 2), " +
      "dft AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM m) GROUP BY 1), " +
      "stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl), " +
      "sc AS (SELECT qt.query_id, tf.doc_id, " +
      "sum(CAST( ((CAST(stats.n_docs - dft.df AS DOUBLE) + 0.5) / (CAST(dft.df AS DOUBLE) + 0.5)) " +
      "* ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0)) / (CAST(tf.tf AS DOUBLE) " +
      "+ 1.2 * ((1.0 - 0.75) + (0.75 * CAST(dl.dl AS DOUBLE)) / (CAST(stats.sum_dl AS DOUBLE) / CAST(stats.n_docs AS DOUBLE))))) " +
      "AS DECIMAL(28,10))) AS sdec " +
      "FROM tf JOIN qt ON qt.term = tf.term JOIN dft ON dft.term = tf.term " +
      "JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats GROUP BY 1, 2)"

  /** BM25 sparse keyword retrieval: top-10 docs for three fixed keyword
    * queries ([[graft.functions.Retrieval.bm25TopK]] — rational log-free
    * idf, decimal-exact score sums, two-stage top-k). The oracle mirrors
    * the scoring expression term-for-term in the same parenthesization;
    * the decimal sum makes the comparison order-invariant. */
  private val retrievalBm25 = QDef(
    "retrieval_bm25",
    (s, d) => {
      import s.implicits._
      val qs = Seq(
        (1, "table scan fast"),
        (2, "customer order join"),
        (3, "stream vector hash")).toDF("query_id", "qtext")
      graft.functions.Retrieval.bm25TopK(documents(s, d), qs, k = 10)
    },
    Some(
      s"WITH $retrievalQsSql, $bm25ScoreCtesSql " +
        "SELECT query_id, doc_id, CAST(sdec AS DOUBLE) AS score, CAST(rank AS INT) AS rank " +
        "FROM (SELECT query_id, doc_id, sdec, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY sdec DESC, doc_id) AS rank FROM sc) " +
        "WHERE rank <= 10 ORDER BY query_id, rank")
  )

  /** Hybrid retrieval ([[graft.functions.Retrieval.hybridTopK]]): BM25
    * and hashed-feature-cosine legs (top-20 each) fused by reciprocal
    * rank fusion to the final top-10 per query. The oracle mirrors both
    * legs (the shared BM25 CTE chain + an md5-bucket cosine chain with
    * exact integer dot products) and the fusion arithmetic — each RRF
    * contribution is one exactly-rounded IEEE divide, summed in fixed
    * (dense, sparse) order, so fused scores hash-match bit-for-bit. */
  private val retrievalHybridQ = QDef(
    "retrieval_hybrid",
    (s, d) => {
      import s.implicits._
      val qs = Seq(
        (1, "table scan fast"),
        (2, "customer order join"),
        (3, "stream vector hash")).toDF("query_id", "qtext")
      graft.functions.Retrieval.hybridTopK(documents(s, d), qs, k = 10)
    },
    Some(
      s"WITH $retrievalQsSql, $bm25ScoreCtesSql, " +
        "s20 AS (SELECT query_id, doc_id, rank FROM (SELECT query_id, doc_id, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY sdec DESC, doc_id) AS rank FROM sc) " +
        "WHERE rank <= 20), " +
        "dvec AS (SELECT doc_id, substring(md5(term), 1, 2) AS f, count(*) AS dc " +
        "FROM post GROUP BY 1, 2), " +
        "dnorm AS (SELECT doc_id, sum(dc * dc) AS nd2 FROM dvec GROUP BY 1), " +
        "qvec AS (SELECT query_id, substring(md5(term), 1, 2) AS f, count(*) AS qc " +
        "FROM (SELECT query_id, unnest(string_split(qtext, ' ')) AS term FROM qs) GROUP BY 1, 2), " +
        "qnorm AS (SELECT query_id, sum(qc * qc) AS nq2 FROM qvec GROUP BY 1), " +
        "dotc AS (SELECT query_id, doc_id, sum(dc * qc) AS dot " +
        "FROM dvec JOIN qvec USING (f) GROUP BY 1, 2), " +
        "dsim AS (SELECT query_id, doc_id, CAST(dot AS DOUBLE) / " +
        "(sqrt(CAST(nd2 AS DOUBLE)) * sqrt(CAST(nq2 AS DOUBLE))) AS sim " +
        "FROM dotc JOIN dnorm USING (doc_id) JOIN qnorm USING (query_id)), " +
        "d20 AS (SELECT query_id, doc_id, rank FROM (SELECT query_id, doc_id, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rank FROM dsim) " +
        "WHERE rank <= 20), " +
        "fused AS (SELECT coalesce(a.query_id, b.query_id) AS query_id, " +
        "coalesce(a.doc_id, b.doc_id) AS doc_id, " +
        "coalesce(CAST(1 AS DOUBLE) / CAST(60 + a.rank AS DOUBLE), CAST(0 AS DOUBLE)) " +
        "+ coalesce(CAST(1 AS DOUBLE) / CAST(60 + b.rank AS DOUBLE), CAST(0 AS DOUBLE)) AS rrf, " +
        "a.rank AS rank_a, b.rank AS rank_b " +
        "FROM d20 a FULL OUTER JOIN s20 b ON a.query_id = b.query_id AND a.doc_id = b.doc_id) " +
        "SELECT query_id, doc_id, rrf, CAST(rank_a AS INT) AS rank_a, " +
        "CAST(rank_b AS INT) AS rank_b, CAST(rank AS INT) AS rank " +
        "FROM (SELECT query_id, doc_id, rrf, rank_a, rank_b, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank FROM fused) " +
        "WHERE rank <= 10 ORDER BY query_id, rank")
  )

  /** Entity-resolution fuzzy matching ([[graft.functions.Fuzzy
    * .fuzzyPairs]]): all customer-name pairs within Levenshtein distance 1
    * — one-digit-typo identities — found via the deletion-neighborhood
    * equi-join, verified exact. The oracle IS the naive O(n²) levenshtein
    * cross join the operator exists to avoid, feasible only because the
    * oracle runs at sf0.01. */
  private val fuzzyPairsQ = QDef(
    "fuzzy_pairs",
    (s, d) => graft.functions.Fuzzy.fuzzyPairsShared(customer(s, d), "c_name",
        maxDist = 1)
      .orderBy(col("term_a"), col("term_b")),
    Some("WITH v AS (SELECT DISTINCT c_name FROM customer) " +
      "SELECT a.c_name AS term_a, b.c_name AS term_b, " +
      "CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist " +
      "FROM v a JOIN v b ON a.c_name < b.c_name " +
      "WHERE levenshtein(a.c_name, b.c_name) <= 1 ORDER BY term_a, term_b")
  )

  /** Unicode NFC normalization ([[graft.plans.UnicodeNormalize]]): the
    * canonicalization pass that makes byte equality mean text equality
    * before any hash-keyed operator (exact/line/shingle dedup, vocab).
    * The corpus is ASCII, so decomposed sequences (combining acute /
    * diaeresis / ring, built with `chr()` on the oracle side and \u
    * escapes on the engine side — no raw non-ASCII in either source) are
    * appended deterministically; NFC must compose them and leave the
    * ASCII prefix byte-identical. Char counts before/after pin the
    * composition. Oracle: DuckDB's `nfc_normalize`. */
  private val normalizeTextQ = QDef(
    "normalize_text",
    (s, d) => {
      val dirty = documents(s, d).select(col("doc_id"),
        concat(col("text"),
          lit(" caf"), lit("e\u0301"),
          lit(" u\u0308ber A\u030angstro\u0308m")).as("text"))
      dirty.select(col("doc_id"),
        graft.plans.UnicodeNormalize.nfc(col("text")).as("nfc_text"),
        length(col("text")).as("n_raw"),
        length(graft.plans.UnicodeNormalize.nfc(col("text"))).as("n_nfc"))
        .orderBy(col("doc_id"))
    },
    Some("WITH dirty AS (SELECT doc_id, text || ' caf' || chr(101) || chr(769) || " +
      "' u' || chr(776) || 'ber A' || chr(778) || 'ngstro' || chr(776) || 'm' AS text " +
      "FROM documents) " +
      "SELECT doc_id, nfc_normalize(text) AS nfc_text, " +
      "CAST(length(text) AS INT) AS n_raw, " +
      "CAST(length(nfc_normalize(text)) AS INT) AS n_nfc " +
      "FROM dirty ORDER BY doc_id")
  )

  /** HTML → text extraction ([[graft.functions.Text.stripHtml]]): each
    * doc wrapped in a deterministic HTML shell (head/style block, a
    * script block with tag-confusing `<` and quotes, heading, entities)
    * and stripped back out. The oracle computes the EXPECTED prose
    * directly from the construction — strip(wrap(text)) is pinned to a
    * closed form, the `bpe_roundtrip` pattern — so a hash-match certifies
    * block removal, tag-to-space, single-decode entity order, and
    * whitespace collapse all at once. */
  private val stripHtmlQ = QDef(
    "strip_html",
    (s, d) => {
      val html = concat(
        lit("<html><head><style type=\"text/css\">p { color: red }</style>" +
          "</head><body><script>if (1 < 2) { var x = \"a&b\"; }</script>" +
          "<h1>Title</h1>\n<p>&quot;"),
        col("text"),
        lit("&quot; &amp;&nbsp;&#39;end&#39;</p></body></html>"))
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.Text.stripHtml(html).as("text"))
        .orderBy(col("doc_id"))
    },
    Some("SELECT doc_id, trim(regexp_replace(" +
      "'Title \"' || text || '\" & ''end''', '\\s+', ' ', 'g')) AS text " +
      "FROM documents ORDER BY doc_id")
  )

  /** Entity resolution ([[graft.functions.Fuzzy.resolveEntities]]):
    * every customer name labeled with the canonical (minimum) name of its
    * ≤1-edit transitive-closure cluster — fuzzy pairs chained into
    * entities by distributed min-label propagation. The oracle replays
    * the same definition: naive levenshtein pairs + a recursive-CTE
    * closure (the `dedup_clusters` walk pattern over string nodes). */
  private val entityResolveQ = QDef(
    "entity_resolve",
    (s, d) => graft.functions.Fuzzy.resolveEntities(
        customer(s, d), "c_name", maxDist = 1)
      .orderBy(col("term")),
    Some("WITH RECURSIVE v AS (SELECT DISTINCT c_name AS term FROM customer " +
      "WHERE c_name IS NOT NULL), " +
      "p AS (SELECT a.term AS ta, b.term AS tb FROM v a JOIN v b " +
      "ON a.term < b.term WHERE levenshtein(a.term, b.term) <= 1), " +
      "e AS (SELECT ta AS s, tb AS t FROM p UNION SELECT tb AS s, ta AS t FROM p), " +
      "walk AS (SELECT term AS node, term AS lbl FROM v " +
      "UNION SELECT e.s AS node, w.lbl FROM e JOIN walk w ON w.node = e.t) " +
      "SELECT node AS term, min(lbl) AS entity_id FROM walk " +
      "GROUP BY node ORDER BY term")
  )

  /** CDC MERGE into a snapshot ([[graft.operators.Cdc.applyChanges]]):
    * the events stream replayed as a change feed over the customer table —
    * each event carries a full replacement row for its user's customer
    * record, `error` events are tombstones; the latest event per user wins.
    * Customers outside the event user range pass through untouched (the
    * anti-join no-op path the operator guarantees never rewrites). */
  private val cdcUpsert = QDef(
    "cdc_upsert",
    (s, d) => {
      val snap = customer(s, d)
      val ch = events(s, d).select(
        col("user_id").as("c_custkey"),
        concat(lit("cdc_"), col("user_id")).as("c_name"),
        (col("user_id") % 25).cast("int").as("c_nationkey"),
        col("value").as("c_acctbal"),
        col("event_type").as("c_mktsegment"),
        col("ts"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"))
      graft.operators.Cdc.applyChanges(snap, ch, "c_custkey", "ts", "op")
        .orderBy(col("c_custkey"))
    },
    Some("WITH ch AS (SELECT user_id AS c_custkey, " +
      "'cdc_' || CAST(user_id AS VARCHAR) AS c_name, " +
      "CAST(user_id % 25 AS INT) AS c_nationkey, value AS c_acctbal, " +
      "event_type AS c_mktsegment, ts, " +
      "CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op FROM events), " +
      "l AS (SELECT *, row_number() OVER (PARTITION BY c_custkey " +
      "ORDER BY ts DESC) AS rn FROM ch) " +
      "SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment " +
      "FROM customer c WHERE c.c_custkey NOT IN (SELECT c_custkey FROM l WHERE rn = 1) " +
      "UNION ALL SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment " +
      "FROM l WHERE rn = 1 AND op <> 'D' ORDER BY c_custkey")
  )

  /** SCD type-2 interval history ([[graft.operators.Cdc.scd2History]]) of
    * the events feed: per user, each event's validity window
    * [valid_from, valid_to) with version numbers and the open current
    * interval — the auditable face of the same feed `cdc_upsert` merges. */
  private val scd2Q = QDef(
    "scd2_intervals",
    (s, d) => graft.operators.Cdc.scd2History(
        events(s, d).select(col("user_id"), col("ts"), col("event_type"),
          col("value")),
        "user_id", "ts")
      .select(col("user_id"), col("event_type"), col("value"),
        col("valid_from"), col("valid_to"), col("version"), col("is_current"))
      .orderBy(col("user_id"), col("version")),
    Some("SELECT user_id, event_type, value, ts AS valid_from, " +
      "lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to, " +
      "CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts) AS INT) AS version, " +
      "lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current " +
      "FROM events ORDER BY user_id, version")
  )

  /** Corpus snapshot diff: v2 derived from the corpus deterministically
    * (every 7th doc dropped, every remaining 5th doc rewritten, a fresh
    * doc per 11th) and classified by [[graft.functions.Snapshot.diff]].
    * Status depends only on intra-engine hash equality, so both engines
    * classify identically. */
  private val snapshotDiffQ = QDef(
    "snapshot_diff",
    (s, d) => {
      val docs = documents(s, d)
      val v2base = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      val added = docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("new "), col("doc_id").cast("string")).as("text"))
      graft.functions.Snapshot.diff(docs, v2base.unionByName(added))
        .orderBy(col("doc_id"))
    },
    Some(
      "WITH v2 AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text " +
        "FROM documents WHERE doc_id % 7 <> 0 " +
        "UNION ALL SELECT doc_id + 1000000 AS doc_id, 'new ' || CAST(doc_id AS VARCHAR) AS text " +
        "FROM documents WHERE doc_id % 11 = 0), " +
        "a AS (SELECT doc_id, md5(text) AS ha FROM documents), " +
        "b AS (SELECT doc_id, md5(text) AS hb FROM v2) " +
        "SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, " +
        "CASE WHEN a.doc_id IS NULL THEN 'added' WHEN b.doc_id IS NULL THEN 'removed' " +
        "WHEN ha = hb THEN 'unchanged' ELSE 'changed' END AS status " +
        "FROM a FULL JOIN b ON a.doc_id = b.doc_id ORDER BY doc_id")
  )

  /** Intra-document repeated-line removal
    * ([[graft.functions.Boilerplate.dedupLinesWithinDoc]]) over planted
    * in-doc repetition: a duplicated title line and a duplicated footer
    * around the original body; empty lines are structure and survive. */
  private val intradocDedupQ = QDef(
    "intradoc_dedup",
    (s, d) => {
      val docs = documents(s, d)
      val title = concat(lit("title "), (col("doc_id") % 3).cast("string"))
      val planted = docs.select(col("doc_id"),
        concat_ws("\n", title, col("text"), title, lit(""),
          lit("footer sec"), lit(""), lit("footer sec")).as("text"))
      graft.functions.Boilerplate.dedupLinesWithinDoc(planted)
        .orderBy(col("doc_id"))
    },
    Some(
      "WITH planted AS (SELECT doc_id, 'title ' || CAST(doc_id % 3 AS VARCHAR) || chr(10) || text " +
        "|| chr(10) || 'title ' || CAST(doc_id % 3 AS VARCHAR) || chr(10) || chr(10) " +
        "|| 'footer sec' || chr(10) || chr(10) || 'footer sec' AS text FROM documents), " +
        "l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM planted), " +
        "k AS (SELECT doc_id, ls, list_filter(ls, (x, i) -> length(x) = 0 OR list_position(ls, x) = i) AS keep FROM l) " +
        "SELECT doc_id, array_to_string(keep, chr(10)) AS text, " +
        "CAST(len(ls) - len(keep) AS BIGINT) AS n_removed FROM k ORDER BY doc_id")
  )

  /** Pairwise source-overlap matrix
    * ([[graft.functions.Profile.sourceOverlap]]): exact shingle-set
    * Jaccard between every pair of sources sharing ≥ 1 shingle. */
  private val sourceOverlapQ = QDef(
    "source_overlap",
    (s, d) => graft.functions.Profile.sourceOverlap(documents(s, d), "source"),
    Some(
      "WITH tok AS (SELECT source, string_split(text, ' ') AS t FROM documents), " +
        "ds AS (SELECT DISTINCT source, unnest(list_distinct(list_transform(" +
        "range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle " +
        "FROM tok WHERE len(t) >= 3), " +
        "sizes AS (SELECT source, count(*) AS n FROM ds GROUP BY 1), " +
        "inter AS (SELECT a.source AS group_a, b.source AS group_b, count(*) AS n_inter " +
        "FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.source < b.source GROUP BY 1, 2) " +
        "SELECT group_a, group_b, sa.n AS n_a, sb.n AS n_b, n_inter, " +
        "CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard " +
        "FROM inter JOIN sizes sa ON sa.source = group_a " +
        "JOIN sizes sb ON sb.source = group_b ORDER BY group_a, group_b")
  )

  /** URL extraction + domain blocklist flag
    * ([[graft.functions.Text.urlFilter]]) over planted per-doc URLs
    * (one https with a path, one http mirror); two domains blocked. */
  private val urlFilterQ = QDef(
    "url_filter",
    (s, d) => {
      val planted = documents(s, d).select(col("doc_id"),
        concat(col("text"),
          lit(" see https://site"), (col("doc_id") % 13).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string"),
          lit(" and http://mirror"), (col("doc_id") % 4).cast("string"),
          lit(".example.org/x")).as("text"))
      Text.urlFilter(planted,
          Seq("site3.example.com", "mirror1.example.org"))
        .select(col("doc_id"), col("n_urls"),
          array_join(col("domains"), ",").as("domains"), col("blocked"))
        .orderBy(col("doc_id"))
    },
    Some(
      "WITH planted AS (SELECT doc_id, text || ' see https://site' || CAST(doc_id % 13 AS VARCHAR) " +
        "|| '.example.com/p/' || CAST(doc_id AS VARCHAR) || ' and http://mirror' " +
        "|| CAST(doc_id % 4 AS VARCHAR) || '.example.org/x' AS text FROM documents), " +
        s"u AS (SELECT doc_id, regexp_extract_all(text, '${Text.urlPattern}') AS urls FROM planted), " +
        "d AS (SELECT doc_id, urls, list_sort(list_distinct(list_transform(urls, " +
        s"x -> regexp_extract(x, '${Text.urlDomainPattern}', 1)))) AS domains FROM u) " +
        "SELECT doc_id, CAST(len(urls) AS BIGINT) AS n_urls, " +
        "array_to_string(domains, ',') AS domains, " +
        "len(list_filter(domains, x -> x IN ('site3.example.com', 'mirror1.example.org'))) > 0 AS blocked " +
        "FROM d ORDER BY doc_id")
  )

  /** URL-keyed exact dedup ([[graft.functions.Text.urlDedup]] over
    * [[graft.functions.Text.canonicalizeUrl]]) — the crawl pipeline's
    * "same page fetched twice" collapse. Each group of 4 consecutive
    * doc_ids is planted as the SAME page under 4 fetch variants (host
    * case, `www.`, `:443` + `utm_*` params, trailing slash + fragment),
    * so every canonicalization rule is load-bearing in the oracle match:
    * a missed rule splits a group and changes the row set. */
  private val dedupUrlQ = QDef(
    "dedup_url",
    (s, d) => {
      val grp = floor(col("doc_id") / 4).cast("long")
      val h = (grp % 7).cast("string")
      val g = grp.cast("string")
      val v = col("doc_id") % 4
      val url = when(v === 0,
          concat(lit("HTTPS://Site"), h, lit(".Example.com/Page/"), g))
        .when(v === 1,
          concat(lit("https://www.site"), h, lit(".example.com/Page/"), g))
        .when(v === 2,
          concat(lit("https://site"), h, lit(".example.com:443/Page/"), g,
            lit("?utm_source=x&utm_medium=y")))
        .otherwise(
          concat(lit("https://site"), h, lit(".example.com/Page/"), g,
            lit("/#frag")))
      Text.urlDedup(
        documents(s, d).select(col("doc_id"), url.as("url")))
        .orderBy(col("canonical_url"))
    },
    Some(
      "WITH u0 AS (SELECT doc_id, CAST(floor(doc_id / 4) AS BIGINT) AS grp FROM documents), " +
        "u1 AS (SELECT doc_id, CAST(grp % 7 AS VARCHAR) AS h, " +
        "CAST(grp AS VARCHAR) AS g, doc_id % 4 AS v FROM u0), " +
        "u AS (SELECT doc_id, CASE " +
        "WHEN v = 0 THEN 'HTTPS://Site' || h || '.Example.com/Page/' || g " +
        "WHEN v = 1 THEN 'https://www.site' || h || '.example.com/Page/' || g " +
        "WHEN v = 2 THEN 'https://site' || h || '.example.com:443/Page/' || g || '?utm_source=x&utm_medium=y' " +
        "ELSE 'https://site' || h || '.example.com/Page/' || g || '/#frag' END AS url FROM u1), " +
        "c AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nofrag FROM u), " +
        "p AS (SELECT doc_id, " +
        "lower(regexp_extract(nofrag, '^([a-zA-Z]+)://', 1)) AS scheme, " +
        "regexp_replace(lower(regexp_extract(nofrag, '^[a-zA-Z]+://([^/?#]+)', 1)), '^www\\.', '') AS host1, " +
        "regexp_extract(nofrag, '^[a-zA-Z]+://[^/?#]+(.*)$', 1) AS rest0 FROM c), " +
        "q AS (SELECT doc_id, scheme, " +
        "CASE WHEN scheme = 'http' THEN regexp_replace(host1, ':80$', '') " +
        "WHEN scheme = 'https' THEN regexp_replace(host1, ':443$', '') " +
        "ELSE host1 END AS host, " +
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(rest0, " +
        "'&utm_[a-zA-Z0-9_]+=[^&#]*', '', 'g'), " +
        "'\\?utm_[a-zA-Z0-9_]+=[^&#]*&', '?'), " +
        "'\\?utm_[a-zA-Z0-9_]+=[^&#]*$', ''), " +
        "'[?&]$', ''), '^([^?]*)/$', '\\1') AS rest FROM p), " +
        "k AS (SELECT doc_id, scheme || '://' || host || rest AS canonical_url FROM q) " +
        "SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, canonical_url, " +
        "CAST(count(*) AS BIGINT) AS n_dups " +
        "FROM k GROUP BY canonical_url ORDER BY canonical_url")
  )

  /** The blocklist used by `blocklist_flags`: mixed 1/2/3-token phrases
    * from the synthetic vocab plus one guaranteed miss. */
  private val blocklistPhrases =
    Seq("sort merge", "slow join", "batch batch batch", "data group",
      "forbidden phrase never present")

  /** Phrase-blocklist screen ([[graft.functions.Blocklist.phraseHits]]):
    * distinct-phrase hit counts + flag per document via the token-shingle
    * equality join (never a per-phrase LIKE scan). The oracle replays the
    * same gram⋈phrase join per distinct phrase length in DuckDB. */
  private val blocklistQ = QDef(
    "blocklist_flags",
    (s, d) => {
      import s.implicits._
      graft.functions.Blocklist.phraseHits(
          documents(s, d), blocklistPhrases.toDF("phrase"), "phrase")
        .orderBy(col("doc_id"))
    },
    Some {
      val values = blocklistPhrases.map(p => s"('$p')").mkString(", ")
      s"WITH pl(ph) AS (VALUES $values), " +
        "p AS (SELECT DISTINCT lower(trim(ph)) AS p, " +
        "len(string_split(lower(trim(ph)), ' ')) AS np FROM pl), " +
        "tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents), " +
        "g AS (SELECT doc_id, np, list_distinct(list_transform(" +
        "range(1, len(t) - np + 2), i -> array_to_string(list_slice(t, i, i + np - 1), ' '))) AS grams " +
        "FROM tok, (SELECT DISTINCT np FROM p) n(np) WHERE len(t) >= np), " +
        "e AS (SELECT doc_id, np, unnest(grams) AS gram FROM g), " +
        "h AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits FROM e " +
        "JOIN p ON e.gram = p.p AND e.np = p.np GROUP BY doc_id) " +
        "SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits, " +
        "coalesce(h.n_hits, 0) > 0 AS flagged " +
        "FROM documents d LEFT JOIN h USING (doc_id) ORDER BY d.doc_id"
    }
  )

  /** Per-document bigram novelty ([[graft.functions.Text.ngramNovelty]]):
    * fraction of each doc's distinct bigrams appearing in no other doc. */
  private val ngramNoveltyQ = QDef(
    "ngram_novelty",
    (s, d) => Text.ngramNovelty(documents(s, d)).orderBy(col("doc_id")),
    Some(
      "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "ds AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
        "range(1, len(t)), i -> t[i] || ' ' || t[i+1]))) AS shingle " +
        "FROM tok WHERE len(t) >= 2), " +
        "dfq AS (SELECT shingle, count(*) AS df FROM ds GROUP BY 1) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams, " +
        "CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique, " +
        "CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS novelty " +
        "FROM ds JOIN dfq USING (shingle) GROUP BY doc_id ORDER BY doc_id")
  )

  /** Bottom-k KMV estimate of the source-overlap matrix
    * ([[graft.functions.Profile.sourceOverlapSketch]]) — the 100 TB path
    * for `source_overlap`, gated in-query against the exact Jaccard
    * (`within_tol`). The sketch is md5-canonical, so the ESTIMATE itself
    * is oracle-exact, not just the gate. */
  private val sourceOverlapSketchQ = QDef(
    "source_overlap_sketch",
    (s, d) => graft.functions.Profile.sourceOverlapSketch(
      documents(s, d), "source", k = 128, tol = 0.15),
    Some(
      "WITH tok AS (SELECT source, string_split(text, ' ') AS t FROM documents), " +
        "ds AS (SELECT DISTINCT source, unnest(list_distinct(list_transform(" +
        "range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle " +
        "FROM tok WHERE len(t) >= 3), " +
        "rk AS (SELECT source, shingle, row_number() OVER (PARTITION BY source ORDER BY md5(shingle)) AS rn FROM ds), " +
        "sk AS (SELECT source, shingle FROM rk WHERE rn <= 128), " +
        "gs AS (SELECT DISTINCT source FROM ds), " +
        "pr AS (SELECT a.source AS ga, b.source AS gb FROM gs a JOIN gs b ON a.source < b.source), " +
        "uni AS (SELECT pr.ga, pr.gb, s.shingle FROM pr JOIN sk s ON s.source = pr.ga " +
        "UNION SELECT pr.ga, pr.gb, s.shingle FROM pr JOIN sk s ON s.source = pr.gb), " +
        "ur AS (SELECT ga, gb, shingle, row_number() OVER (PARTITION BY ga, gb ORDER BY md5(shingle)) AS rn, " +
        "count(*) OVER (PARTITION BY ga, gb) AS usz FROM uni), " +
        "kept AS (SELECT * FROM ur WHERE rn <= 128), " +
        "est AS (SELECT k.ga, k.gb, " +
        "sum(CASE WHEN sa.shingle IS NOT NULL AND sb.shingle IS NOT NULL THEN 1 ELSE 0 END) AS num, " +
        "min(k.usz) AS usz FROM kept k " +
        "LEFT JOIN sk sa ON sa.source = k.ga AND sa.shingle = k.shingle " +
        "LEFT JOIN sk sb ON sb.source = k.gb AND sb.shingle = k.shingle GROUP BY 1, 2), " +
        "sizes AS (SELECT source, count(*) AS n FROM ds GROUP BY 1), " +
        "inter AS (SELECT a.source AS ga, b.source AS gb, count(*) AS i " +
        "FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.source < b.source GROUP BY 1, 2), " +
        "ex AS (SELECT ga, gb, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard " +
        "FROM inter JOIN sizes sa ON sa.source = ga JOIN sizes sb ON sb.source = gb) " +
        "SELECT e.ga AS group_a, e.gb AS group_b, " +
        "CAST(num AS DOUBLE) / least(128, e.usz) AS jaccard_est, " +
        "COALESCE(ex.jaccard, 0.0) AS jaccard_exact, " +
        "abs(CAST(num AS DOUBLE) / least(128, e.usz) - COALESCE(ex.jaccard, 0.0)) <= 0.15 AS within_tol " +
        "FROM est e LEFT JOIN ex ON ex.ga = e.ga AND ex.gb = e.gb ORDER BY group_a, group_b")
  )

  /** Bag-of-words canonical fingerprint. */
  private val fingerprintQ = QDef(
    "fingerprint",
    (s, d) => Text.fingerprint(documents(s, d)).orderBy(col("doc_id")),
    Some(
      "SELECT doc_id, md5(array_to_string(list_sort(list_distinct(" +
        "string_split(text, ' '))), ' ')) AS fp FROM documents ORDER BY doc_id"
    )
  )

  /** Exact dedup groups on normalized content hash. */
  private val dedupExact = QDef(
    "dedup_exact",
    (s, d) => Dedup.exactGroups(documents(s, d)),
    Some(
      "SELECT md5(lower(trim(text))) AS h, CAST(min(doc_id) AS BIGINT) AS keep_id, " +
        "CAST(count(*) AS BIGINT) AS n_dups FROM documents " +
        "GROUP BY md5(lower(trim(text))) ORDER BY h"
    )
  )

  /** Sequential-fold cosine in DuckDB dialect, matching
    * Similarity.dot/l2norm's fold order exactly (list_reduce starts at the
    * first element; Spark's aggregate starts at 0.0 — identical since
    * 0.0 + x == x in IEEE). */
  private def cosSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a)+1), i -> $a[i]*$b[i]), (x, y) -> x + y) " +
      s"/ (sqrt(list_reduce(list_transform($a, v -> v*v), (x, y) -> x + y)) " +
      s"* sqrt(list_reduce(list_transform($b, v -> v*v), (x, y) -> x + y)))"

  /** Exact top-k cosine neighbors (brute force over broadcast queries). */
  private val simTopK = QDef(
    "sim_topk",
    (s, d) => {
      val e = embeddings(s, d)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5)
    },
    Some(
      ("WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe " +
        "FROM embeddings WHERE vec_id < 20), " +
        "c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings), " +
        s"p AS (SELECT qid, nid, ${cosSql("qe", "ce")} AS sim FROM c, q WHERE qid <> nid), " +
        "r AS (SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid " +
        "ORDER BY sim DESC, nid) AS rn FROM p) " +
        "SELECT qid, nid, round(sim, 6) AS sim FROM r WHERE rn <= 5 " +
        "ORDER BY qid, nid")
    )
  )

  /** Shared CTE of the contrastive-mining oracles: anchor slate ×
    * corpus cosine pairs tagged pos/neg by label match
    * ([[graft.functions.Contrastive]]). */
  private val contrastiveCte: String =
    "WITH q AS (SELECT vec_id AS qid, label AS qlab, " +
      "CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 20), " +
      "c AS (SELECT vec_id AS nid, label AS nlab, " +
      "CAST(embedding AS DOUBLE[]) AS ce FROM embeddings), " +
      "p AS (SELECT qid, nid, CASE WHEN nlab = qlab THEN 'pos' ELSE 'neg' END " +
      s"AS kind, ${cosSql("qe", "ce")} AS sim FROM c, q WHERE qid <> nid) "

  /** Contrastive pair mining ([[graft.functions.Contrastive
    * .hardPairs]]): per anchor, the 4 hardest positives and negatives —
    * the candidate pool a pair-loss trainer samples from. */
  private val contrastivePairsQ = QDef(
    "contrastive_pairs",
    (s, d) => {
      val e = embeddings(s, d)
      graft.functions.Contrastive.hardPairs(
        e, e.filter(col("vec_id") < 20), "vec_id", "embedding", "label", k = 4)
    },
    Some(contrastiveCte +
      ", r AS (SELECT qid, kind, nid, sim, row_number() OVER " +
      "(PARTITION BY qid, kind ORDER BY sim DESC, nid) AS rn FROM p) " +
      "SELECT qid, kind, nid, round(sim, 6) AS sim FROM r WHERE rn <= 4 " +
      "ORDER BY qid, kind, nid")
  )

  /** Semi-hard triplet mining ([[graft.functions.Contrastive
    * .semiHardTriplets]]): FaceNet §3.2 — hardest positive + hardest
    * negative strictly farther than it, one triplet per anchor. */
  private val contrastiveTripletsQ = QDef(
    "contrastive_triplets",
    (s, d) => {
      val e = embeddings(s, d)
      graft.functions.Contrastive.semiHardTriplets(
        e, e.filter(col("vec_id") < 20), "vec_id", "embedding", "label")
    },
    Some(contrastiveCte +
      ", pos AS (SELECT qid, nid AS pos_nid, sim AS psim FROM " +
      "(SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid " +
      "ORDER BY sim DESC, nid) AS rn FROM p WHERE kind = 'pos') WHERE rn = 1), " +
      "neg AS (SELECT p.qid AS qid, pos_nid, psim, nid, sim, " +
      "row_number() OVER (PARTITION BY p.qid ORDER BY sim DESC, nid) AS rn " +
      "FROM p JOIN pos ON p.qid = pos.qid WHERE kind = 'neg' AND sim < psim) " +
      "SELECT qid, pos_nid, round(psim, 6) AS pos_sim, " +
      "nid AS neg_nid, round(sim, 6) AS neg_sim " +
      "FROM neg WHERE rn = 1 ORDER BY qid")
  )

  /** Oracle for every `ann_*_recall` query: the booleans are computed
    * in-engine from BOTH the ANN result and the exact top-k; the oracle
    * asserts they are all true (the `approx_agg_bounds` pattern). A recall
    * regression anywhere in the ANN machinery — bucketing, probing,
    * persisted layout, ADC, re-rank — flips a boolean and hash-mismatches. */
  private val recallOracleSql: String =
    "SELECT vec_id AS qid, true AS recall_ok, true AS macro_ok " +
      "FROM embeddings WHERE vec_id < 20 ORDER BY qid"

  /** Gate a per-qid recall frame ([[Similarity.recallAtK]]): per-query
    * recall ≥ `perQ` AND corpus-level mean recall ≥ `macro` (repeated per
    * row — same value every row, so the hash pins it). Thresholds sit well
    * under the measured minima at sf0.01 AND sf0.1 (documented per query);
    * everything is seeded, so the measured values are reproducible. */
  private def recallBounds(
      rec: org.apache.spark.sql.DataFrame, perQ: Double, macroMin: Double) = {
    val avgR = rec.agg(avg(col("recall")).as("_avg"))
    rec.crossJoin(broadcast(avgR))
      .select(col("qid"),
        (col("recall") >= perQ).as("recall_ok"),
        (col("_avg") >= macroMin).as("macro_ok"))
      .orderBy(col("qid"))
  }

  /** LSH ANN recall gate — the 100 TB candidate path (hash join on sign-LSH
    * buckets, 16-table OR-amplification), driver-gated on recall@5 vs the
    * in-engine exact top-k. Measured: min per-qid 0.4/0.6, mean 0.85/0.95
    * at sf0.01/sf0.1 → gates at 0.2/0.6. */
  private val annLshRecall = QDef(
    "ann_lsh_recall",
    (s, d) => {
      val e = embeddings(s, d)
      val q = e.filter(col("vec_id") < 20)
      val exact = Similarity.bruteForceTopKCached(e, q, "vec_id", "embedding", k = 5)
      val ann = Similarity.lshTopK(e, q, "vec_id", "embedding", k = 5,
        nPlanes = 4, nTables = 16)
      recallBounds(Similarity.recallAtK(exact, ann, 5), 0.2, 0.6)
    },
    Some(recallOracleSql)
  )

  /** In-query IVF ANN recall gate (mllib KMeans quantizer, seeded;
    * 8 of 16 cells probed). Measured: min per-qid 0.6/0.4, mean 0.93/0.86
    * at sf0.01/sf0.1 → gates at 0.2/0.6. */
  private val annIvfRecall = QDef(
    "ann_ivf_recall",
    (s, d) => {
      val e = embeddings(s, d)
      val q = e.filter(col("vec_id") < 20)
      val exact = Similarity.bruteForceTopKCached(e, q, "vec_id", "embedding", k = 5)
      val ann = graft.functions.Ivf.ivfTopK(e, q, "vec_id", "embedding",
        k = 5, nProbe = 8)
      recallBounds(Similarity.recallAtK(exact, ann, 5), 0.2, 0.6)
    },
    Some(recallOracleSql)
  )

  /** IVF-served contrastive mining at FULL probe
    * ([[graft.functions.Contrastive.hardPairsIvf]]): the scale path's
    * machinery (persisted index, probed-cell candidates, label
    * join-back) driven in its exact regime — nProbe = nCells and a
    * corpus-sized candidate pool make the pool every corpus vector, so
    * the oracle is the brute-force miner ranked by the 6-ROUNDED
    * similarity the index emits. */
  private val contrastivePairsIvfFullQ = QDef(
    "contrastive_pairs_ivf_full",
    (s, d) => {
      val e = embeddings(s, d)
      graft.functions.Contrastive.hardPairsIvf(
        graft.functions.IvfIndex.cachedFor(e, "vec_id", "embedding", nCells = 16),
        e, e.filter(col("vec_id") < 20), "vec_id", "embedding", "label",
        k = 4, nProbe = 16, candidates = 1 << 20)
    },
    Some(contrastiveCte +
      ", r AS (SELECT qid, kind, nid, round(sim, 6) AS sim, row_number() OVER " +
      "(PARTITION BY qid, kind ORDER BY round(sim, 6) DESC, nid) AS rn FROM p) " +
      "SELECT qid, kind, nid, sim FROM r WHERE rn <= 4 " +
      "ORDER BY qid, kind, nid")
  )

  /** Partial-probe recall gate for the IVF-served miner: the mined
    * (qid, nid) pool at nProbe=8 vs the exact miner's 4+4 per anchor.
    * Near-orthogonal random embeddings are the hard quantizer regime
    * (same as the other ANN gates) — gated at 0.15 per-anchor / 0.5
    * mean, under the measured minima at sf0.01. */
  private val contrastivePairsIvfRecall = QDef(
    "contrastive_pairs_ivf_recall",
    (s, d) => {
      val e = embeddings(s, d)
      val anchors = e.filter(col("vec_id") < 20)
      val exact = graft.functions.Contrastive.hardPairs(
        e, anchors, "vec_id", "embedding", "label", k = 4)
      val ivf = graft.functions.Contrastive.hardPairsIvf(
        graft.functions.IvfIndex.cachedFor(e, "vec_id", "embedding", nCells = 16),
        e, anchors, "vec_id", "embedding", "label",
        k = 4, nProbe = 8, candidates = 256)
      recallBounds(Similarity.recallAtK(exact, ivf, 8), 0.15, 0.5)
    },
    Some(recallOracleSql)
  )

  /** PERSISTED-index IVF recall gate: the serve path against the
    * cell-partitioned on-disk layout (partition pruning plan-asserted in
    * IvfIndexSpec). Same quantizer/probe regime as `ann_ivf_recall`,
    * measured identically → gates at 0.2/0.6. */
  private val annIvfIndexedRecall = QDef(
    "ann_ivf_indexed_recall",
    (s, d) => {
      val e = embeddings(s, d)
      val q = e.filter(col("vec_id") < 20)
      val exact = Similarity.bruteForceTopKCached(e, q, "vec_id", "embedding", k = 5)
      val ann = graft.functions.IvfIndex
        .cachedFor(e, "vec_id", "embedding", nCells = 16)
        .topK(q, "vec_id", "embedding", k = 5, nProbe = 8)
      recallBounds(Similarity.recallAtK(exact, ann, 5), 0.2, 0.6)
    },
    Some(recallOracleSql)
  )

  /** Full-probe IVF (nProbe = nCells) through the SAME persisted-index
    * path: every corpus vector lives in exactly one cell and every cell is
    * probed, so the result is EXACTLY brute-force top-k — independent of
    * the engine-trained centroids, hence fully oracle-checkable (same SQL
    * as `sim_topk`). This pins the whole index machinery (assignment,
    * partitioned write/read, pruning filter, re-rank) to the exact answer;
    * `ann_ivf_indexed_recall` then only differs by probing fewer cells. */
  private val annIvfFull = QDef(
    "ann_ivf_full",
    (s, d) => {
      val e = embeddings(s, d)
      graft.functions.IvfIndex.cachedFor(e, "vec_id", "embedding", nCells = 16)
        .topK(e.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 5, nProbe = 16)
    },
    Some(
      ("WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe " +
        "FROM embeddings WHERE vec_id < 20), " +
        "c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings), " +
        s"p AS (SELECT qid, nid, ${cosSql("qe", "ce")} AS sim FROM c, q WHERE qid <> nid), " +
        "r AS (SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid " +
        "ORDER BY sim DESC, nid) AS rn FROM p) " +
        "SELECT qid, nid, round(sim, 6) AS sim FROM r WHERE rn <= 5 " +
        "ORDER BY qid, nid")
    )
  )

  /** Appended-index handles for the health gate: built from the BASE
    * slice, then the shifted batch appended ONCE per JVM (appendBatch
    * mutates the on-disk layout; the durable cache makes the mutation
    * idempotent across re-runs, which serve the same appended index). */
  private val appendedIdx =
    new graft.PlanCache[graft.functions.IvfIndex](capacity = 4, durable = true,
      onEvict = i => graft.TempDirs.delete(i.path))

  /** INDEX-HEALTH gate for the frozen-quantizer ingest path
    * ([[graft.functions.IvfIndex.appendBatch]]): a distribution-SHIFTED
    * batch (reversed embeddings — a shape the quantizer never trained on,
    * under fresh ids) is appended to an index built from the base slice
    * only, and recall@5 for queries FROM the shifted batch is gated
    * against the exact top-k over the combined corpus. This is the
    * rebuild trigger a production ingest loop watches: appendBatch keeps
    * the quantizer frozen by design, so as appended data drifts, shifted-
    * query recall decays — when this gate flips false the index needs
    * retraining. Measured (seeded): min per-qid 1.0/0.8, mean 1.0/0.97 at
    * sf0.01/sf0.1 → gates at 0.2/0.6 (the shifted region concentrates in
    * few cells, which probing 8 of 16 still covers — the gate detects
    * LAYOUT breakage and gross drift, not the gentle tail). */
  private val annIvfAppendedRecall = QDef(
    "ann_ivf_appended_recall",
    (s, d) => {
      val e = embeddings(s, d).select(col("vec_id").cast("long").as("vec_id"),
        col("embedding"))
      val base = e.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val shifted = e.filter(pmod(col("vec_id"), lit(5)) === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          reverse(col("embedding")).as("embedding"))
      val combined = base.unionByName(shifted)
      val q = shifted.filter(col("vec_id") < 100100L)
      val exact = Similarity.bruteForceTopKCached(
        combined, q, "vec_id", "embedding", k = 5)
      val idx = appendedIdx.getOrCompute(
        graft.PlanCache.keyOf2(base, shifted, "ivf16"),
        graft.BuildTimer.timed("ivf_appended_index") {
          val dir = graft.TempDirs.create("graft_ivf_appended")
          val i = graft.functions.IvfIndex
            .build(base, "vec_id", "embedding", nCells = 16, dir)
          i.appendBatch(shifted, "vec_id", "embedding")
          i
        })
      val ann = idx.topK(q, "vec_id", "embedding", k = 5, nProbe = 8)
      recallBounds(Similarity.recallAtK(exact, ann, 5), 0.2, 0.6)
    },
    Some("SELECT CAST(vec_id + 100000 AS BIGINT) AS qid, " +
      "true AS recall_ok, true AS macro_ok FROM embeddings " +
      "WHERE vec_id % 5 = 0 AND vec_id < 100 ORDER BY qid")
  )

  /** Streamed-index handles: base index grown by MICRO-BATCH ingest —
    * the shifted slice split 3 ways, delivered via [[graft.functions
    * .IvfIndex.appendBatchIdempotent]] (the exact kernel
    * [[graft.streaming.StreamOps.ingestIvfStream]] runs per
    * micro-batch) with the middle delivery REPLAYED, so the gate
    * certifies the restart contract — replay appends nothing — along
    * with the layout. StreamOpsSpec pins true-stream ≡ batch equality;
    * this driver key prices and gates the composed result. */
  private val streamedIdx =
    new graft.PlanCache[graft.functions.IvfIndex](capacity = 4, durable = true,
      onEvict = i => graft.TempDirs.delete(i.path))

  /** INDEX-HEALTH gate for the STREAMING ingest path
    * ([[graft.streaming.StreamOps.ingestIvfStream]]): the same
    * shifted-batch regime as `ann_ivf_appended_recall`, but the shifted
    * slice arrives as 3 idempotent micro-batch appends with one replay —
    * the resulting index must serve the same recall the one-shot append
    * serves (and StreamOpsSpec asserts the layouts agree row-for-row).
    * Gates at 0.2/0.6, the family's bounds. */
  private val annIvfStreamedRecall = QDef(
    "ann_ivf_streamed_recall",
    (s, d) => {
      val e = embeddings(s, d).select(col("vec_id").cast("long").as("vec_id"),
        col("embedding"))
      val base = e.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val shifted = e.filter(pmod(col("vec_id"), lit(5)) === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          reverse(col("embedding")).as("embedding"))
      val combined = base.unionByName(shifted)
      val q = shifted.filter(col("vec_id") < 100100L)
      val exact = Similarity.bruteForceTopKCached(
        combined, q, "vec_id", "embedding", k = 5)
      val idx = streamedIdx.getOrCompute(
        graft.PlanCache.keyOf2(base, shifted, "ivf16-streamed"),
        graft.BuildTimer.timed("ivf_streamed_index") {
          val dir = graft.TempDirs.create("graft_ivf_streamed")
          val i = graft.functions.IvfIndex
            .build(base, "vec_id", "embedding", nCells = 16, dir)
          val micro = (0 to 2).map(r =>
            shifted.filter(pmod(col("vec_id"), lit(3)) === r))
          micro.foreach(b => i.appendBatchIdempotent(b, "vec_id", "embedding"))
          val replayed = i.appendBatchIdempotent(micro(1), "vec_id", "embedding")
          require(replayed == 0L,
            s"replayed micro-batch appended $replayed rows — idempotence broken")
          i
        })
      val ann = idx.topK(q, "vec_id", "embedding", k = 5, nProbe = 8)
      recallBounds(Similarity.recallAtK(exact, ann, 5), 0.2, 0.6)
    },
    Some("SELECT CAST(vec_id + 100000 AS BIGINT) AS qid, " +
      "true AS recall_ok, true AS macro_ok FROM embeddings " +
      "WHERE vec_id % 5 = 0 AND vec_id < 100 ORDER BY qid")
  )

  /** Rebuilt-index handles: the appended-drift regime, then a blue-green
    * [[graft.functions.IvfIndex.rebuild]] — retrain on the combined
    * corpus, one atomic manifest swap. Built ONCE per JVM. */
  private val rebuiltIdx =
    new graft.PlanCache[graft.functions.IvfIndex](capacity = 4, durable = true,
      onEvict = i => graft.TempDirs.delete(i.path))

  /** INDEX-HEALTH gate for the quantizer-drift RECOVERY path
    * ([[graft.functions.IvfIndex.rebuild]] — blue-green retrain +
    * atomic manifest swap, the operation `ann_ivf_appended_recall`'s
    * scaladoc tells the ingest loop to run when its gate flips): the
    * same shifted-batch regime, then a rebuild, so the served quantizer
    * HAS trained on the shifted mode. Readers pinned to the old version
    * keep serving until the swap (IvfIndexSpec pins old-or-new-never-mix
    * and the synthetic drifted-recall restoration); this key gates the
    * recovered index's recall at the family's bounds on real data —
    * by construction it serves at least the appended path's recall, so
    * 0.2/0.6 holds with the retrained quantizer's margin on top. */
  private val annIvfRebuiltRecall = QDef(
    "ann_ivf_rebuilt_recall",
    (s, d) => {
      val e = embeddings(s, d).select(col("vec_id").cast("long").as("vec_id"),
        col("embedding"))
      val base = e.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val shifted = e.filter(pmod(col("vec_id"), lit(5)) === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          reverse(col("embedding")).as("embedding"))
      val combined = base.unionByName(shifted)
      val q = shifted.filter(col("vec_id") < 100100L)
      val exact = Similarity.bruteForceTopKCached(
        combined, q, "vec_id", "embedding", k = 5)
      val idx = rebuiltIdx.getOrCompute(
        graft.PlanCache.keyOf2(base, shifted, "ivf16-rebuilt"),
        graft.BuildTimer.timed("ivf_rebuilt_index") {
          val dir = graft.TempDirs.create("graft_ivf_rebuilt")
          val i = graft.functions.IvfIndex
            .build(base, "vec_id", "embedding", nCells = 16, dir)
          i.appendBatch(shifted, "vec_id", "embedding")
          i.rebuild()
          i
        })
      val ann = idx.topK(q, "vec_id", "embedding", k = 5, nProbe = 8)
      recallBounds(Similarity.recallAtK(exact, ann, 5), 0.2, 0.6)
    },
    Some("SELECT CAST(vec_id + 100000 AS BIGINT) AS qid, " +
      "true AS recall_ok, true AS macro_ok FROM embeddings " +
      "WHERE vec_id % 5 = 0 AND vec_id < 100 ORDER BY qid")
  )

  /** Deleted-index handles: built from the FULL corpus on a private dir
    * (the shared `ann_ivf_full` index must not be mutated), then the
    * `vec_id % 7 == 3` slice deleted ONCE per JVM. */
  private val deletedIdx =
    new graft.PlanCache[graft.functions.IvfIndex](capacity = 4, durable = true,
      onEvict = i => graft.TempDirs.delete(i.path))

  /** Retention deletes on the persisted ANN index
    * ([[graft.functions.IvfIndex.delete]] — cell-pruned copy-on-write),
    * pinned to the EXACT answer: full-probe top-k after deleting the
    * `vec_id % 7 == 3` slice must equal brute force over the remaining
    * corpus (same degeneracy argument as `ann_ivf_full`). A deleted
    * vector appearing in any result row — or a surviving one lost by a
    * mis-rewritten cell — breaks the hash. */
  private val annIvfDeletedFull = QDef(
    "ann_ivf_deleted_full",
    (s, d) => {
      val e = embeddings(s, d)
      val idx = deletedIdx.getOrCompute(
        graft.PlanCache.keyOf(e, "ivf-del", 16),
        graft.BuildTimer.timed("ivf_deleted_index") {
          val dir = graft.TempDirs.create("graft_ivf_deleted")
          val i = graft.functions.IvfIndex
            .build(e, "vec_id", "embedding", nCells = 16, dir)
          i.delete(e.filter(pmod(col("vec_id"), lit(7)) === 3)
            .select(col("vec_id")), "vec_id")
          i
        })
      idx.topK(
        e.filter(col("vec_id") < 20 && pmod(col("vec_id"), lit(7)) =!= 3),
        "vec_id", "embedding", k = 5, nProbe = 16)
    },
    Some(
      "WITH rem AS (SELECT vec_id, embedding FROM embeddings " +
        "WHERE vec_id % 7 <> 3), " +
        "q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe " +
        "FROM rem WHERE vec_id < 20), " +
        "c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS ce FROM rem), " +
        s"p AS (SELECT qid, nid, ${cosSql("qe", "ce")} AS sim FROM c, q WHERE qid <> nid), " +
        "r AS (SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid " +
        "ORDER BY sim DESC, nid) AS rn FROM p) " +
        "SELECT qid, nid, round(sim, 6) AS sim FROM r WHERE rn <= 5 " +
        "ORDER BY qid, nid")
  )

  /** IVF-PQ recall gate ([[graft.functions.Pq]] →
    * [[graft.functions.IvfIndex.pqTopK]]): compressed-domain ADC scan over
    * the PERSISTED codes (encoded once at index build; the scan reads
    * (id, codes) and never touches the raw-vector pages — plan-asserted),
    * exact re-rank of a 40·k shortlist, driver-gated on recall@5 vs the
    * exact top-k. Measured: min per-qid 0.6/0.2, mean 0.92/0.78 at
    * sf0.01/sf0.1 → gates at 0.2/0.5 (ADC quantization distortion keeps
    * PQ under the raw-vector IVF paths — expected, documented). */
  private val annPqRecall = QDef(
    "ann_pq_recall",
    (s, d) => {
      val e = embeddings(s, d)
      val q = e.filter(col("vec_id") < 20)
      val exact = Similarity.bruteForceTopKCached(e, q, "vec_id", "embedding", k = 5)
      val ann = graft.functions.Pq.pqTopK(e, q, "vec_id", "embedding",
        kNeighbors = 5, nProbe = 8, rerank = 40)
      recallBounds(Similarity.recallAtK(exact, ann, 5), 0.2, 0.5)
    },
    Some(recallOracleSql)
  )

  /** Full-probe, full-rerank IVF-PQ through the SAME persisted-codes path:
    * nProbe = nCells makes every corpus vector a candidate and
    * rerank·k ≥ corpus keeps the whole ADC ranking in the shortlist, so the
    * exact cosine re-rank degenerates to brute-force top-k — independent of
    * the engine-trained codebooks/centroids, hence fully oracle-checkable
    * (same SQL as `sim_topk`). This pins the ENTIRE PQ machinery — build,
    * native encode, persisted partitioned codes, pruning filter, ADC
    * scoring, shortlist, re-rank join — to the exact answer; `ann_pq_recall` then
    * only differs by probing/shortlisting less. */
  private val annPqFull = QDef(
    "ann_pq_full",
    (s, d) => {
      val e = embeddings(s, d)
      // Degeneracy preconditions made explicit instead of hardcoded:
      // nProbe == nCells probes every cell, rerank·k ≥ |corpus| keeps the
      // whole ADC ranking in the shortlist (the count is a parquet footer
      // read). Either drifting silently would break exactness for a
      // non-obvious reason.
      val nCells = 16
      val k = 5
      val rerank = math.max(1, math.ceil(e.count().toDouble / k).toInt)
      graft.functions.Pq.pqTopK(e, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", kNeighbors = k,
        nCells = nCells, nProbe = nCells, rerank = rerank)
    },
    Some(
      ("WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe " +
        "FROM embeddings WHERE vec_id < 20), " +
        "c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings), " +
        s"p AS (SELECT qid, nid, ${cosSql("qe", "ce")} AS sim FROM c, q WHERE qid <> nid), " +
        "r AS (SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid " +
        "ORDER BY sim DESC, nid) AS rn FROM p) " +
        "SELECT qid, nid, round(sim, 6) AS sim FROM r WHERE rn <= 5 " +
        "ORDER BY qid, nid")
    )
  )

  /** DuckDB brute-force exact 3-gram Jaccard pairs at `t` — the oracle for
    * both the prefix-filtered exact pipeline and the minhash-verified one. */
  private def ngramJaccardSql(t: Double): String =
    "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      "ds AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle " +
      "FROM tok WHERE len(t) >= 3), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id), " +
      "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i " +
      "FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2) " +
      "SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard " +
      "FROM inter JOIN sizes sa ON sa.doc_id = id_a " +
      "JOIN sizes sb ON sb.doc_id = id_b " +
      s"WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= $t " +
      "ORDER BY id_a, id_b"

  /** Exact n-gram (3-token shingle) Jaccard near-dup pairs. */
  private val dedupNgram = QDef(
    "dedup_ngram",
    (s, d) => NearDup.ngramJaccardPairsShared(documents(s, d), threshold = 0.5),
    Some(ngramJaccardSql(0.5))
  )

  /** [[ngramJaccardSql]]'s pair pipeline as an open CTE (`pr`:
    * id_a, id_b, jaccard) — prefix of the provenance-joined oracles. */
  private def ngramPairCteSql(t: Double): String =
    "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      "ds AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle " +
      "FROM tok WHERE len(t) >= 3), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id), " +
      "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i " +
      "FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2), " +
      "pr AS (SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard " +
      "FROM inter JOIN sizes sa ON sa.doc_id = id_a " +
      "JOIN sizes sb ON sb.doc_id = id_b " +
      s"WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= $t) "

  /** Provenance-aware near-dup pairs ([[graft.functions.Dedup
    * .crossSourcePairs]]): only pairs spanning two `source` values — the
    * syndication/mirror detector a licensing pass reviews. */
  private val dedupCrossSource = QDef(
    "dedup_cross_source",
    (s, d) => graft.functions.Dedup.crossSourcePairs(documents(s, d), 0.5),
    Some(ngramPairCteSql(0.5) +
      "SELECT id_a, da.source AS src_a, id_b, db.source AS src_b, jaccard " +
      "FROM pr JOIN documents da ON da.doc_id = id_a " +
      "JOIN documents db ON db.doc_id = id_b " +
      "WHERE da.source <> db.source ORDER BY id_a, id_b")
  )

  /** Threshold-sensitivity sweep ([[graft.functions.Dedup
    * .thresholdSweep]]): pair/doc mass flagged at each candidate Jaccard
    * threshold 0.3–0.9, from ONE pair pass at the loosest candidate —
    * the measurement a threshold is chosen from before a 100 TB dedup
    * run. */
  private val dedupThresholdSweepQ = QDef(
    "dedup_threshold_sweep",
    (s, d) => graft.functions.Dedup.thresholdSweep(
      documents(s, d), minThreshold = 0.3),
    Some(ngramPairCteSql(0.3) +
      ", th AS (SELECT i / 10.0 AS threshold FROM range(3, 10) t(i)), " +
      "fp AS (SELECT threshold, id_a, id_b FROM pr CROSS JOIN th " +
      "WHERE jaccard >= threshold), " +
      "np AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs " +
      "FROM fp GROUP BY 1), " +
      "nd AS (SELECT threshold, CAST(count(DISTINCT dd) AS BIGINT) AS n_docs " +
      "FROM (SELECT threshold, unnest([id_a, id_b]) AS dd FROM fp) GROUP BY 1) " +
      "SELECT threshold, n_pairs, n_docs FROM np JOIN nd USING (threshold) " +
      "ORDER BY threshold")
  )

  /** Syndication rollup ([[graft.functions.Dedup.syndicationReport]]):
    * cross-source near-dup pair counts per unordered source pair. */
  private val syndicationQ = QDef(
    "syndication_report",
    (s, d) => graft.functions.Dedup.syndicationReport(documents(s, d), 0.5),
    Some(ngramPairCteSql(0.5) +
      "SELECT least(da.source, db.source) AS src_lo, " +
      "greatest(da.source, db.source) AS src_hi, " +
      "CAST(count(*) AS BIGINT) AS n_pairs " +
      "FROM pr JOIN documents da ON da.doc_id = id_a " +
      "JOIN documents db ON db.doc_id = id_b " +
      "WHERE da.source <> db.source GROUP BY 1, 2 ORDER BY 1, 2")
  )

  /** One-pass corpus datacard ([[graft.functions.Profile.datacard]]):
    * per (lang, source) — docs, distinct contents, char/token totals,
    * mean length, corpus share. The release-audit composition table. */
  private val datacardQ = QDef(
    "corpus_datacard",
    (s, d) => graft.functions.Profile.datacard(documents(s, d)),
    Some("WITH g AS (SELECT lang, source, count(*) AS n_docs, " +
      "count(DISTINCT md5(lower(trim(text)))) AS n_unique, " +
      "sum(n_chars) AS n_chars, " +
      "sum(len(string_split(text, ' '))) AS n_tokens " +
      "FROM documents GROUP BY 1, 2), " +
      "t AS (SELECT sum(n_docs) AS tot FROM g) " +
      "SELECT lang, source, CAST(n_docs AS BIGINT) AS n_docs, " +
      "CAST(n_unique AS BIGINT) AS n_unique, " +
      "CAST(n_chars AS BIGINT) AS n_chars, " +
      "CAST(n_tokens AS BIGINT) AS n_tokens, " +
      "round(CAST(n_chars AS DOUBLE) / n_docs, 6) AS mean_chars, " +
      "round(CAST(n_docs AS DOUBLE) / tot, 6) AS pct_docs " +
      "FROM g CROSS JOIN t ORDER BY lang, source")
  )

  /** Duplicate-cluster resolution: transitive closure of the near-dup
    * pairs via distributed min-label propagation
    * ([[graft.functions.Clusters.connectedComponents]]) — every document
    * labeled with the minimum doc_id of its duplicate cluster (itself if
    * unique). This is the keep-one-per-cluster step after pair finding.
    * The oracle computes the same closure with a recursive CTE. */
  private val dedupClusters = QDef(
    "dedup_clusters",
    (s, d) => {
      val docs = documents(s, d)
      graft.functions.Clusters.connectedComponentsShared(
        docs.select(col("doc_id")),
        NearDup.ngramJaccardPairsShared(docs, threshold = 0.5),
        nodeCol = "doc_id", srcCol = "id_a", dstCol = "id_b",
        pairsCanonical = true)
        .orderBy(col("doc_id"))
    },
    Some("WITH RECURSIVE " +
      "tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      "ds AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle " +
      "FROM tok WHERE len(t) >= 3), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id), " +
      "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i " +
      "FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2), " +
      "pairs AS (SELECT id_a, id_b FROM inter " +
      "JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
      "WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5), " +
      "e AS (SELECT id_a AS s, id_b AS t FROM pairs " +
      "UNION SELECT id_b AS s, id_a AS t FROM pairs), " +
      "walk AS (SELECT doc_id AS node, doc_id AS lbl FROM documents " +
      "UNION SELECT e.s AS node, w.lbl FROM e JOIN walk w ON w.node = e.t) " +
      "SELECT node AS doc_id, min(lbl) AS cluster_id FROM walk " +
      "GROUP BY node ORDER BY doc_id")
  )

  /** The near-dup pair graph as directed-both-ways edge CTEs — the shared
    * prefix of the [[pageRankQ]] oracle (same pair semantics as the
    * `dedup_clusters` closure oracle). */
  private val dupEdgesSqlPrefix: String =
    "tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      "ds AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle " +
      "FROM tok WHERE len(t) >= 3), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id), " +
      "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i " +
      "FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2), " +
      "pairs AS (SELECT id_a, id_b FROM inter " +
      "JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
      "WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5), " +
      "e AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
      "UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs)"

  /** DuckDB mirror of [[graft.functions.Graph.pageRank]]: the fixed-point
    * integer recurrence unrolled as (contribution-sum sᵢ, rank rᵢ) CTE
    * pairs. Both engines compute `rank div deg` and `(85·Σ) div 100` in
    * pure positive integer arithmetic, so the ranks hash-match exactly —
    * float PageRank would differ by summation order. */
  private def pageRankOracleSql(iters: Int, scale: Long): String = {
    val base = 15L * scale / 100L
    val ctes = Seq.newBuilder[String]
    ctes += dupEdgesSqlPrefix
    ctes += "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src)"
    ctes += "n AS (SELECT DISTINCT src AS node FROM e)"
    ctes += s"r0 AS (SELECT node, CAST($scale AS BIGINT) AS rank FROM n)"
    for (i <- 1 to iters) {
      ctes += s"s$i AS (SELECT e.dst AS node, " +
        "CAST(sum(r.rank // d.deg) AS BIGINT) AS s " +
        s"FROM e JOIN r${i - 1} r ON r.node = e.src " +
        "JOIN deg d ON d.src = e.src GROUP BY e.dst)"
      ctes += s"r$i AS (SELECT n.node, " +
        s"CAST($base + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS rank " +
        s"FROM n LEFT JOIN s$i s ON s.node = n.node)"
    }
    "WITH " + ctes.result().mkString(", ") +
      s" SELECT node AS doc_id, rank AS rank_scaled FROM r$iters ORDER BY doc_id"
  }

  /** DuckDB mirror of [[graft.functions.Graph.pageRankDirected]] over the
    * DIRECTED near-dup pair graph (id_a → id_b, NOT symmetrized — the
    * canonical-direction pair table has genuine sinks: any doc never
    * appearing as id_a has out-degree 0). Adds, per unrolled iteration,
    * the dangling-mass CTE (summed rank of nodes without out-edges) and
    * its even integer split `dm // n` inside the damped term, matching
    * the Spark side's fixed-point arithmetic op for op. */
  private def pageRankDirectedOracleSql(iters: Int, scale: Long): String = {
    val base = 15L * scale / 100L
    val ctes = Seq.newBuilder[String]
    ctes += dupEdgesSqlPrefix
    ctes += "ed AS (SELECT id_a AS src, id_b AS dst FROM pairs)"
    ctes += "degd AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM ed GROUP BY src)"
    ctes += "nd AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed)"
    ctes += "nc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nd)"
    ctes += s"r0 AS (SELECT node, CAST($scale AS BIGINT) AS rank FROM nd)"
    for (i <- 1 to iters) {
      ctes += s"s$i AS (SELECT ed.dst AS node, " +
        "CAST(sum(r.rank // d.deg) AS BIGINT) AS s " +
        s"FROM ed JOIN r${i - 1} r ON r.node = ed.src " +
        "JOIN degd d ON d.src = ed.src GROUP BY ed.dst)"
      ctes += s"dg$i AS (SELECT CAST(COALESCE(sum(r.rank), 0) AS BIGINT) AS dm " +
        s"FROM r${i - 1} r LEFT JOIN degd d ON d.src = r.node " +
        "WHERE d.src IS NULL)"
      ctes += s"r$i AS (SELECT nd.node, " +
        s"CAST($base + (85 * (COALESCE(s.s, 0) + dg.dm // nc.n)) // 100 " +
        "AS BIGINT) AS rank " +
        s"FROM nd CROSS JOIN dg$i dg CROSS JOIN nc " +
        s"LEFT JOIN s$i s ON s.node = nd.node)"
    }
    "WITH " + ctes.result().mkString(", ") +
      s" SELECT node AS doc_id, rank AS rank_scaled FROM r$iters ORDER BY doc_id"
  }

  /** PageRank over the near-dup graph ([[graft.functions.Graph.pageRank]]):
    * which documents sit at the CENTER of duplication clusters — high-rank
    * docs are the canonical representatives boilerplate/mirror detection
    * should keep, the graph-analytics complement of the
    * `dedup_clusters` closure (same pair set, shared intermediate). */
  private val pageRankQ = QDef(
    "graph_pagerank",
    (s, d) => {
      val pairs = NearDup.ngramJaccardPairsShared(documents(s, d), threshold = 0.5)
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      graft.functions.Graph.pageRank(edges, "src", "dst", iterations = 5)
        .select(col("node").as("doc_id"), col("rank").as("rank_scaled"))
        .orderBy(col("doc_id"))
    },
    Some(pageRankOracleSql(iters = 5, scale = 1000000L))
  )

  /** [[graft.functions.Graph.pageRankDirected]] on the near-dup pair
    * table in its CANONICAL direction (id_a → id_b, id_a < id_b — no
    * symmetrization), a genuinely directed graph with sinks: the
    * max-id end of every duplication chain has out-degree 0, so this
    * key exercises the dangling-mass conservation the undirected
    * `graph_pagerank` never hits. Shares the cached pair pipeline. */
  private val pageRankDirectedQ = QDef(
    "graph_pagerank_directed",
    (s, d) => {
      val pairs = NearDup.ngramJaccardPairsShared(documents(s, d), threshold = 0.5)
      graft.functions.Graph.pageRankDirected(
          pairs.select(col("id_a").as("src"), col("id_b").as("dst")),
          "src", "dst", iterations = 5)
        .select(col("node").as("doc_id"), col("rank").as("rank_scaled"))
        .orderBy(col("doc_id"))
    },
    Some(pageRankDirectedOracleSql(iters = 5, scale = 1000000L))
  )

  /** Keep-one-per-cluster dedup: the corpus with every near-dup cluster
    * collapsed to its canonical (minimum-id) document — the end-to-end
    * use of [[graft.functions.Clusters.connectedComponents]]. A doc
    * survives iff it IS its cluster's label. */
  /** Quality-priority collapse ([[graft.functions.Clusters
    * .keepBestPerCluster]]): same near-dup clusters as `dedup_collapse`,
    * but the survivor is the cluster's LONGEST doc (max n_chars, ties to
    * min doc_id) — the keep-best policy production dedup ships. Shares
    * both the pair table and the closure with its siblings via the
    * per-JVM caches. */
  private val dedupKeepBest = QDef(
    "dedup_keep_best",
    (s, d) => {
      val docs = documents(s, d)
      val labels = graft.functions.Clusters.connectedComponentsShared(
        docs.select(col("doc_id")),
        NearDup.ngramJaccardPairsShared(docs, threshold = 0.5),
        nodeCol = "doc_id", srcCol = "id_a", dstCol = "id_b",
        pairsCanonical = true)
      val survivors = graft.functions.Clusters.keepBestPerCluster(
        docs.select(col("doc_id"), col("n_chars")).join(labels, "doc_id"),
        idCol = "doc_id", scoreCol = "n_chars")
      docs.join(survivors, "doc_id")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
    Some("WITH RECURSIVE " +
      "tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      "ds AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle " +
      "FROM tok WHERE len(t) >= 3), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id), " +
      "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i " +
      "FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2), " +
      "pairs AS (SELECT id_a, id_b FROM inter " +
      "JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
      "WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5), " +
      "e AS (SELECT id_a AS s, id_b AS t FROM pairs " +
      "UNION SELECT id_b AS s, id_a AS t FROM pairs), " +
      "walk AS (SELECT doc_id AS node, doc_id AS lbl FROM documents " +
      "UNION SELECT e.s AS node, w.lbl FROM e JOIN walk w ON w.node = e.t), " +
      "cl AS (SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY node), " +
      "j AS (SELECT d.doc_id, d.n_chars, cl.cluster_id FROM documents d " +
      "JOIN cl ON d.doc_id = cl.node), " +
      "surv AS (SELECT doc_id FROM (SELECT doc_id, row_number() OVER " +
      "(PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn FROM j) " +
      "WHERE rn = 1) " +
      "SELECT d.doc_id, lang, source, n_chars FROM documents d " +
      "JOIN surv USING (doc_id) ORDER BY doc_id")
  )

  private val dedupCollapse = QDef(
    "dedup_collapse",
    (s, d) => {
      val docs = documents(s, d)
      val labels = graft.functions.Clusters.connectedComponentsShared(
        docs.select(col("doc_id")),
        NearDup.ngramJaccardPairsShared(docs, threshold = 0.5),
        nodeCol = "doc_id", srcCol = "id_a", dstCol = "id_b",
        pairsCanonical = true)
      docs.join(
          labels.filter(col("doc_id") === col("cluster_id")).select("doc_id"),
          "doc_id")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
    Some("WITH RECURSIVE " +
      "tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      "ds AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle " +
      "FROM tok WHERE len(t) >= 3), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id), " +
      "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i " +
      "FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2), " +
      "pairs AS (SELECT id_a, id_b FROM inter " +
      "JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
      "WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5), " +
      "e AS (SELECT id_a AS s, id_b AS t FROM pairs " +
      "UNION SELECT id_b AS s, id_a AS t FROM pairs), " +
      "walk AS (SELECT doc_id AS node, doc_id AS lbl FROM documents " +
      "UNION SELECT e.s AS node, w.lbl FROM e JOIN walk w ON w.node = e.t), " +
      "cl AS (SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY node) " +
      "SELECT d.doc_id, lang, source, n_chars FROM documents d " +
      "JOIN cl ON d.doc_id = cl.node WHERE cl.node = cl.cluster_id " +
      "ORDER BY d.doc_id")
  )

  /** Per-JVM durable cache of [[graft.functions.PairStore]] directories,
    * keyed by the input-corpus plan + finder parameters: the store is an
    * offline build-once-serve-many artifact (the near-dup analog of the
    * IVF index / signature store), so the parquet build runs once per
    * corpus and every `_store` query serves from disk. Durable = survives
    * the bench's between-query cache clears, exactly like
    * [[sigStoreDirs]]. */
  private val pairStoreDirs =
    new graft.PlanCache[String](capacity = 8, durable = true,
      onEvict = graft.TempDirs.delete)

  /** Build-or-reuse the document near-dup pair/cluster store (3-gram
    * Jaccard ≥ 0.5 verified pairs + CC labels over doc_id). */
  private def docPairStore(
      s: org.apache.spark.sql.SparkSession, d: String): String = {
    val docs = documents(s, d)
    pairStoreDirs.getOrCompute(
      graft.PlanCache.keyOf(docs, "ngram-jaccard", 0.5, 3),
      graft.BuildTimer.timed("pair_store_docs") {
        val tmp = graft.TempDirs.create("graft_pairstore")
        graft.functions.PairStore.build(
          docs.select(col("doc_id")),
          NearDup.ngramJaccardPairs(docs, threshold = 0.5),
          tmp, "doc_id", "id_a", "id_b")
        tmp
      })
  }

  /** Build-or-reuse the customer-name entity store (≤1-edit verified
    * fuzzy pairs + pointer-jumping CC labels over the name vocab). */
  private def nameEntityStore(
      s: org.apache.spark.sql.SparkSession, d: String): String = {
    val cust = customer(s, d)
    pairStoreDirs.getOrCompute(
      graft.PlanCache.keyOf(cust, "fuzzy-c_name", 1),
      graft.BuildTimer.timed("pair_store_entity") {
        val tmp = graft.TempDirs.create("graft_pairstore")
        graft.functions.PairStore.build(
          cust.select(col("c_name").cast("string").as("term"))
            .filter(col("term").isNotNull).distinct(),
          graft.functions.Fuzzy.fuzzyPairs(cust, "c_name", maxDist = 1),
          tmp, "term", "term_a", "term_b", shortcut = true)
        tmp
      })
  }

  /** Store-served near-dup pair table: identical rows to `dedup_ngram`
    * (same oracle pins the round-trip), served from the persisted
    * artifact instead of re-shingling the corpus. */
  private val dedupPairsStore = QDef(
    "dedup_pairs_store",
    (s, d) => graft.functions.PairStore.pairs(s, docPairStore(s, d))
      .orderBy(col("id_a"), col("id_b")),
    Some(ngramJaccardSql(0.5))
  )

  /** Store-served duplicate-cluster labels: identical rows to
    * `dedup_clusters` (same recursive-CTE oracle), read from the
    * persisted label parquet — the closure is computed once at build. */
  private val dedupClustersStore = QDef(
    "dedup_clusters_store",
    (s, d) => graft.functions.PairStore.labels(s, docPairStore(s, d))
      .orderBy(col("doc_id")),
    dedupClusters.oracle
  )

  /** Store-served min-id collapse: `dedup_collapse` semantics with the
    * labels read from the persisted store. */
  private val dedupCollapseStore = QDef(
    "dedup_collapse_store",
    (s, d) => {
      val labels = graft.functions.PairStore.labels(s, docPairStore(s, d))
      documents(s, d).join(
          labels.filter(col("doc_id") === col("cluster_id")).select("doc_id"),
          "doc_id")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
    dedupCollapse.oracle
  )

  /** Store-served keep-best survivor selection: `dedup_keep_best`
    * semantics with the cluster labels read from the persisted store —
    * only the one `max_by` aggregate runs per query. */
  private val dedupKeepBestStore = QDef(
    "dedup_keep_best_store",
    (s, d) => {
      val docs = documents(s, d)
      val labels = graft.functions.PairStore.labels(s, docPairStore(s, d))
      val survivors = graft.functions.Clusters.keepBestPerCluster(
        docs.select(col("doc_id"), col("n_chars")).join(labels, "doc_id"),
        idCol = "doc_id", scoreCol = "n_chars")
      docs.join(survivors, "doc_id")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
    dedupKeepBest.oracle
  )

  /** Store-served entity resolution: `entity_resolve` semantics with the
    * typo-chain closure read from the persisted store (built with
    * pointer jumping, like the live operator). */
  private val entityResolveStore = QDef(
    "entity_resolve_store",
    (s, d) => graft.functions.PairStore.labels(s, nameEntityStore(s, d))
      .select(col("term"), col("cluster_id").as("entity_id"))
      .orderBy(col("term")),
    entityResolveQ.oracle
  )

  /** Incrementally-grown cluster labels ([[graft.functions.PairStore
    * .append]]): the store is built from the already-ingested slice
    * (doc_id < 250) only, then the new batch's pairs (batch-internal +
    * batch-vs-corpus) fold in via quotient-graph connected components —
    * O(batch pairs), never a full-closure rebuild. The oracle is the
    * SAME full-corpus recursive-CTE closure as `dedup_clusters`, so
    * hash equality proves the incremental path is row-identical to
    * recomputing from scratch. */
  /** Build-or-reuse the incremental-ingest store: built from the
    * already-ingested slice (doc_id < `split`) committing manifest v0,
    * then ONE append folds the rest of the corpus in (v1). v0's
    * manifest therefore pins the pre-append closure — the
    * `dedup_snapshot_pinned` observable. */
  private def incrStore(
      s: org.apache.spark.sql.SparkSession, d: String,
      tag: String, split: Int, maxId: Int,
      vacuumAfter: Boolean = false): String = {
    val docs = documents(s, d)
    pairStoreDirs.getOrCompute(
      graft.PlanCache.keyOf(docs, tag, split, maxId, 0.5, 3),
      graft.BuildTimer.timed(s"pair_store_$tag") {
        val tmp = graft.TempDirs.create("graft_pairstore")
        val slice = docs.filter(col("doc_id") < maxId)
        val ingested = slice.filter(col("doc_id") < split)
        val batch = slice.filter(col("doc_id") >= split)
        graft.functions.PairStore.build(
          ingested.select(col("doc_id")),
          NearDup.ngramJaccardPairs(ingested, threshold = 0.5),
          tmp, "doc_id", "id_a", "id_b")
        graft.functions.PairStore.append(
          batch.select(col("doc_id")),
          NearDup.ngramJaccardAcross(batch, ingested, threshold = 0.5)
            .unionByName(NearDup.ngramJaccardPairs(batch, threshold = 0.5)),
          tmp, "doc_id", "id_a", "id_b")
        if (vacuumAfter) graft.functions.PairStore.vacuum(s, tmp, keepLast = 1)
        tmp
      })
  }

  private val dedupClustersIncr = QDef(
    "dedup_clusters_incr",
    (s, d) => graft.functions.PairStore
      .labels(s, incrStore(s, d, "incr", 250, Int.MaxValue))
      .orderBy(col("doc_id")),
    dedupClusters.oracle
  )

  /** The `dedup_clusters` recursive-CTE closure restricted to
    * `doc_id < maxId` — the oracle for snapshot/vacuum store views that
    * cover a corpus slice. */
  private def closureSqlUnder(maxId: Int): String =
    closureSqlWhere(s"doc_id < $maxId")

  /** [[closureSqlUnder]] generalized to an arbitrary doc predicate —
    * the delete oracle carves a hole out of the slice. */
  private def closureSqlWhere(pred: String): String =
    "WITH RECURSIVE " +
      s"d0 AS (SELECT doc_id, text FROM documents WHERE $pred), " +
      "tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM d0), " +
      "ds AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle " +
      "FROM tok WHERE len(t) >= 3), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id), " +
      "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i " +
      "FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2), " +
      "pairs AS (SELECT id_a, id_b FROM inter " +
      "JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
      "WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5), " +
      "e AS (SELECT id_a AS s, id_b AS t FROM pairs " +
      "UNION SELECT id_b AS s, id_a AS t FROM pairs), " +
      "walk AS (SELECT doc_id AS node, doc_id AS lbl FROM d0 " +
      "UNION SELECT e.s AS node, w.lbl FROM e JOIN walk w ON w.node = e.t) " +
      "SELECT node AS doc_id, min(lbl) AS cluster_id FROM walk " +
      "GROUP BY node ORDER BY doc_id"

  /** Snapshot isolation under the oracle: pin manifest v0 of the
    * incremental store (the pre-append build over doc_id < 250) AFTER
    * the append already folded the full corpus in — the pinned view
    * must still hash-equal the closure over the ingested slice alone.
    * This is the concurrent-reader contract a production ingest loop
    * relies on: a report job that pinned a version keeps reading
    * consistent data while appends land. */
  private val dedupSnapshotPinned = QDef(
    "dedup_snapshot_pinned",
    (s, d) => graft.functions.PairStore
      .snapshot(s, incrStore(s, d, "incr", 250, Int.MaxValue), at = Some(0L))
      .labels.orderBy(col("doc_id")),
    Some(closureSqlUnder(250))
  )

  /** Vacuum safety under the oracle: a SEPARATE small store (its own
    * slice — vacuum retires v0, which `dedup_snapshot_pinned` needs on
    * the shared store) is built, appended, then vacuumed to the newest
    * version only; the surviving view must still hash-equal the full
    * closure over its slice — vacuum may only reap what no retained
    * manifest references. */
  private val dedupStoreVacuum = QDef(
    "dedup_store_vacuum",
    (s, d) => graft.functions.PairStore
      .labels(s, incrStore(s, d, "vac", 60, 120, vacuumAfter = true))
      .orderBy(col("doc_id")),
    Some(closureSqlUnder(120))
  )

  /** Retention deletes under the oracle ([[graft.functions.PairStore.delete]]):
    * build over `doc_id < 120`, then DELETE the `[40, 80)` slice — the
    * surviving labels must hash-equal the closure computed from scratch
    * over the remaining docs. That checks all three delete obligations
    * at once: pairs touching deleted ids are gone (file-pruned
    * copy-on-write), clusters bridged by a deleted doc split, and
    * surviving clusters re-canonicalize to their minimum REMAINING
    * member. The right-to-be-forgotten path a 100 TB corpus store needs. */
  private val dedupStoreDelete = QDef(
    "dedup_store_delete",
    (s, d) => {
      val docs = documents(s, d)
      val dir = pairStoreDirs.getOrCompute(
        graft.PlanCache.keyOf(docs, "del", 120, 40, 80, 0.5, 3),
        graft.BuildTimer.timed("pair_store_del") {
          val tmp = graft.TempDirs.create("graft_pairstore")
          val slice = docs.filter(col("doc_id") < 120)
          graft.functions.PairStore.build(
            slice.select(col("doc_id")),
            NearDup.ngramJaccardPairs(slice, threshold = 0.5),
            tmp, "doc_id", "id_a", "id_b")
          graft.functions.PairStore.delete(
            slice.filter(col("doc_id") >= 40 && col("doc_id") < 80)
              .select(col("doc_id")),
            tmp, "doc_id", "id_a", "id_b")
          tmp
        })
      graft.functions.PairStore.labels(s, dir).orderBy(col("doc_id"))
    },
    Some(closureSqlWhere(
      "doc_id < 120 AND NOT (doc_id >= 40 AND doc_id < 80)"))
  )

  /** Store health summary — the ingest dashboard's one-row read over the
    * persisted artifacts: corpus size, stored pair count, cluster count,
    * docs living in non-singleton clusters, and the largest cluster (the
    * mirror/boilerplate alarm). Pure aggregates over the store parquet
    * (labels column-pruned to cluster_id); the oracle recomputes the
    * closure from text and must agree on every count. */
  private val dedupStoreStats = QDef(
    "dedup_store_stats",
    (s, d) => {
      val dir = docPairStore(s, d)
      val labels = graft.functions.PairStore.labels(s, dir)
      val pairsDf = graft.functions.PairStore.pairs(s, dir)
      val cs = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
      val nDocs = labels.agg(count(lit(1)).as("n_docs"))
      val nPairs = pairsDf.agg(count(lit(1)).as("n_pairs"))
      val cAgg = cs.agg(
        count(lit(1)).as("n_clusters"),
        coalesce(sum(when(col("n") > 1L, col("n"))), lit(0L)).as("n_dup_docs"),
        max(col("n")).as("max_cluster_size"))
      nDocs.crossJoin(nPairs).crossJoin(cAgg)
    },
    Some("WITH RECURSIVE " +
      "tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      "ds AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle " +
      "FROM tok WHERE len(t) >= 3), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id), " +
      "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i " +
      "FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2), " +
      "pairs AS (SELECT id_a, id_b FROM inter " +
      "JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
      "WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5), " +
      "e AS (SELECT id_a AS s, id_b AS t FROM pairs " +
      "UNION SELECT id_b AS s, id_a AS t FROM pairs), " +
      "walk AS (SELECT doc_id AS node, doc_id AS lbl FROM documents " +
      "UNION SELECT e.s AS node, w.lbl FROM e JOIN walk w ON w.node = e.t), " +
      "cl AS (SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY node), " +
      "cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n FROM cl GROUP BY 1) " +
      "SELECT CAST((SELECT count(*) FROM cl) AS BIGINT) AS n_docs, " +
      "CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_pairs, " +
      "CAST((SELECT count(*) FROM cs) AS BIGINT) AS n_clusters, " +
      "CAST((SELECT coalesce(sum(n), 0) FROM cs WHERE n > 1) AS BIGINT) AS n_dup_docs, " +
      "CAST((SELECT max(n) FROM cs) AS BIGINT) AS max_cluster_size")
  )

  /** Mixture-weighted corpus sample ([[graft.functions.Sampling
    * .mixtureSample]]): keep ~75% of English, ~50% of Chinese, ~25% of
    * everything else, deterministically by row-key hash. */
  private val mixtureQ = QDef(
    "mixture_sample",
    (s, d) => graft.functions.Sampling.mixtureSample(
        documents(s, d).select(col("doc_id"), col("lang")),
        stratum = col("lang"), key = col("doc_id").cast("string"),
        rates = Map("en" -> 0.75, "zh" -> 0.5), defaultRate = 0.25)
      .orderBy(col("doc_id")),
    Some("SELECT doc_id, lang FROM documents " +
      "WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < " +
      "(CASE lang WHEN 'en' THEN 'c0' WHEN 'zh' THEN '80' ELSE '40' END) " +
      "ORDER BY doc_id")
  )

  /** Explicit-recipe corpus mix ([[graft.functions.Sampling
    * .targetMixture]]): 50/30/20 across three sources, all other sources
    * dropped. With uniform source counts the binding stratum is the
    * largest target (src0 keeps everything); the oracle recomputes
    * `rate = p·min(n/p)/n` with the same fixed-order IEEE arithmetic. */
  private val targetMixQ = QDef(
    "target_mix",
    (s, d) => graft.functions.Sampling.targetMixture(
        documents(s, d).select(col("doc_id"), col("source")),
        stratum = col("source"), key = col("doc_id").cast("string"),
        targets = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
      .orderBy(col("doc_id")),
    Some(
      """WITH c AS (SELECT source AS s, CAST(count(*) AS DOUBLE) AS n
        | FROM documents GROUP BY 1),
        |t(s, p) AS (SELECT 'src0', CAST(0.5 AS DOUBLE)
        | UNION ALL SELECT 'src1', CAST(0.3 AS DOUBLE)
        | UNION ALL SELECT 'src2', CAST(0.2 AS DOUBLE)),
        |j AS (SELECT c.s, c.n, t.p, c.n / t.p AS quot FROM c JOIN t USING (s)),
        |tm AS (SELECT min(quot) AS tt FROM j),
        |r AS (SELECT j.s, (j.p * tm.tt) / j.n AS rate FROM j, tm)
        |SELECT d.doc_id, d.source FROM documents d JOIN r ON d.source = r.s
        |WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) <
        | CASE WHEN rate >= 1.0 THEN 'zzzzz'
        |  ELSE printf('%04x', CAST(floor(rate * 65536) AS INT)) END
        |ORDER BY doc_id""".stripMargin.replace('\n', ' '))
  )

  /** Per-label embedding centroid via the custom
    * [[graft.plans.VectorSumFixed]] aggregate: element-wise sums of
    * pre-scaled integer vectors (exact, reduction-order-invariant) plus
    * the count — the caller divides for the mean. The shuffle carries ONE
    * dim-length array per (partition, group) regardless of row count;
    * the relational posexplode alternative would inflate the shuffle by
    * the vector dimension. The oracle recomputes the sums positionally
    * via unnest WITH ORDINALITY. */
  private val embedCentroid = QDef(
    "embed_centroid",
    (s, d) => embeddings(s, d)
      .select(col("label"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000.0D) AS BIGINT))")
        .as("sv"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        graft.plans.VectorSumFixed.vectorSum(col("sv"), 64).as("_centroid"))
      // flattened for the driver compare (array cells don't hash): one
      // row per (label, position) — the aggregate itself stays array-shaped
      .select(col("label"), col("n_vecs"),
        posexplode(col("_centroid")).as(Seq("pos", "centroid_num")))
      .orderBy(col("label"), col("pos")),
    Some("WITH u AS (SELECT label, i AS ord, " +
      "CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000000.0) AS BIGINT) AS sx " +
      "FROM embeddings, unnest(range(1, 65)) AS t(i)), " +
      "s AS (SELECT label, ord, CAST(sum(sx) AS BIGINT) AS sx FROM u GROUP BY 1, 2), " +
      "n AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs " +
      "FROM embeddings GROUP BY 1) " +
      "SELECT s.label, n_vecs, CAST(ord - 1 AS INTEGER) AS pos, " +
      "sx AS centroid_num FROM s JOIN n ON s.label = n.label " +
      "ORDER BY s.label, pos")
  )

  /** Per-label embedding outliers ([[graft.functions.Clustering
    * .centroidOutliers]]): the 3 vectors farthest from their label's
    * centroid, ranked by the EXACT n-scaled integer distance
    * `Σ(x·n − sx)²` — no float accumulation anywhere in the ranking. */
  private val embedOutliersQ = QDef(
    "embed_outliers",
    (s, d) => graft.functions.Clustering.centroidOutliers(
      embeddings(s, d), "vec_id", "embedding", "label", dim = 64, topK = 3)
      .orderBy(col("label"), col("rank")),
    Some("WITH u AS (SELECT vec_id, label, i AS ord, " +
      "CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000000.0) AS BIGINT) AS xs " +
      "FROM embeddings, unnest(range(1, 65)) AS t(i)), " +
      "sx AS (SELECT label, ord, CAST(sum(xs) AS BIGINT) AS sx FROM u GROUP BY 1, 2), " +
      "nn AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM embeddings GROUP BY 1), " +
      "dd AS (SELECT u.vec_id, u.label, " +
      "sum(CAST(u.xs * nn.n - sx.sx AS HUGEINT) * (u.xs * nn.n - sx.sx)) AS d " +
      "FROM u JOIN sx ON sx.label = u.label AND sx.ord = u.ord " +
      "JOIN nn ON nn.label = u.label GROUP BY 1, 2), " +
      "r AS (SELECT label, vec_id, " +
      "row_number() OVER (PARTITION BY label ORDER BY d DESC, vec_id) AS rank, d " +
      "FROM dd) " +
      "SELECT label, vec_id, CAST(rank AS INT) AS rank, " +
      "CAST(d AS DOUBLE) AS dist_scaled " +
      "FROM r WHERE rank <= 3 ORDER BY label, rank")
  )

  /** DuckDB mirror of [[graft.functions.Clustering.kmeansAssign]]:
    * iterations unrolled as CTE pairs (assign aᵢ, centroid update cᵢ).
    * Every arithmetic step is the same fixed-order computation the engine
    * runs — `list_reduce` left folds for distances, exact integer sums
    * for means, `sx/n/scale` in the same divide order — so ASSIGNMENTS
    * hash-match, not just "cluster similarly". */
  private def kmeansOracleSql(k: Int, iters: Int, dim: Int): String = {
    val d1 = dim + 1
    val distFrom = (c: String) =>
      s"list_reduce(list_transform(range(1, $d1), " +
        s"t -> (v.e[t]-$c.c[t])*(v.e[t]-$c.c[t])), (x,y) -> x+y)"
    val sb = new StringBuilder
    sb ++= "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, " +
      "list_transform(CAST(embedding AS DOUBLE[]), " +
      "x -> CAST(floor(x * 10000000.0) AS BIGINT)) AS sv FROM embeddings), "
    sb ++= s"c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, e AS c " +
      s"FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT $k)), "
    for (i <- 1 to iters) {
      val p = s"c${i - 1}"
      sb ++= s"d$i AS (SELECT v.vec_id, $p.j, ${distFrom(p)} AS dist " +
        s"FROM v CROSS JOIN $p), "
      sb ++= s"a$i AS (SELECT vec_id, j FROM (SELECT vec_id, j, " +
        s"row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn " +
        s"FROM d$i) WHERE rn = 1), "
      sb ++= s"s$i AS (SELECT a.j, t.p AS pos, sum(v.sv[t.p]) AS sx, " +
        s"count(*) AS n FROM a$i a JOIN v USING (vec_id), " +
        s"unnest(range(1, $d1)) AS t(p) GROUP BY 1, 2), "
      sb ++= s"c$i AS (SELECT cp.j, COALESCE(sn.c, cp.c) AS c FROM $p cp " +
        s"LEFT JOIN (SELECT j, list(CAST(sx AS DOUBLE)/CAST(n AS DOUBLE)" +
        s"/10000000.0 ORDER BY pos) AS c FROM s$i GROUP BY j) sn " +
        s"ON sn.j = cp.j), "
    }
    val cf = s"c$iters"
    sb ++= s"df AS (SELECT v.vec_id, $cf.j, ${distFrom(cf)} AS dist " +
      s"FROM v CROSS JOIN $cf) "
    sb ++= "SELECT vec_id, CAST(j AS INTEGER) AS cluster, " +
      "round(dist, 6) AS dist FROM (SELECT vec_id, j, dist, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn " +
      "FROM df) WHERE rn = 1 ORDER BY vec_id"
    sb.toString
  }

  /** Distributed deterministic Lloyd's k-means
    * ([[graft.functions.Clustering.kmeansAssign]]): 8 clusters, 3
    * iterations over the 64-dim embeddings — id-seeded init, sequential-
    * fold distances, exact fixed-point mean updates. The one embedding
    * operator that TRAINS on the full corpus rather than a sample, as a
    * registered oracle query. */
  private val embedKmeans = QDef(
    "embed_kmeans",
    (s, d) => graft.functions.Clustering.kmeansAssign(
      embeddings(s, d), "vec_id", "embedding", k = 8, iters = 3),
    Some(kmeansOracleSql(k = 8, iters = 3, dim = 64))
  )

  /** DuckDB mirror of [[graft.functions.BpeTrain.learnedMerges]]: merge
    * iterations unrolled as CTE triples (pair counts pᵢ, argmax mᵢ, merge
    * application sᵢ). Symbols ride as `chr(1) s chr(2)`-wrapped strings on
    * BOTH sides, so one non-overlapping `replace` per iteration is the
    * same merge-all-occurrences pass — the learned MERGES hash-match,
    * counts included, not just "similar vocabularies". */
  private def bpeTrainOracleSql(k: Int): String = {
    val ctes = Seq.newBuilder[String]
    ctes += "w AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS word FROM documents) " +
      "WHERE word <> '' GROUP BY word)"
    ctes += "s0 AS (SELECT array_to_string(list_transform(" +
      "range(1, length(word) + 1), i -> chr(1) || word[i:i] || chr(2)), '')" +
      " || chr(1) || '</w>' || chr(2) AS sym, cnt FROM w)"
    for (i <- 1 to k) {
      val p = s"s${i - 1}"
      ctes += s"y$i AS (SELECT list_transform(list_filter(" +
        "string_split(sym, chr(2)), x -> x <> ''), x -> x[2:]) AS syms, " +
        s"cnt FROM $p)"
      ctes += s"p$i AS (SELECT pr['a'] AS a, pr['b'] AS b, " +
        "CAST(sum(cnt) AS BIGINT) AS c FROM (SELECT unnest(list_transform(" +
        "range(1, len(syms)), j -> {'a': syms[j], 'b': syms[j + 1]})) AS pr, " +
        s"cnt FROM y$i) GROUP BY 1, 2)"
      ctes += s"m$i AS (SELECT a, b, c FROM p$i ORDER BY c DESC, a, b LIMIT 1)"
      ctes += s"s$i AS (SELECT replace(sym, " +
        "chr(1) || m.a || chr(2) || chr(1) || m.b || chr(2), " +
        s"chr(1) || m.a || m.b || chr(2)) AS sym, cnt FROM $p, m$i AS m)"
    }
    val union = (1 to k).map(i =>
      s"SELECT $i AS merge_rank, a AS lhs, b AS rhs, c AS pair_count FROM m$i")
      .mkString(" UNION ALL ")
    "WITH " + ctes.result().mkString(", ") +
      s" SELECT * FROM ($union) ORDER BY merge_rank"
  }

  /** Distributed BPE tokenizer training
    * ([[graft.functions.BpeTrain.learnedMerges]]): 8 merges learned from
    * the documents corpus with the vocabulary-unbounded pair-count loop —
    * the training half of the [[graft.plans.Bpe]] encode kernel as a
    * registered oracle query. */
  private val bpeTrain = QDef(
    "bpe_train",
    (s, d) => graft.functions.BpeTrain.learnedMerges(
      documents(s, d), col("text"), nMerges = 8),
    Some(bpeTrainOracleSql(k = 8))
  )

  /** Emit the Viterbi DP of [[graft.plans.Unigram.viterbi]] as unrolled
    * DuckDB CTEs: per position k ≤ `dpLen`, candidates extend the best
    * states at positions k−maxPieceLen..k−1 with the piece
    * `substr(word, pos+1, k−pos)`, and a window keeps the winner per
    * (word, position) under EXACTLY the kernel's ordering — product
    * desc (same IEEE multiplies in the same left-to-right order), then
    * fewer pieces, then the chr(1)-joined piece sequence ascending.
    * `${tag}a$dpLen` accumulates every (word, pos) best state; the best
    * full segmentation of a word is its row at `pos = len(word)`
    * (positions beyond `dpLen` never resolve — the corpus max word
    * length is 8, asserted by the spec fixture). */
  private def unigramViterbiCtes(
      tag: String, wordsCte: String, piecesCte: String,
      dpLen: Int, maxPieceLen: Int): Seq[String] = {
    val ctes = Seq.newBuilder[String]
    // MATERIALIZED: the cumulative a_k chain is referenced twice per
    // step — default CTE inlining would expand the base relation 2^dpLen
    // times (DuckDB then dies on file handles before it dies on time).
    ctes += s"${tag}a0 AS MATERIALIZED (SELECT word, 0 AS pos, " +
      "CAST(1.0 AS DOUBLE) AS prod, 0 AS np, '' AS seg " +
      s"FROM $wordsCte)"
    for (k <- 1 to dpLen) {
      ctes += s"${tag}d$k AS (SELECT word, $k AS pos, prod, np, seg FROM (" +
        "SELECT word, prod, np, seg, row_number() OVER (" +
        "PARTITION BY word ORDER BY prod DESC, np ASC, seg ASC) AS rn " +
        "FROM (SELECT d.word, d.prod * p.prob AS prod, d.np + 1 AS np, " +
        "CASE WHEN d.seg = '' THEN p.piece " +
        "ELSE d.seg || chr(1) || p.piece END AS seg " +
        s"FROM ${tag}a${k - 1} d JOIN $piecesCte p " +
        s"ON d.pos >= $k - $maxPieceLen AND d.pos < $k " +
        s"AND len(d.word) >= $k " +
        s"AND p.piece = substr(d.word, d.pos + 1, $k - d.pos))) WHERE rn = 1)"
      ctes += s"${tag}a$k AS MATERIALIZED (SELECT * FROM ${tag}a${k - 1} " +
        s"UNION ALL SELECT * FROM ${tag}d$k)"
    }
    ctes.result()
  }

  /** DuckDB mirror of [[graft.functions.UnigramTrain.learnedPieces]]:
    * capped word head → substring seed (alphabet-closed, multi head
    * capped) → `emIters` hard-EM rounds, each a full unrolled Viterbi
    * ([[unigramViterbiCtes]]) against the previous round's round-6
    * probabilities followed by the weighted segmentation-occurrence
    * count — the learned PIECE TABLE hash-matches, counts and
    * probabilities included. */
  private def unigramTrainOracleSql(
      vocabSize: Int, maxPieceLen: Int, emIters: Int, maxWords: Int,
      seedMultis: Int, dpLen: Int): String = {
    val ctes = Seq.newBuilder[String]
    ctes += "wt AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS word FROM documents) " +
      "WHERE word <> '' GROUP BY word)"
    ctes += "head AS MATERIALIZED (SELECT word, freq FROM wt " +
      s"ORDER BY freq DESC, word LIMIT $maxWords)"
    ctes += "posn AS (SELECT word, freq, " +
      "unnest(generate_series(1, len(word))) AS i FROM head)"
    ctes += "candsub AS (SELECT word, freq, i, " +
      s"unnest(generate_series(1, $maxPieceLen)) AS l FROM posn)"
    ctes += "sub AS (SELECT substr(word, i, l) AS piece, " +
      "CAST(sum(freq) AS BIGINT) AS c FROM candsub " +
      "WHERE i + l <= len(word) + 1 GROUP BY 1)"
    ctes += "vchars AS (SELECT piece, c FROM sub WHERE len(piece) = 1)"
    ctes += "vmult AS (SELECT piece, c FROM sub WHERE len(piece) > 1 " +
      s"ORDER BY c DESC, piece LIMIT $seedMultis)"
    ctes += "v0 AS (SELECT * FROM vchars UNION ALL SELECT * FROM vmult)"
    ctes += "p0 AS MATERIALIZED (SELECT piece, " +
      "round(c / (SELECT sum(c) FROM v0), 6) AS prob FROM v0)"
    for (t <- 1 to emIters) {
      ctes ++= unigramViterbiCtes(s"e$t", "head", s"p${t - 1}",
        dpLen, maxPieceLen)
      ctes += s"seg$t AS (SELECT word, seg FROM e${t}a$dpLen " +
        "WHERE pos = len(word))"
      ctes += s"c$t AS MATERIALIZED (SELECT piece, " +
        "CAST(sum(freq) AS BIGINT) AS c " +
        "FROM (SELECT h.freq, unnest(string_split(s.seg, chr(1))) AS piece " +
        s"FROM seg$t s JOIN head h USING (word)) GROUP BY piece)"
      ctes += s"p$t AS MATERIALIZED (SELECT piece, " +
        s"round(c / (SELECT sum(c) FROM c$t), 6) AS prob FROM c$t)"
    }
    ctes += s"kept AS (SELECT piece, c FROM c$emIters " +
      s"ORDER BY c DESC, piece LIMIT $vocabSize)"
    "WITH " + ctes.result().mkString(", ") +
      " SELECT piece, c AS n_count, " +
      s"round(c / (SELECT sum(c) FROM c$emIters), 6) AS prob " +
      "FROM kept ORDER BY piece"
  }

  /** SQL literal rows of the frozen unigram piece fixture. */
  private def unigramFixtureValues: String =
    graft.functions.Text.fixturePieces.map { case (p, pr) =>
      s"('${p.replace("'", "''")}', CAST($pr AS DOUBLE))"
    }.mkString(", ")

  /** DuckDB mirror of [[graft.functions.Text.unigramTokenCount]] under
    * the frozen fixture pieces: per DISTINCT word, the unrolled Viterbi
    * piece count (falling back to one-piece-per-char via COALESCE for a
    * word the vocab can't segment — the kernel's fallback, unreachable
    * under the shipped fixture), then `Σ np(word) + #words` per doc
    * (one `</w>` marker per word, empties included — the
    * [[bpeTokensOracleSql]] convention). */
  private def unigramTokensOracleSql(dpLen: Int, maxPieceLen: Int): String = {
    val ctes = Seq.newBuilder[String]
    ctes += s"pieces(piece, prob) AS (VALUES $unigramFixtureValues)"
    ctes += "docw AS (SELECT doc_id, " +
      "unnest(string_split(text, ' ')) AS word FROM documents)"
    ctes += "uw AS (SELECT DISTINCT word FROM docw)"
    ctes ++= unigramViterbiCtes("t", "uw", "pieces", dpLen, maxPieceLen)
    ctes += s"wcnt AS (SELECT u.word, COALESCE(b.np, len(u.word)) AS np " +
      s"FROM uw u LEFT JOIN (SELECT word, np FROM ta$dpLen " +
      "WHERE pos = len(word)) b USING (word))"
    "WITH " + ctes.result().mkString(", ") +
      " SELECT d.doc_id, CAST(count(*) AS INT) AS n_ws_tokens, " +
      "CAST(sum(w.np) + count(*) AS INT) AS n_unigram_tokens " +
      "FROM docw d JOIN wcnt w USING (word) " +
      "GROUP BY d.doc_id ORDER BY d.doc_id"
  }

  /** Unigram-LM tokenizer training ([[graft.functions.UnigramTrain
    * .learnedPieces]]): the SentencePiece-style companion to `bpe_train`
    * — substring seed + 2 hard-EM rounds over the capped word head, the
    * full piece table (counts AND round-6 probabilities) pinned against
    * the unrolled-DP DuckDB replica. */
  private val unigramTrainQ = QDef(
    "unigram_train",
    (s, d) => graft.functions.UnigramTrain.learnedPieces(
      documents(s, d), col("text"), vocabSize = 48, maxPieceLen = 4,
      emIters = 2, maxWords = 512, seedMultis = 64),
    Some(unigramTrainOracleSql(vocabSize = 48, maxPieceLen = 4, emIters = 2,
      maxWords = 512, seedMultis = 64, dpLen = 12))
  )

  /** Tokenizer-faithful counts under the FROZEN unigram fixture
    * ([[graft.functions.Text.unigramTokenCount]]) next to the
    * whitespace count — the unigram sibling of `bpe_tokens`, pinning
    * the distributed Viterbi kernel itself (not just training) to the
    * SQL DP. */
  private val unigramTokenizeQ = QDef(
    "unigram_tokenize",
    (s, d) => documents(s, d).select(col("doc_id"),
        size(split(col("text"), " ")).as("n_ws_tokens"),
        graft.functions.Text.unigramTokenCount(
          col("text"), graft.functions.Text.fixturePieces)
          .as("n_unigram_tokens"))
      .orderBy(col("doc_id")),
    Some(unigramTokensOracleSql(dpLen = 12, maxPieceLen = 4))
  )

  /** decode ∘ unigramEncode ≡ id corpus-wide — the unigram sibling of
    * `bpe_roundtrip` (shared `</w>` marker, shared [[graft.functions
    * .Text.bpeDecode]] inverse). */
  private val unigramRoundtripQ = QDef(
    "unigram_roundtrip",
    (s, d) => documents(s, d).select(col("doc_id"),
        graft.functions.Text.bpeDecode(
          graft.functions.Text.unigramEncode(
            col("text"), graft.functions.Text.fixturePieces))
          .as("text"))
      .orderBy(col("doc_id")),
    Some("SELECT doc_id, text FROM documents ORDER BY doc_id")
  )

  /** Deterministic global shuffle order ([[graft.functions.Sampling
    * .shuffleOrder]]): every doc's rank in md5 order via the two-pass
    * bucket shape — the oracle runs the sequential single-window
    * definition, pinning the distributed layout to it. */
  private val shuffleQ = QDef(
    "shuffle_order",
    (s, d) => graft.functions.Sampling.shuffleOrder(
        documents(s, d).select(col("doc_id")),
        key = col("doc_id").cast("string"))
      .orderBy(col("doc_id")),
    Some("SELECT doc_id, row_number() OVER (ORDER BY " +
      "md5(CAST(doc_id AS VARCHAR)), CAST(doc_id AS VARCHAR)) - 1 " +
      "AS shuffle_pos FROM documents ORDER BY doc_id")
  )

  /** Short-first curriculum schedule ([[graft.functions.Sampling
    * .curriculumOrder]]): every doc's exact global position in
    * (token count asc, doc_id) order via the range-shuffle two-pass —
    * the oracle runs the sequential global-window definition, pinning
    * the distributed layout to it. */
  private val curriculumQ = QDef(
    "curriculum_order",
    (s, d) => graft.functions.Sampling.curriculumOrder(
        documents(s, d).select(col("doc_id"),
          size(split(col("text"), " ")).as("n_tokens")),
        difficulty = col("n_tokens"), key = col("doc_id"))
      .orderBy(col("doc_id")),
    Some("SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, " +
      "row_number() OVER (ORDER BY len(string_split(text, ' ')), doc_id) - 1 " +
      "AS curriculum_pos FROM documents ORDER BY doc_id")
  )

  /** Per-source token quota ([[graft.functions.Sampling.tokenQuota]]):
    * each source greedily filled to 5000 chars in md5 order. */
  private val quotaQ = QDef(
    "quota_tokens",
    (s, d) => graft.functions.Sampling.tokenQuota(
        documents(s, d).select(col("doc_id"), col("source"), col("n_chars")),
        stratum = col("source"), key = col("doc_id").cast("string"),
        tokens = col("n_chars"), budget = 5000L)
      .orderBy(col("doc_id")),
    Some("SELECT doc_id, source, n_chars FROM (" +
      "SELECT doc_id, source, n_chars, sum(n_chars) OVER (" +
      "PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), " +
      "CAST(doc_id AS VARCHAR) " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c " +
      "FROM documents) WHERE c <= 5000 ORDER BY doc_id")
  )

  /** Benchmark decontamination: overlap report of the corpus against a
    * held-out "benchmark" slice (doc_id < 10 stands in for the eval
    * suite) — broadcast bench shingles, one corpus pass, one doc_id
    * aggregate ([[graft.functions.Contamination]]). */
  private val decontaminate = QDef(
    "decontaminate",
    (s, d) => {
      val docs = documents(s, d)
      graft.functions.Contamination.report(
        docs, docs.filter(col("doc_id") < 10), w = 3, minShared = 1L)
    },
    Some(
      "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "ds AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
        "range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle " +
        "FROM tok WHERE len(t) >= 3), " +
        "b AS (SELECT DISTINCT shingle FROM ds WHERE doc_id < 10), " +
        "m AS (SELECT ds.doc_id, count(*) AS n_shingles, " +
        "sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS n_shared " +
        "FROM ds LEFT JOIN b ON ds.shingle = b.shingle GROUP BY ds.doc_id) " +
        "SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles, " +
        "CAST(n_shared AS BIGINT) AS n_shared, " +
        "CAST(n_shared AS DOUBLE) / n_shingles AS overlap_frac " +
        "FROM m WHERE n_shared >= 1 ORDER BY doc_id")
  )

  /** SURGICAL decontamination ([[graft.functions.Contamination
    * .removeContaminatedSpans]]): training docs re-materialized with
    * every 5-token span that appears verbatim in the benchmark cut,
    * instead of dropping whole docs. The bench is the eval slice
    * (doc_id < 10) plus a PLANTED 12-token verbatim excerpt of train
    * doc 42 — so the key certifies both the pass-through (untouched
    * docs hash whole) and a guaranteed surgical cut, deterministically
    * constructed in both engines. */
  private val decontaminateSpansQ = QDef(
    "decontaminate_spans",
    (s, d) => {
      val docs = documents(s, d)
      val train = docs.filter(col("doc_id") >= 10)
      val bench = docs.filter(col("doc_id") < 10)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") === 42)
          .select(lit(9990000L).as("doc_id"),
            array_join(slice(split(col("text"), " "), 1, 12), " ").as("text")))
      graft.functions.Contamination.removeContaminatedSpans(train, bench, l = 5)
        .orderBy(col("doc_id"))
    },
    Some(
      "WITH train AS (SELECT doc_id, text FROM documents WHERE doc_id >= 10), " +
        "bench AS (SELECT doc_id, text FROM documents WHERE doc_id < 10 " +
        "UNION ALL SELECT 9990000, array_to_string(" +
        "list_slice(string_split(text, ' '), 1, 12), ' ') " +
        "FROM documents WHERE doc_id = 42), " +
        "ttok AS (SELECT doc_id, string_split(text, ' ') AS t FROM train), " +
        "btok AS (SELECT string_split(text, ' ') AS t FROM bench), " +
        "bg AS (SELECT DISTINCT array_to_string(list_slice(t, pos, pos + 4), ' ') " +
        "AS gram FROM (SELECT t, unnest(range(1, len(t) - 5 + 2)) AS pos " +
        "FROM btok WHERE len(t) >= 5)), " +
        "tg AS (SELECT doc_id, pos, array_to_string(list_slice(t, pos, pos + 4), ' ') " +
        "AS gram FROM (SELECT doc_id, t, unnest(range(1, len(t) - 5 + 2)) AS pos " +
        "FROM ttok WHERE len(t) >= 5)), " +
        "rem AS (SELECT DISTINCT tg.doc_id, pos + u AS p FROM tg " +
        "JOIN bg USING (gram), unnest(range(0, 5)) v(u)), " +
        "stream AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS p, " +
        "unnest(t) AS w FROM ttok), " +
        "kept AS (SELECT s.doc_id, s.p, s.w FROM stream s " +
        "LEFT JOIN rem ON s.doc_id = rem.doc_id AND s.p = rem.p " +
        "WHERE rem.p IS NULL) " +
        "SELECT tr.doc_id, CAST(len(string_split(tr.text, ' ')) AS INT) AS n_tokens, " +
        "CAST(count(k.p) AS INT) AS n_kept, " +
        "coalesce(string_agg(k.w, ' ' ORDER BY k.p), '') AS clean_text " +
        "FROM train tr LEFT JOIN kept k USING (doc_id) " +
        "GROUP BY tr.doc_id, tr.text ORDER BY doc_id")
  )

  /** Gopher-style intra-doc repetition: top 2-gram share per document,
    * computed per-row with ZERO shuffle ([[Text.repetitionScore]] — the
    * relational explode→groupBy form would shuffle the whole gram
    * stream; the oracle RUNS that relational form, pinning the run-length
    * fold to the group-by-count semantics). */
  private val repetitionQ = QDef(
    "repetition_score",
    (s, d) => Text.repetitionScore(documents(s, d), w = 2)
      .orderBy(col("doc_id")),
    Some(
      "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "g AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), " +
        "i -> t[i] || ' ' || t[i+1])) AS gram FROM tok WHERE len(t) >= 2), " +
        "c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2), " +
        "m AS (SELECT doc_id, max(c) AS max_c, sum(c) AS n FROM c GROUP BY 1) " +
        "SELECT doc_id, CAST(max_c AS BIGINT) AS max_gram_count, " +
        "CAST(n AS BIGINT) AS n_grams, " +
        "CAST(max_c AS DOUBLE) / n AS top_gram_share FROM m ORDER BY doc_id")
  )

  /** End-to-end corpus cleaning ([[graft.functions.CorpusClean]]): the
    * composition of quality filter + exact-dedup keeper + near-dup drop +
    * benchmark decontamination, all four criteria oracle-mirrored — the
    * flagship demonstration that the pieces compose into the pipeline
    * they exist for, reproducibly across engines. */
  private val corpusClean = QDef(
    "corpus_clean",
    (s, d) => {
      val docs = documents(s, d)
      graft.functions.CorpusClean.surviving(
        docs, docs.filter(col("doc_id") < 10),
        qualityMin = 0.3, jaccardT = 0.5, w = 3, minShared = 1L)
    },
    Some(
      "WITH qm AS (SELECT doc_id, " +
        "CAST(len(list_filter(string_split(text, ' '), t -> t IN (" +
        Text.stopwords.map(w => s"'$w'").mkString(", ") + "))) AS DOUBLE) " +
        " / len(string_split(text, ' ')) AS stop_ratio, " +
        "CASE WHEN length(text) > 0 THEN " +
        "CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) " +
        " / length(text) ELSE CAST(0.0 AS DOUBLE) END AS alpha_ratio, " +
        "least(CAST(len(string_split(text, ' ')) AS DOUBLE) / CAST(200.0 AS DOUBLE), " +
        " CAST(1.0 AS DOUBLE)) AS len_score FROM documents), " +
        "q AS (SELECT doc_id, stop_ratio * CAST(0.5 AS DOUBLE) " +
        " + alpha_ratio * CAST(0.3 AS DOUBLE) " +
        " + len_score * CAST(0.2 AS DOUBLE) AS quality FROM qm), " +
        "qf AS (SELECT doc_id, quality FROM q WHERE quality >= 0.3), " +
        "keep AS (SELECT min(doc_id) AS doc_id FROM documents " +
        " GROUP BY md5(lower(trim(text)))), " +
        "tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "ds AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
        "range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle " +
        "FROM tok WHERE len(t) >= 3), " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i " +
        "FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2), " +
        "nd AS (SELECT DISTINCT id_b AS doc_id FROM inter " +
        "JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
        "WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5), " +
        "bsh AS (SELECT DISTINCT shingle FROM ds WHERE doc_id < 10), " +
        "contam AS (SELECT ds.doc_id FROM ds JOIN bsh ON ds.shingle = bsh.shingle " +
        "GROUP BY ds.doc_id HAVING count(*) >= 1) " +
        "SELECT doc_id, quality FROM qf " +
        "WHERE doc_id IN (SELECT doc_id FROM keep) " +
        "AND doc_id NOT IN (SELECT doc_id FROM nd) " +
        "AND doc_id NOT IN (SELECT doc_id FROM contam) " +
        "ORDER BY doc_id")
  )

  /** INCREMENTAL ingest dedup — the 100 TB production shape: a new batch
    * (doc_id ≥ 250) is screened against the already-ingested corpus
    * (doc_id < 250) without ever re-pairing the corpus with itself. A new
    * doc survives iff its content hash is unseen, it is its in-batch
    * exact keeper, it has no Jaccard≥0.5 match in the ingested corpus
    * ([[graft.functions.NearDup.ngramJaccardAcross]] — prefix-filtered,
    * batch-sized cost), and it is not the higher id of an in-batch
    * near-dup pair. Every criterion mirrored in DuckDB. */
  /** `dedup_incremental` oracle with a parameterized "already ingested"
    * predicate (`ex` renders it for a column reference) — the deleted-
    * store variant carves forgotten docs out of the existing side. */
  private def incrementalOracleSqlFor(ex: String => String): String =
    "WITH inh AS (SELECT doc_id, md5(lower(trim(text))) AS h FROM documents " +
      "WHERE doc_id >= 250), " +
      "exh AS (SELECT DISTINCT md5(lower(trim(text))) AS h FROM documents " +
      s"WHERE ${ex("doc_id")}), " +
      "keep AS (SELECT h, min(doc_id) AS doc_id FROM inh GROUP BY h), " +
      "ae AS (SELECT doc_id FROM keep WHERE h NOT IN (SELECT h FROM exh)), " +
      "tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      "ds AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle " +
      "FROM tok WHERE len(t) >= 3), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id), " +
      "io AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i " +
      "FROM ds a JOIN ds b ON a.shingle = b.shingle " +
      s"AND a.doc_id >= 250 AND ${ex("b.doc_id")} GROUP BY 1, 2), " +
      "nd_old AS (SELECT DISTINCT id_a AS doc_id FROM io " +
      "JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
      "WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5), " +
      "inn AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i " +
      "FROM ds a JOIN ds b ON a.shingle = b.shingle " +
      "AND a.doc_id >= 250 AND b.doc_id >= 250 AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2), " +
      "nd_new AS (SELECT DISTINCT id_b AS doc_id FROM inn " +
      "JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
      "WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5) " +
      "SELECT doc_id FROM ae " +
      "WHERE doc_id NOT IN (SELECT doc_id FROM nd_old) " +
      "AND doc_id NOT IN (SELECT doc_id FROM nd_new) ORDER BY doc_id"

  private val incrementalOracleSql: String =
    incrementalOracleSqlFor(c => s"$c < 250")

  private val dedupIncremental = QDef(
    "dedup_incremental",
    (s, d) => {
      val docs = documents(s, d)
      val existing = docs.filter(col("doc_id") < 250)
      val incoming = docs.filter(col("doc_id") >= 250)
      val exKeys = existing
        .select(md5(lower(trim(col("text")))).as("h")).distinct()
      val keepers = incoming
        .select(col("doc_id"), md5(lower(trim(col("text")))).as("h"))
        .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      val afterExact = keepers.join(exKeys, Seq("h"), "left_anti")
      val ndOld = NearDup.ngramJaccardAcross(incoming, existing, threshold = 0.5)
        .select(col("id_a").as("doc_id")).distinct()
      val ndNew = NearDup.ngramJaccardPairs(incoming, threshold = 0.5)
        .select(col("id_b").as("doc_id")).distinct()
      afterExact.select(col("doc_id"))
        .join(ndOld, Seq("doc_id"), "left_anti")
        .join(ndNew, Seq("doc_id"), "left_anti")
        .orderBy(col("doc_id"))
    },
    Some(incrementalOracleSql)
  )

  /** Per-JVM signature stores keyed by the ingested-slice plan: built ONCE
    * from the "already ingested" slice, then every screen call reads the
    * parquet store — the production ingest shape ([[graft.functions
    * .SignatureStore]]). Durable artifact cache (the store is a persisted
    * parquet layout, like the IVF index). */
  private val sigStoreDirs =
    new graft.PlanCache[String](capacity = 8, durable = true,
      onEvict = graft.TempDirs.delete)

  /** Store-backed incremental dedup: the SAME contract (and the same
    * oracle SQL) as `dedup_incremental`, but the ingested corpus is
    * touched only through its persisted signatures — the batch never
    * re-shingles history. Oracle equality pins the store round-trip
    * (write, schema, column-pruned read, across-screen) to the
    * recompute-from-text definition. */
  private val dedupIncrementalStore = QDef(
    "dedup_incremental_store",
    (s, d) => {
      val docs = documents(s, d)
      val ingested = docs.filter(col("doc_id") < 250)
      val dir = sigStoreDirs.getOrCompute(graft.PlanCache.keyOf(ingested),
        graft.BuildTimer.timed("signature_store") {
          val tmp = graft.TempDirs.create("graft_sigstore")
          graft.functions.SignatureStore.build(ingested, tmp)
          tmp
        })
      graft.functions.SignatureStore.screenBatch(
        s, docs.filter(col("doc_id") >= 250), dir, threshold = 0.5)
    },
    Some(incrementalOracleSql)
  )

  /** Retention deletes on the signature store
    * ([[graft.functions.SignatureStore.delete]] — file-pruned
    * copy-on-write): signatures of the `[100, 150)` slice are deleted
    * from the ingested store, and the batch screen must then behave as
    * if those docs were never ingested — a batch doc whose ONLY match
    * was a forgotten doc must now be accepted. The oracle is the
    * incremental SQL with the deleted slice carved out of the existing
    * side. */
  private val dedupIncrementalDeleted = QDef(
    "dedup_incremental_deleted",
    (s, d) => {
      val docs = documents(s, d)
      val ingested = docs.filter(col("doc_id") < 250)
      val dir = sigStoreDirs.getOrCompute(
        graft.PlanCache.keyOf(ingested, "del", 100, 150),
        graft.BuildTimer.timed("signature_store_del") {
          val tmp = graft.TempDirs.create("graft_sigstore")
          graft.functions.SignatureStore.build(ingested, tmp)
          graft.functions.SignatureStore.delete(s,
            docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)
              .select(col("doc_id")), tmp)
          tmp
        })
      graft.functions.SignatureStore.screenBatch(
        s, docs.filter(col("doc_id") >= 250), dir, threshold = 0.5)
    },
    Some(incrementalOracleSqlFor(c =>
      s"$c < 250 AND NOT ($c >= 100 AND $c < 150)"))
  )

  /** MinHash-LSH candidates + exact-Jaccard verification — the production
    * minhash dedup pipeline, and (unlike raw est-Jaccard thresholding) an
    * oracle-CHECKABLE one: 16 bands × 2 rows make a true ≥0.5 pair a
    * candidate with prob ≈1, so the verified pairs equal DuckDB's exact
    * brute-force Jaccard pair set. */
  private val dedupMinhashVerified = QDef(
    "dedup_minhash_verified",
    (s, d) => NearDup.minhashVerifiedPairs(documents(s, d), threshold = 0.5),
    Some(ngramJaccardSql(0.5))
  )

  /** MinHash-LSH with the TUNER-SELECTED banding: [[graft.functions
    * .NearDup.lshTune]]'s (bands, rows_per_band) table is consumed on
    * the FN AXIS — cheapest factoring whose false-negative mass is
    * ≈ zero (fn ≤ 0.001) — because this is a VERIFY-AFTER pipeline:
    * exact-Jaccard verification recovers every false positive but can
    * never resurrect a candidate banding failed to produce, so the
    * equal-loss cost minimum ((8,4) at t=0.5 — fn 0.073, i.e. tens of
    * percent miss probability for just-above-threshold pairs) is the
    * right pick only for UNVERIFIED screening. The constrained pick is
    * (16,2): fn 0.0004, candidate recall ≈ 1 at every similarity the
    * threshold admits — so the key must emit the same exact-Jaccard
    * pair set as `dedup_minhash_verified` (identical oracle) on ANY
    * corpus, not just one whose pairs happen to sit far from the
    * threshold. `lsh_tune`'s output is thereby LOAD-BEARING: a tuner
    * regression that misprices the S-curve's fn column picks a
    * recall-losing banding and fails the hash gate. The pick is a
    * one-row head() of a ≤ 6-row arithmetic frame — no corpus access
    * before the choice, exactly how a 100 TB run would plan. */
  /** Memoized tuner picks: the lshTune grid is pure arithmetic in
    * (k, threshold, gridN, fn ceiling) — no corpus access — so its
    * one-row verdict is a pure function of those parameters and a serve
    * path must not replan it per invocation (the skew-probe verdict-memo
    * rule). Durable: the pick models a build-once planning artifact. */
  private val lshTunePicks =
    new graft.PlanCache[java.lang.Integer](capacity = 16, durable = true)

  /** Tuner-grid evaluations this JVM actually ran — the memo-hit test
    * seam (the manifestFileReads pattern). */
  private[graft] val lshTuneComputes =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private[graft] def lshTunedBands(
      s: org.apache.spark.sql.SparkSession, k: Int, threshold: Double,
      gridN: Int,
      fnCeiling: Double): Int =
    lshTunePicks.getOrCompute(
      graft.PlanCache.Key(s, "lsh-tune-pick",
        s"k=$k|t=$threshold|g=$gridN|fn<=$fnCeiling"), {
      lshTuneComputes.incrementAndGet()
      Int.box(graft.functions.NearDup
        .lshTune(s, k = k, threshold = threshold, gridN = gridN)
        .filter(col("fn") <= fnCeiling)
        .orderBy(col("cost"), col("bands"))
        .select(col("bands")).head.getInt(0))
    })

  private val dedupMinhashTuned = QDef(
    "dedup_minhash_tuned",
    (s, d) => {
      val pick = lshTunedBands(s, k = 32, threshold = 0.5, gridN = 40,
        fnCeiling = 0.001)
      NearDup.minhashVerifiedPairs(
        documents(s, d), threshold = 0.5, k = 32, bands = pick)
    },
    Some(ngramJaccardSql(0.5))
  )

  /** MinHash+LSH near-dup pairs (xxhash64 signatures — engine-native,
    * not reproducible in DuckDB → rows-only; accuracy unit-tested against
    * the exact-Jaccard pairs). */
  private val dedupMinhash = QDef(
    "dedup_minhash",
    (s, d) => NearDup.minhashPairs(documents(s, d), threshold = 0.5),
    None
  )

  /** SimHash (64-bit, banded) near-dup pairs — rows-only, same reason;
    * driver-gated by `dedup_simhash_bounds` below. */
  private val dedupSimhash = QDef(
    "dedup_simhash",
    (s, d) => NearDup.simhashPairs(documents(s, d), maxHamming = 3),
    None
  )

  /** Driver-visible EXACTNESS gate for the banded SimHash pipeline: with
    * maxHamming < bands, banding is EXACT by pigeonhole (a pair within
    * Hamming 3 must agree on one of 4 bands untouched by the 3 differing
    * bits), so two INDEPENDENT band decompositions (4×16 and 8×8 — both
    * exact for ham ≤ 3, no shared pigeonhole structure) must emit the
    * IDENTICAL pair set, and scalably: both are equality joins on band
    * keys, no O(n²) reference needed. The signatures are engine-native
    * (xxhash64), so the oracle asserts the computed booleans — same
    * pattern as `approx_agg_bounds`. */
  private val dedupSimhashBounds = QDef(
    "dedup_simhash_bounds",
    (s, d) => {
      val a = NearDup.simhashPairs(documents(s, d), maxHamming = 3, bands = 4)
        .select(col("id_a"), col("id_b"))
      val b = NearDup.simhashPairs(documents(s, d), maxHamming = 3, bands = 8)
        .select(col("id_a"), col("id_b"))
      val aOnly = a.join(b, Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("a_only"))
      val bOnly = b.join(a, Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("b_only"))
      val nA = a.agg(count(lit(1)).as("n_a"))
      aOnly.crossJoin(bOnly).crossJoin(nA)
        .select(
          (col("a_only") === 0 && col("b_only") === 0).as("bands_agree"),
          (col("n_a") > 0).as("nonempty"))
    },
    Some("SELECT true AS bands_agree, true AS nonempty")
  )

  /** Embedding-cosine near-dup pairs via sign-LSH buckets, over the corpus
    * plus 20 planted duplicates (vec_id + 1000000 copies of vec_id < 20) —
    * the raw testdata has no near-identical pairs (max pairwise cosine
    * ≈0.51), which made this check vacuous (0 rows). With planted exact
    * duplicates the output is non-empty AND fully oracle-checkable:
    * identical vectors agree on every hyperplane sign, so sign-LSH recall
    * on them is exactly 1 regardless of the engine-side plane literals, and
    * the verified output equals DuckDB's brute-force cosine≥0.95 pair set
    * (background pairs at ≤0.51 can't reach the threshold). */
  private val dedupEmbed = QDef(
    "dedup_embed",
    (s, d) => {
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val planted = e.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      Similarity.embeddingNearDups(e.union(planted),
        "vec_id", "embedding", threshold = 0.95, nPlanes = 8)
    },
    Some(
      ("WITH corpus AS (" +
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings " +
        "UNION ALL SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]) " +
        "FROM embeddings WHERE vec_id < 20), " +
        s"p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        s"${cosSql("a.v", "b.v")} AS sim " +
        "FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id) " +
        "SELECT id_a, id_b, round(sim, 6) AS sim FROM p WHERE sim >= 0.95 " +
        "ORDER BY id_a, id_b")
    )
  )

  /** Tumbling-window event aggregation — the batch face of
    * StreamOps.windowedEventCounts (identical definition runs streaming).
    * Spark's window() and DuckDB's time_bucket both align 5-minute buckets
    * on the epoch. */
  private val windowAgg = QDef(
    "window_agg",
    (s, d) => graft.streaming.StreamOps
      .windowedEventCounts(events(s, d), windowMinutes = 5)
      .orderBy(col("window_start"), col("event_type")),
    Some(
      "SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS window_start, " +
        "event_type, CAST(count(*) AS BIGINT) AS n_events, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value " +
        "FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"
    )
  )

  /** Corpus vocabulary: top-50 tokens by frequency. */
  private val vocabTopK = QDef(
    "vocab_topk",
    (s, d) => Text.vocabTopK(documents(s, d), k = 50),
    Some("SELECT token, CAST(count(*) AS BIGINT) AS n FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS token FROM documents) " +
      "GROUP BY token ORDER BY n DESC, token LIMIT 50")
  )

  /** Top-5 tf·(N/df) terms per document (ratio idf — log-free so the
    * score is bit-reproducible across engines). */
  private val tfidfTop = QDef(
    "tfidf_topterms",
    (s, d) => Text.tfidfTopTerms(documents(s, d), k = 5),
    Some(
      ("WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), " +
        "tf AS (SELECT doc_id, token, count(*) AS tf FROM terms GROUP BY 1, 2), " +
        "df AS (SELECT token, count(*) AS df FROM " +
        " (SELECT DISTINCT doc_id, token FROM terms) GROUP BY token), " +
        "n AS (SELECT count(*) AS n_docs FROM documents), " +
        "scored AS (SELECT doc_id, tf.token AS token, " +
        " CAST(tf * n_docs AS DOUBLE) / df AS score " +
        " FROM tf JOIN df ON tf.token = df.token CROSS JOIN n), " +
        "r AS (SELECT doc_id, token, score, row_number() OVER " +
        " (PARTITION BY doc_id ORDER BY score DESC, token) AS rn FROM scored) " +
        "SELECT doc_id, token, score FROM r WHERE rn <= 5 ORDER BY doc_id, token")
    )
  )

  /** Corpus-adaptive stopword filtering ([[graft.functions.Text
    * .stopwordFilter]]): drop tokens whose corpus share exceeds 3.4%
    * (the df-ratio criterion; the synthetic vocab's share range makes
    * this split non-degenerate — some tokens stopped, most kept). */
  private val stopwordFilterQ = QDef(
    "stopword_filter",
    (s, d) => Text.stopwordFilter(documents(s, d), maxShare = 0.034)
      .orderBy(col("doc_id")),
    Some("WITH dl AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents), " +
      "tok AS (SELECT unnest(l) AS w FROM dl), " +
      "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM tok), " +
      "stats AS (SELECT w, count(*) AS c FROM tok GROUP BY 1), " +
      "stopl AS (SELECT coalesce(list(w ORDER BY w), []) AS stops " +
      "FROM stats CROSS JOIN tot WHERE CAST(c AS DOUBLE) / n_tok > 0.034) " +
      "SELECT doc_id, " +
      "coalesce(array_to_string(list_filter(l, t -> NOT list_contains(stops, t)), ' '), '') " +
      "AS filtered_text, " +
      "CAST(len(l) - len(list_filter(l, t -> NOT list_contains(stops, t))) AS BIGINT) " +
      "AS n_removed " +
      "FROM dl CROSS JOIN stopl ORDER BY doc_id")
  )

  /** Collocation mining ([[graft.functions.Text.collocationsPmi]]):
    * top adjacent bigrams by ratio-PMI `N·c(xy)/(c(x)·c(y))` (log-free
    * so the score is bit-reproducible across engines), noise-pruned at
    * c(xy) ≥ 5. */
  private val collocPmi = QDef(
    "colloc_pmi",
    (s, d) => Text.collocationsPmi(documents(s, d), minCount = 5L, k = 20),
    Some("WITH dl AS (SELECT string_split(text, ' ') AS l FROM documents), " +
      "bgl AS (SELECT unnest(list_transform(range(1, len(l)), " +
      "i -> struct_pack(w1 := l[i], w2 := l[i+1]))) AS b FROM dl), " +
      "bc AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS c_xy " +
      "FROM bgl GROUP BY 1, 2), " +
      "ul AS (SELECT unnest(l) AS w FROM dl), " +
      "uc AS (SELECT w, count(*) AS c FROM ul GROUP BY 1), " +
      "n AS (SELECT CAST(sum(len(l)) AS BIGINT) AS n_tokens FROM dl) " +
      "SELECT w1, w2, CAST(c_xy AS BIGINT) AS n_pair, " +
      "CAST(c_xy * n_tokens AS DOUBLE) / (u1.c * u2.c) AS pmi_ratio " +
      "FROM bc JOIN uc u1 ON bc.w1 = u1.w JOIN uc u2 ON bc.w2 = u2.w " +
      "CROSS JOIN n WHERE c_xy >= 5 " +
      "ORDER BY pmi_ratio DESC, w1, w2 LIMIT 20")
  )

  /** Per-source document-length profile ([[graft.functions.Quantiles
    * .groupQuantilesDisc]] on n_chars): the ingest-shape monitor — a
    * source whose length quartiles collapse or explode between batches
    * changed its extraction, not its content. Source-cardinality
    * output; one group-partitioned window. */
  private val lengthProfileQ = QDef(
    "length_profile",
    (s, d) => graft.functions.Quantiles
      .groupQuantilesDisc(documents(s, d), "source", "n_chars",
        Seq(0.25, 0.5, 0.75, 1.0))
      .orderBy(col("source")),
    Some("WITH r AS (SELECT source, n_chars AS v, " +
      "row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn, " +
      "count(*) OVER (PARTITION BY source) AS n " +
      "FROM documents WHERE n_chars IS NOT NULL) " +
      "SELECT source, " +
      "min(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN v END) AS p25, " +
      "min(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN v END) AS p50, " +
      "min(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT) THEN v END) AS p75, " +
      "min(CASE WHEN rn = CAST(ceil(1.0 * n) AS BIGINT) THEN v END) AS p100 " +
      "FROM r GROUP BY 1 ORDER BY 1")
  )

  /** Per-source dedup health report ([[graft.functions.Dedup
    * .sourceReport]]): exact-copy and near-dup-flag counts per source —
    * the ingest dashboard; the pair table rides the shared near-dup
    * cache, so the report itself is two bounded aggregates. */
  private val dedupReportQ = QDef(
    "dedup_report",
    (s, d) => {
      val docs = documents(s, d)
      graft.functions.Dedup.sourceReport(
        docs, NearDup.ngramJaccardPairsShared(docs, threshold = 0.5))
        .orderBy(col("source"))
    },
    Some("WITH " + dupEdgesSqlPrefix + ", " +
      "k AS (SELECT doc_id, source, md5(lower(trim(text))) AS h FROM documents), " +
      "keep AS (SELECT h, min(doc_id) AS keep_id FROM k GROUP BY 1), " +
      "nearf AS (SELECT DISTINCT doc_id FROM " +
      "(SELECT id_a AS doc_id FROM pairs UNION ALL SELECT id_b FROM pairs)) " +
      "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(CASE WHEN k.doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_exact_copies, " +
      "CAST(sum(CASE WHEN nearf.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_near_flagged, " +
      "CAST(sum(CASE WHEN k.doc_id <> keep_id THEN 1 ELSE 0 END) AS DOUBLE) / count(*) " +
      "AS exact_rate " +
      "FROM k JOIN keep ON k.h = keep.h LEFT JOIN nearf ON nearf.doc_id = k.doc_id " +
      "GROUP BY source ORDER BY source")
  )

  /** Store-served dedup health report: `dedup_report` semantics with the
    * pair table read from the persisted store — the report is two
    * bounded aggregates over store parquet. */
  private val dedupReportStore = QDef(
    "dedup_report_store",
    (s, d) => {
      val docs = documents(s, d)
      graft.functions.Dedup.sourceReport(
        docs, graft.functions.PairStore.pairs(s, docPairStore(s, d)))
        .orderBy(col("source"))
    },
    dedupReportQ.oracle
  )

  /** DuckDB mirror of [[graft.functions.Winnow]]'s k-gram hash +
    * window-min pipeline as a CTE chain ending in `f(doc_id, n_grams,
    * fps)` — same pre-reduced power literals, same exact long
    * arithmetic, same value-min winnowing. */
  private def winnowSqlPrefix(k: Int, w: Int): String = {
    val pows = {
      var p = 1L
      val ps = Array.fill(k)(0L)
      for (j <- (k - 1) to 0 by -1) { ps(j) = p; p = p * graft.functions.Winnow.B % graft.functions.Winnow.M }
      ps
    }
    val hashTerms = (0 until k).map { j =>
      s"CAST(ascii(substring(text, CAST(i + $j AS INT), 1)) AS BIGINT) * ${pows(j)}"
    }.mkString(" + ")
    s"g AS (SELECT doc_id, text, greatest(len(text) - ${k - 1}, 0) AS cnt FROM documents), " +
      s"h AS (SELECT doc_id, cnt AS n_grams, list_transform(range(1, cnt + 1), " +
      s"i -> ($hashTerms) % ${graft.functions.Winnow.M}) AS hs FROM g), " +
      s"f AS (SELECT doc_id, n_grams, list_sort(list_distinct(list_transform(" +
      s"range(1, CASE WHEN len(hs) = 0 THEN 1 WHEN len(hs) < $w THEN 2 " +
      s"ELSE len(hs) - ${w - 1} + 1 END), " +
      s"i -> list_min(list_slice(hs, CAST(i AS INT), CAST(least(i + ${w - 1}, len(hs)) AS INT)))))) AS fps " +
      s"FROM h)"
  }

  /** Winnowing fingerprint summary ([[graft.functions.Winnow
    * .fingerprintSummary]], Schleimer et al. SIGMOD 2003): per-doc
    * rolling-hash k-gram fingerprints with guaranteed window density —
    * the character-level dedup signature; zero shuffle. */
  private val winnowFingerprintQ = QDef(
    "winnow_fingerprint",
    (s, d) => graft.functions.Winnow
      .fingerprintSummary(documents(s, d), k = 24, w = 12)
      .orderBy(col("doc_id")),
    Some("WITH " + winnowSqlPrefix(24, 12) +
      " SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, " +
      "CAST(len(fps) AS BIGINT) AS n_fingerprints, " +
      "CAST(coalesce(list_sum(fps), 0) AS BIGINT) AS fp_sum, " +
      "list_min(fps) AS fp_min, list_max(fps) AS fp_max " +
      "FROM f ORDER BY doc_id")
  )

  /** Winnowing overlap pairs ([[graft.functions.Winnow.overlapPairs]]):
    * docs sharing ≥ 4 winnowed fingerprints (k=24 chars ≈ a 4-word span, so shared fingerprints mean real copied text, not a common bigram) — the plagiarism/mirror
    * detector; fingerprint EQUALITY join, never doc². */
  private val winnowOverlapQ = QDef(
    "winnow_overlap",
    (s, d) => graft.functions.Winnow
      .overlapPairs(documents(s, d), k = 24, w = 12, minShared = 4L)
      .orderBy(col("id_a"), col("id_b")),
    Some("WITH " + winnowSqlPrefix(24, 12) +
      ", e AS (SELECT doc_id, unnest(fps) AS fp FROM f) " +
      "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
      "CAST(count(*) AS BIGINT) AS n_shared " +
      "FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2 HAVING count(*) >= 4 ORDER BY id_a, id_b")
  )

  /** Character-level duplicate clusters: winnow overlap pairs chained
    * into min-label connected components — the end-to-end
    * fingerprint→pairs→clusters pass, the character-level complement of
    * `dedup_clusters` (which clusters on token shingles). Shares the
    * closure machinery ([[graft.functions.Clusters
    * .connectedComponentsShared]]). */
  private val winnowClustersQ = QDef(
    "winnow_clusters",
    (s, d) => {
      val docs = documents(s, d)
      val pairs = graft.functions.Winnow
        .overlapPairs(docs, k = 24, w = 12, minShared = 4L)
      graft.functions.Clusters.connectedComponentsShared(
        docs.select(col("doc_id")), pairs,
        nodeCol = "doc_id", srcCol = "id_a", dstCol = "id_b",
        pairsCanonical = true)
        .orderBy(col("doc_id"))
    },
    Some("WITH RECURSIVE " + winnowSqlPrefix(24, 12) +
      ", fe AS (SELECT doc_id, unnest(fps) AS fp FROM f), " +
      "wp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b " +
      "FROM fe a JOIN fe b ON a.fp = b.fp AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2 HAVING count(*) >= 4), " +
      "we AS (SELECT id_a AS s, id_b AS t FROM wp " +
      "UNION SELECT id_b AS s, id_a AS t FROM wp), " +
      "walk AS (SELECT doc_id AS node, doc_id AS lbl FROM documents " +
      "UNION SELECT we.s AS node, wk.lbl FROM we JOIN walk wk ON wk.node = we.t) " +
      "SELECT node AS doc_id, min(lbl) AS cluster_id FROM walk " +
      "GROUP BY node ORDER BY doc_id")
  )

  /** Vocabulary coverage diagnostic ([[graft.functions.Text.oovRate]]):
    * per-doc out-of-vocabulary rate against the corpus's own top-100
    * token head — the pre-tokenizer coverage check. */
  private val oovRateQ = QDef(
    "oov_rate",
    (s, d) => Text.oovRate(documents(s, d), vocabSize = 100)
      .orderBy(col("doc_id")),
    Some("WITH dl AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents), " +
      "tok AS (SELECT unnest(l) AS w FROM dl), " +
      "v AS (SELECT w FROM (SELECT w, count(*) AS c FROM tok GROUP BY 1) " +
      "ORDER BY c DESC, w LIMIT 100), " +
      "vl AS (SELECT list(w ORDER BY w) AS vocab FROM v) " +
      "SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens, " +
      "CAST(len(l) - len(list_filter(l, t -> list_contains(vocab, t))) AS BIGINT) AS n_oov, " +
      "CAST(len(l) - len(list_filter(l, t -> list_contains(vocab, t))) AS DOUBLE) / len(l) " +
      "AS oov_rate " +
      "FROM dl CROSS JOIN vl ORDER BY doc_id")
  )

  /** Word co-occurrence graph topology ([[graft.functions.Graph
    * .triangleCounts]]): per-token degree, triangle count, and local
    * clustering coefficient over the undirected adjacent-bigram graph —
    * high-clustering tokens sit inside tight phrase communities
    * (template/boilerplate signal), low-clustering high-degree tokens
    * are connectives. Degree-ordered compact-forward enumeration — the
    * wedge set is O(m^1.5)-bounded, never hub-quadratic. */
  private val graphTrianglesQ = QDef(
    "graph_triangles",
    (s, d) => {
      val dl = documents(s, d).select(Text.tokens(col("text")).as("l"))
      val edges = dl.select(explode(
        zip_with(
          slice(col("l"), lit(1), size(col("l")) - 1),
          slice(col("l"), lit(2), size(col("l")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      graft.functions.Graph.triangleCounts(edges, "w1", "w2")
        .select(col("node").as("token"), col("degree"),
          col("n_triangles"), col("clustering"))
        .orderBy(col("token"))
    },
    Some("WITH dl AS (SELECT string_split(text, ' ') AS l FROM documents), " +
      "bgl AS (SELECT unnest(list_transform(range(1, len(l)), " +
      "i -> struct_pack(w1 := l[i], w2 := l[i+1]))) AS p FROM dl), " +
      "e AS (SELECT DISTINCT least(p.w1, p.w2) AS a, greatest(p.w1, p.w2) AS b " +
      "FROM bgl WHERE p.w1 <> p.w2), " +
      "deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM " +
      "(SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1), " +
      "tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1 " +
      "JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b), " +
      "tc AS (SELECT v, count(*) AS c FROM (SELECT x AS v FROM tri " +
      "UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri) GROUP BY 1) " +
      "SELECT deg.v AS token, deg.d AS degree, " +
      "CAST(coalesce(tc.c, 0) AS BIGINT) AS n_triangles, " +
      "CASE WHEN deg.d >= 2 THEN CAST(2 * coalesce(tc.c, 0) AS DOUBLE) / " +
      "CAST(deg.d * (deg.d - 1) AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS clustering " +
      "FROM deg LEFT JOIN tc ON tc.v = deg.v ORDER BY token")
  )

  /** Heavy-hitters vocabulary via the Misra–Gries sketch
    * ([[graft.plans.HeavyHittersMG]]): capacity-bounded per-partition
    * state instead of a vocab-wide shuffle. Registered with capacity 64 >
    * |vocab| — the regime where MG is provably EXACT, so the sketch
    * hash-matches the exact count table (the ann_*_full pattern: pin the
    * machinery with an exact-mode oracle; the sub-capacity bounds are
    * unit-asserted on a zipf stream). */
  private val vocabSketch = QDef(
    "vocab_sketch",
    (s, d) => documents(s, d)
      .select(explode(Text.tokens(col("text"))).as("token"))
      .agg(graft.plans.HeavyHittersMG.heavyHitters(col("token"), 64).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item").as("token"), col("e.est").as("n"))
      .orderBy(col("n").desc, col("token")),
    Some("SELECT token, CAST(count(*) AS BIGINT) AS n FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS token FROM documents) " +
      "GROUP BY token ORDER BY n DESC, token")
  )

  /** Corpus-frequency quality score ([[Text.unigramQuality]]) — the
    * log-free LM-style rare-token detector: exact integer frequency sums
    * into one IEEE divide. */
  private val unigramQ = QDef(
    "unigram_quality",
    (s, d) => Text.unigramQuality(documents(s, d)),
    Some("WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token " +
      "FROM documents), " +
      "cf AS (SELECT token, count(*) AS corpus_tf FROM t GROUP BY 1) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
      "CAST(sum(corpus_tf) AS BIGINT) AS sum_tf, " +
      "CAST(sum(corpus_tf) AS DOUBLE) / count(*) AS mean_tf " +
      "FROM t JOIN cf USING (token) GROUP BY doc_id ORDER BY doc_id")
  )

  /** Shared CTE prefix of the perplexity oracles: corpus bigram counts,
    * context counts, vocabulary size, per-doc perplexity under the
    * add-one-smoothed bigram LM (the CCNet gate — see
    * [[graft.functions.LangModel]]). Parallel `unnest`s zip in DuckDB,
    * so (w1, w2) falls out of two aligned list_transforms. */
  private val perplexityCte: String =
    "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      "bg AS (SELECT doc_id, " +
      "unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1, " +
      "unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2 " +
      "FROM tok WHERE len(t) >= 2), " +
      "c2 AS (SELECT w1, w2, count(*) AS n12 FROM bg GROUP BY 1, 2), " +
      "c1 AS (SELECT w1, sum(n12) AS n1 FROM c2 GROUP BY 1), " +
      "v AS (SELECT count(DISTINCT w) AS vs FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS w FROM documents)), " +
      "p AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, " +
      "round(exp(-sum(ln((n12 + 1.0) / (n1 + vs))) / count(*)), 6) AS ppl " +
      "FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v " +
      "GROUP BY doc_id) "

  /** Per-doc perplexity under the corpus-trained bigram LM
    * ([[graft.functions.LangModel.perplexity]]) — the CCNet-style
    * quality signal: low = template/boilerplate, high = gibberish. */
  private val ngramPerplexity = QDef(
    "ngram_perplexity",
    (s, d) => graft.functions.LangModel.perplexity(documents(s, d))
      .orderBy(col("doc_id")),
    Some(perplexityCte +
      "SELECT doc_id, n_bigrams, ppl FROM p ORDER BY doc_id")
  )

  /** Per-doc perplexity under the self-trained interpolated Kneser-Ney
    * bigram LM ([[graft.functions.LangModel.perplexityKn]]) — KenLM-grade
    * smoothing: absolute discount 0.75, discounted mass re-spent on the
    * add-one-floored continuation distribution. The oracle replays the
    * identical estimator (self-scored, so every bigram/context is seen
    * and the oracle needs no back-off branch — the unseen branches are
    * unit-tested on held-out docs in LangModelSpec). */
  private val knPerplexity = QDef(
    "kn_perplexity",
    (s, d) => graft.functions.LangModel.perplexityKn(documents(s, d))
      .orderBy(col("doc_id")),
    Some("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t " +
      "FROM documents), " +
      "bg AS (SELECT doc_id, " +
      "unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1, " +
      "unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2 " +
      "FROM tok WHERE len(t) >= 2), " +
      "c2 AS (SELECT w1, w2, count(*) AS n12 FROM bg GROUP BY 1, 2), " +
      "ctx AS (SELECT w1, sum(n12) AS n1, count(*) AS nf FROM c2 GROUP BY 1), " +
      "cont AS (SELECT w2, count(*) AS nc FROM c2 GROUP BY 1), " +
      "tt AS (SELECT count(*) AS t FROM c2), " +
      "v AS (SELECT count(DISTINCT w) AS vs FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS w FROM documents)), " +
      "p AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, " +
      "round(exp(-sum(ln((greatest(n12 - 0.75, 0) " +
      "+ 0.75 * nf * ((nc + 1.0) / (t + vs))) / n1)) / count(*)), 6) AS ppl " +
      "FROM bg JOIN c2 USING (w1, w2) JOIN ctx USING (w1) " +
      "JOIN cont USING (w2) CROSS JOIN tt CROSS JOIN v GROUP BY doc_id) " +
      "SELECT doc_id, n_bigrams, ppl FROM p ORDER BY doc_id")
  )

  /** Published-model paths: one KN artifact per corpus plan, built once
    * per JVM via [[graft.functions.ModelStore.saveKn]] (build metered as
    * `kn_model_publish`). The cached value is the REGISTERED TempDirs
    * parent (the model itself lives at `<value>/m`) so eviction reclaims
    * the whole dir — caching the `/m` child handed [[graft.TempDirs
    * .delete]] an unregistered path, which it (correctly) refused to
    * touch, leaking every evicted model until JVM exit. Eviction deletes
    * the parquet a loaded model's frames scan, so an evicted dir must
    * not outlive an unevaluated frame built over it — callers evaluate
    * (here: the registry collects every key's result) before the
    * capacity-4 cache can cycle. */
  private val knModelDirs =
    new graft.PlanCache[String](capacity = 4, durable = true,
      onEvict = p => graft.TempDirs.delete(p))

  /** `kn_perplexity` scored under a PUBLISHED model — train, save to a
    * model dir ([[graft.functions.ModelStore]]), LOAD, score: the
    * cross-job production topology. Same oracle as the in-JVM key, so a
    * hash-match here pins the whole save/load round-trip (schemas,
    * scalar precision, manifest) cross-engine. */
  private val knPerplexityServed = QDef(
    "kn_perplexity_served",
    (s, d) => {
      val docs = documents(s, d)
      val dir = knModelDirs.getOrCompute(
        graft.PlanCache.keyOf(docs, "kn-model"),
        graft.BuildTimer.timed("kn_model_publish") {
          val tmp = graft.TempDirs.create("graft_kn_model")
          val lm = graft.functions.LangModel.trainKn(docs)
          graft.functions.ModelStore.saveKn(lm, s"$tmp/m")
          lm.unpersist()
          tmp
        })
      graft.functions.LangModel.scoreWithKn(
        graft.functions.ModelStore.loadKn(s, s"$dir/m"), docs)
        .orderBy(col("doc_id"))
    },
    knPerplexity.oracle
  )

  /** CCNet head/middle/tail corpus tiers at the exact perplexity
    * terciles ([[graft.functions.LangModel.perplexityTiers]]). Both
    * engines derive the cut points independently — Spark via the
    * two-pass range-partition order statistics ([[graft.functions
    * .Quantiles.exactQuantilesGlobal]]), DuckDB via quantile_cont; the
    * interpolation formulas are bit-identical (see `quantile_dist`). */
  private val perplexityTiersQ = QDef(
    "perplexity_tiers",
    (s, d) => graft.functions.LangModel.perplexityTiers(documents(s, d)),
    Some(perplexityCte +
      ", c AS (SELECT quantile_cont(ppl, 1.0/3) AS lo, " +
      "quantile_cont(ppl, 2.0/3) AS hi FROM p) " +
      "SELECT tier, CAST(count(*) AS BIGINT) AS n_docs, " +
      "min(ppl) AS min_ppl, max(ppl) AS max_ppl FROM " +
      "(SELECT ppl, CASE WHEN ppl <= lo THEN 'head' " +
      "WHEN ppl <= hi THEN 'middle' ELSE 'tail' END AS tier " +
      "FROM p CROSS JOIN c) GROUP BY tier ORDER BY tier")
  )

  /** Published add-one-bigram model dirs, one per corpus plan — the
    * [[knModelDirs]] convention for the tiers pipeline's base LM
    * (cached value = registered TempDirs parent; model at `<value>/m`;
    * same eviction-lifetime rule). */
  private val bigramModelDirs =
    new graft.PlanCache[String](capacity = 4, durable = true,
      onEvict = p => graft.TempDirs.delete(p))

  /** `perplexity_tiers` under a PUBLISHED model — train the bigram LM
    * once, persist it through [[graft.functions.ModelStore.saveBigram]]
    * (build metered as `bigram_model_publish`), then score + tier under
    * the LOADED artifact: the production topology for a recurring
    * tiering job, where the corpus LM is a versioned artifact and each
    * tiering run pays scoring + two exact quantile passes, never a
    * retrain. Same oracle as the cold key, so a hash-match pins the
    * whole save/load/score/tier round-trip cross-engine. */
  private val perplexityTiersServedQ = QDef(
    "perplexity_tiers_served",
    (s, d) => {
      val docs = documents(s, d)
      val dir = bigramModelDirs.getOrCompute(
        graft.PlanCache.keyOf(docs, "bigram-model"),
        graft.BuildTimer.timed("bigram_model_publish") {
          val tmp = graft.TempDirs.create("graft_bigram_model")
          graft.functions.ModelStore.saveBigram(
            graft.functions.LangModel.train(docs), s"$tmp/m")
          tmp
        })
      graft.functions.LangModel.perplexityTiersOf(
        graft.functions.LangModel.scoreWith(
          graft.functions.ModelStore.loadBigram(s, s"$dir/m"), docs))
    },
    perplexityTiersQ.oracle
  )

  /** DoReMi-style domain-mixture reweighting over `source`
    * ([[graft.functions.Doremi.domainReweight]]): each domain's mixture
    * share is its baseline token share exponentially tilted by its
    * clipped excess mean log-perplexity under the corpus bigram LM.
    * Excess is rounded to 6 decimals BEFORE the exp in both engines so
    * the exponentials see identical arguments. */
  /** The full DoReMi reweighting as a reusable CTE ending in `rw` —
    * shared by the `domain_reweight` and `mixture_epochs` oracles. */
  private val doremiRwCte: String = perplexityCte +
    ", dom AS (SELECT p.doc_id, d.source AS domain, n_bigrams, ppl " +
    "FROM p JOIN documents d USING (doc_id)), " +
    "cells AS (SELECT domain, count(*) AS n_docs, " +
    "sum(n_bigrams) AS n_tok, sum(ln(ppl)) AS snll FROM dom GROUP BY 1), " +
    "t AS (SELECT sum(snll) / sum(n_docs) AS gnll, sum(n_tok) AS ttok " +
    "FROM cells), " +
    "u AS (SELECT domain, n_docs, n_tok, ttok, snll / n_docs AS mnll, " +
    "round(greatest(snll / n_docs - gnll, 0), 6) AS excess " +
    "FROM cells CROSS JOIN t), " +
    "z AS (SELECT sum(n_tok * exp(excess / 1.0)) AS zz FROM u), " +
    "rw AS (SELECT domain, CAST(n_docs AS BIGINT) AS n_docs, " +
    "CAST(n_tok AS BIGINT) AS n_tokens, " +
    "round(CAST(n_tok AS DOUBLE) / ttok, 6) AS base_w, " +
    "round(mnll, 6) AS mean_nll, excess, " +
    "round(n_tok * exp(excess / 1.0) / zz, 6) AS weight " +
    "FROM u CROSS JOIN z)"

  private val domainReweightQ = QDef(
    "domain_reweight",
    (s, d) => graft.functions.Doremi.domainReweight(
      documents(s, d), "source", temperature = 1.0),
    Some(doremiRwCte +
      " SELECT domain, n_docs, n_tokens, base_w, mean_nll, excess, weight " +
      "FROM rw ORDER BY domain")
  )

  /** Data-constrained epoch planning over the DoReMi mixture
    * ([[graft.functions.Doremi.epochPlan]], Muennighoff et al. 2023):
    * implied epochs per domain at a 2× token budget, the 4-epoch repeat
    * cap, and the renormalized ACHIEVABLE mixture after capping. Every
    * derived value is a short chain of single IEEE ops on 6-rounded
    * inputs; `eff_tokens` floors to exact BIGINT so totals sum exactly
    * in both engines. */
  private val mixtureEpochsQ = QDef(
    "mixture_epochs",
    (s, d) => graft.functions.Doremi.epochPlan(
      documents(s, d), "source", budgetFactor = 2.0, maxEpochs = 4.0),
    Some(doremiRwCte +
      ", tt AS (SELECT sum(n_tokens) AS t FROM rw), " +
      "pl AS (SELECT domain, n_tokens, weight, " +
      "round(weight * (t * 2.0) / n_tokens, 6) AS epochs " +
      "FROM rw CROSS JOIN tt), " +
      "pe AS (SELECT domain, n_tokens, weight, epochs, " +
      "least(epochs, 4.0) AS eff_epochs FROM pl), " +
      "pf AS (SELECT *, CAST(floor(eff_epochs * n_tokens) AS BIGINT) " +
      "AS eff_tokens FROM pe), " +
      "et AS (SELECT sum(eff_tokens) AS s FROM pf) " +
      "SELECT domain, n_tokens, weight, epochs, eff_epochs, eff_tokens, " +
      "round(CAST(eff_tokens AS DOUBLE) / s, 6) AS achieved_share " +
      "FROM pf CROSS JOIN et ORDER BY domain")
  )

  /** Leakage-safe train/test split
    * ([[graft.functions.Sampling.leakageSafeSplit]]): the split hash key
    * is the near-dup CLUSTER id (the `dedup_clusters` closure), so whole
    * duplicate clusters land in one split atomically — no eval doc's
    * near-duplicate can sit in train. The oracle recomputes the closure
    * with the recursive CTE and applies the identical md5 rule. */
  private val splitLeakageSafeQ = QDef(
    "split_leakage_safe",
    (s, d) => {
      val docs = documents(s, d)
      graft.functions.Sampling.leakageSafeSplit(
          graft.functions.Clusters.connectedComponentsShared(
            docs.select(col("doc_id")),
            NearDup.ngramJaccardPairsShared(docs, threshold = 0.5),
            nodeCol = "doc_id", srcCol = "id_a", dstCol = "id_b",
        pairsCanonical = true),
          "cluster_id")
        .orderBy(col("doc_id"))
    },
    Some("WITH RECURSIVE " +
      "tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      "ds AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle " +
      "FROM tok WHERE len(t) >= 3), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id), " +
      "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i " +
      "FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2), " +
      "pairs AS (SELECT id_a, id_b FROM inter " +
      "JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
      "WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5), " +
      "e AS (SELECT id_a AS s, id_b AS t FROM pairs " +
      "UNION SELECT id_b AS s, id_a AS t FROM pairs), " +
      "walk AS (SELECT doc_id AS node, doc_id AS lbl FROM documents " +
      "UNION SELECT e.s AS node, w.lbl FROM e JOIN walk w ON w.node = e.t), " +
      "lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM walk " +
      "GROUP BY node) " +
      "SELECT doc_id, cluster_id, " +
      "CASE WHEN substring(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < '1a' " +
      "THEN 'test' ELSE 'train' END AS split " +
      "FROM lab ORDER BY doc_id")
  )

  /** Store-served leakage-safe split: `split_leakage_safe` semantics with
    * the cluster labels read from the persisted pair store — the
    * production shape (the split is a per-row hash on the label table;
    * only the closure is expensive, and the store already holds it). */
  private val splitLeakageSafeStoreQ = QDef(
    "split_leakage_safe_store",
    (s, d) => graft.functions.Sampling.leakageSafeSplit(
        graft.functions.PairStore.labels(s, docPairStore(s, d)),
        "cluster_id")
      .orderBy(col("doc_id")),
    splitLeakageSafeQ.oracle
  )

  /** Memorization-risk audit
    * ([[graft.functions.SubstringDedup.topRepeated]]): the 20 five-token
    * spans repeated verbatim in the most documents, with text — license
    * boilerplate and syndicated passages surface here before they
    * surface as model regurgitation. Fully ordered (n_docs desc,
    * n_occurrences desc, gram), so the top-k cut is deterministic. */
  private val ngramTopRepeatedQ = QDef(
    "ngram_top_repeated",
    (s, d) => graft.functions.SubstringDedup.topRepeated(
      documents(s, d), l = 5, k = 20),
    Some("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t " +
      "FROM documents), " +
      "g AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 3), " +
      "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' " +
      "|| t[i+4])) AS gram FROM tok WHERE len(t) >= 5), " +
      "pd AS (SELECT gram, doc_id, count(*) AS occ FROM g GROUP BY 1, 2), " +
      "r AS (SELECT gram, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(occ) AS BIGINT) AS n_occurrences FROM pd GROUP BY 1) " +
      "SELECT gram, n_docs, n_occurrences FROM r WHERE n_docs >= 2 " +
      "ORDER BY n_docs DESC, n_occurrences DESC, gram LIMIT 20")
  )

  /** Filter-funnel attribution ([[graft.functions.CorpusClean.funnel]]):
    * per cleaning rule, how many docs it rejects, how many ONLY it
    * rejects (its unique contribution), and the cumulative survivor
    * count in canonical rule order — the last row pins `corpus_clean`'s
    * survivor count. */
  private val cleanFunnelQ = QDef(
    "clean_funnel",
    (s, d) => {
      val docs = documents(s, d)
      graft.functions.CorpusClean.funnel(
        docs, docs.filter(col("doc_id") < 10),
        qualityMin = 0.3, jaccardT = 0.5, w = 3, minShared = 1L)
    },
    Some(
      "WITH qm AS (SELECT doc_id, " +
        "CAST(len(list_filter(string_split(text, ' '), t -> t IN (" +
        Text.stopwords.map(w => s"'$w'").mkString(", ") + "))) AS DOUBLE) " +
        " / len(string_split(text, ' ')) AS stop_ratio, " +
        "CASE WHEN length(text) > 0 THEN " +
        "CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) " +
        " / length(text) ELSE CAST(0.0 AS DOUBLE) END AS alpha_ratio, " +
        "least(CAST(len(string_split(text, ' ')) AS DOUBLE) / CAST(200.0 AS DOUBLE), " +
        " CAST(1.0 AS DOUBLE)) AS len_score FROM documents), " +
        "q AS (SELECT doc_id, stop_ratio * CAST(0.5 AS DOUBLE) " +
        " + alpha_ratio * CAST(0.3 AS DOUBLE) " +
        " + len_score * CAST(0.2 AS DOUBLE) AS quality FROM qm), " +
        "keep AS (SELECT min(doc_id) AS doc_id FROM documents " +
        " GROUP BY md5(lower(trim(text)))), " +
        "tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "ds AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
        "range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle " +
        "FROM tok WHERE len(t) >= 3), " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i " +
        "FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2), " +
        "nd AS (SELECT DISTINCT id_b AS doc_id FROM inter " +
        "JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
        "WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5), " +
        "bsh AS (SELECT DISTINCT shingle FROM ds WHERE doc_id < 10), " +
        "contam AS (SELECT ds.doc_id FROM ds JOIN bsh ON ds.shingle = bsh.shingle " +
        "GROUP BY ds.doc_id HAVING count(*) >= 1), " +
        "f AS (SELECT (q.quality < 0.3) AS fq, " +
        "(q.doc_id NOT IN (SELECT doc_id FROM keep)) AS fx, " +
        "(q.doc_id IN (SELECT doc_id FROM nd)) AS fn, " +
        "(q.doc_id IN (SELECT doc_id FROM contam)) AS fc FROM q) " +
        "SELECT * FROM (" +
        "SELECT 1 AS stage, 'quality' AS rule, " +
        "CAST(sum(CASE WHEN fq THEN 1 ELSE 0 END) AS BIGINT) AS n_fail, " +
        "CAST(sum(CASE WHEN fq AND NOT fx AND NOT fn AND NOT fc THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_only, " +
        "CAST(sum(CASE WHEN NOT fq THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_cum FROM f " +
        "UNION ALL SELECT 2, 'exact_dup', " +
        "CAST(sum(CASE WHEN fx THEN 1 ELSE 0 END) AS BIGINT), " +
        "CAST(sum(CASE WHEN fx AND NOT fq AND NOT fn AND NOT fc THEN 1 ELSE 0 END) AS BIGINT), " +
        "CAST(sum(CASE WHEN NOT fq AND NOT fx THEN 1 ELSE 0 END) AS BIGINT) FROM f " +
        "UNION ALL SELECT 3, 'near_dup', " +
        "CAST(sum(CASE WHEN fn THEN 1 ELSE 0 END) AS BIGINT), " +
        "CAST(sum(CASE WHEN fn AND NOT fq AND NOT fx AND NOT fc THEN 1 ELSE 0 END) AS BIGINT), " +
        "CAST(sum(CASE WHEN NOT fq AND NOT fx AND NOT fn THEN 1 ELSE 0 END) AS BIGINT) FROM f " +
        "UNION ALL SELECT 4, 'contamination', " +
        "CAST(sum(CASE WHEN fc THEN 1 ELSE 0 END) AS BIGINT), " +
        "CAST(sum(CASE WHEN fc AND NOT fq AND NOT fx AND NOT fn THEN 1 ELSE 0 END) AS BIGINT), " +
        "CAST(sum(CASE WHEN NOT fq AND NOT fx AND NOT fn AND NOT fc THEN 1 ELSE 0 END) AS BIGINT) FROM f" +
        ") u ORDER BY stage")
  )

  /** Deterministic ~10% sample by md5 hex-prefix of the row key —
    * reproducible across engines and runs (vs rand()). */
  private val sampleDet = QDef(
    "sample_det",
    (s, d) => graft.functions.Sampling.hashSample(
      lineitem(s, d),
      concat(col("l_orderkey").cast("string"), lit("_"),
        col("l_linenumber").cast("string")),
      hexThreshold = "1a")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber")),
    Some("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
      "WHERE substring(md5(CAST(l_orderkey AS VARCHAR) || '_' || " +
      "CAST(l_linenumber AS VARCHAR)), 1, 2) < '1a' " +
      "ORDER BY l_orderkey, l_linenumber")
  )

  /** Deterministic per-group bottom-k-by-md5 sample — the custom
    * TypedImperativeAggregate ([[graft.plans.BottomKByHash]]). A pure
    * function of the value set (partition- and engine-invariant), so the
    * DuckDB oracle reproduces it exactly via a row_number over md5. */
  private val sampleBottomK = QDef(
    "sample_bottomk",
    (s, d) => lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(graft.plans.BottomKByHash
        .bottomK(col("l_orderkey").cast("string"), 8).as("sample"))
      .select(col("l_returnflag"),
        posexplode(col("sample")).as(Seq("pos", "okey")))
      .orderBy(col("l_returnflag"), col("pos")),
    Some("WITH d AS (SELECT DISTINCT l_returnflag, " +
      "CAST(l_orderkey AS VARCHAR) AS okey FROM lineitem), " +
      "r AS (SELECT l_returnflag, okey, row_number() OVER " +
      "(PARTITION BY l_returnflag ORDER BY md5(okey)) - 1 AS pos FROM d) " +
      "SELECT l_returnflag, CAST(pos AS INT) AS pos, okey FROM r " +
      "WHERE pos < 8 ORDER BY l_returnflag, pos")
  )

  /** Histogram: 10k-wide price bins (floor of one IEEE divide —
    * deterministic binning both engines). */
  private val histogramQ = QDef(
    "histogram",
    (s, d) => lineitem(s, d)
      .groupBy(floor(col("l_extendedprice") / 10000.0).as("bin"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bin")),
    Some("SELECT CAST(floor(l_extendedprice / 10000.0) AS BIGINT) AS bin, " +
      "CAST(count(*) AS BIGINT) AS n FROM lineitem GROUP BY 1 ORDER BY bin")
  )

  // ------------------------------------------------ packing & splitting

  /** Sequence packing layout over documents: each doc's global stream
    * offset and starting bin ([[graft.functions.Packing.packSequences]] —
    * the distributed two-pass cumsum). The oracle is the sequential
    * definition: a plain global-window running sum. Integer arithmetic
    * end-to-end, so the distributed layout hash-matches it exactly. */
  private val packSeq = QDef(
    "pack_sequences",
    (s, d) => graft.functions.Packing.packSequences(
        documents(s, d).select(col("doc_id"), col("n_chars")),
        orderKey = col("doc_id"), tokenCount = col("n_chars"),
        budget = 4096L)
      .select(col("doc_id"), col("n_tokens"), col("stream_offset"),
        col("bin"))
      .orderBy(col("doc_id")),
    Some("WITH s AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_tokens, " +
      "CAST(coalesce(sum(n_chars) OVER (ORDER BY doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) " +
      "AS stream_offset FROM documents) " +
      "SELECT doc_id, n_tokens, stream_offset, " +
      "stream_offset // 4096 AS bin FROM s ORDER BY doc_id")
  )

  /** Bin-level packing stats ([[graft.functions.Packing.binStats]]):
    * docs per bin, tokens starting in it, boundary-spanning docs. */
  private val packBins = QDef(
    "pack_binstats",
    (s, d) => graft.functions.Packing.binStats(
        graft.functions.Packing.packSequences(
          documents(s, d).select(col("doc_id"), col("n_chars")),
          col("doc_id"), col("n_chars"), budget = 4096L),
        budget = 4096L)
      .orderBy(col("bin")),
    Some("WITH s AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_tokens, " +
      "CAST(coalesce(sum(n_chars) OVER (ORDER BY doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) " +
      "AS stream_offset FROM documents), " +
      "p AS (SELECT n_tokens, stream_offset, " +
      "stream_offset // 4096 AS bin FROM s) " +
      "SELECT bin, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(n_tokens) AS BIGINT) AS n_tokens_starting, " +
      "CAST(sum(CASE WHEN stream_offset + n_tokens > (bin + 1) * 4096 " +
      "THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning " +
      "FROM p GROUP BY bin ORDER BY bin")
  )

  /** Vocabulary encode ([[graft.functions.Text.tokensToIds]]): documents
    * as (doc_id, pos, token_id) against the frequency-ranked top-100
    * vocab, OOV = -1. Long format keeps the oracle compare scalar; the
    * array layout is [[graft.functions.Text.tokenIdArrays]] (unit). */
  private val tokenIdsQ = QDef(
    "token_ids",
    (s, d) => Text.tokensToIds(documents(s, d), vocabSize = 100)
      .orderBy(col("doc_id"), col("pos")),
    Some(
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "stream AS (SELECT doc_id, unnest(range(1, len(toks)+1)) AS pos, " +
        "unnest(toks) AS token FROM tok), " +
        "v AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM stream GROUP BY 1), " +
        "vid AS (SELECT token, row_number() OVER (ORDER BY n DESC, token) - 1 AS tid FROM v), " +
        "vk AS (SELECT token, CAST(tid AS INT) AS tid FROM vid WHERE tid < 100) " +
        "SELECT s.doc_id, CAST(s.pos AS INT) AS pos, " +
        "coalesce(vk.tid, -1) AS token_id " +
        "FROM stream s LEFT JOIN vk USING (token) ORDER BY doc_id, pos")
    )
  )

  /** Temperature-flattened source mix ([[graft.functions.Sampling
    * .temperatureMix]]): kept rows ∝ sqrt(source size) — keep RATE
    * ∝ 1/sqrt(source size), largest source keeps 50%, smaller sources
    * keep proportionally more (clamped at keep-all). sqrt is IEEE
    * exactly-rounded, so the per-row keep decision hash-matches DuckDB
    * bit-for-bit. */
  private val temperatureMixQ = QDef(
    "temperature_mix",
    (s, d) => graft.functions.Sampling.temperatureMix(
        documents(s, d).select(col("doc_id"), col("source")),
        stratum = col("source"), key = col("doc_id").cast("string"))
      .orderBy(col("doc_id")),
    Some(
      ("WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n " +
        "FROM documents GROUP BY 1), " +
        "m AS (SELECT max(n) AS maxn FROM c), " +
        "r AS (SELECT source, 0.5 * sqrt(CAST(maxn AS DOUBLE)) / sqrt(CAST(n AS DOUBLE)) AS rate " +
        "FROM c CROSS JOIN m) " +
        "SELECT doc_id, d.source FROM documents d JOIN r USING (source) " +
        "WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < " +
        "CASE WHEN rate >= 1.0 THEN 'zzzzz' WHEN rate <= 0.0 THEN '0000' " +
        "ELSE printf('%04x', CAST(floor(rate * 65536) AS INT)) END " +
        "ORDER BY doc_id")
    )
  )

  /** Categorical concentration monitor ([[graft.functions.Profile
    * .giniProfile]]): per-column Gini impurity (the log-free entropy
    * stand-in — exact decimal power sums, one IEEE division) for the
    * corpus's categorical axes. */
  private val giniProfileQ = QDef(
    "gini_profile",
    (s, d) => graft.functions.Profile
      .giniProfile(documents(s, d), Seq("lang", "source"))
      .orderBy(col("column_name")),
    Some(Seq("lang", "source").map { c =>
      s"SELECT '$c' AS column_name, CAST(count(*) AS BIGINT) AS n_distinct, " +
        s"CAST(sum(c) AS BIGINT) AS n_rows, " +
        s"CAST(1 AS DOUBLE) - CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) / " +
        s"CAST(CAST(sum(c) AS HUGEINT) * sum(c) AS DOUBLE) AS gini " +
        s"FROM (SELECT $c AS v, count(*) AS c FROM documents GROUP BY 1)"
    }.mkString("", " UNION ALL ", " ORDER BY column_name"))
  )

  /** Int8 embedding quantization ([[graft.functions.Normalize
    * .quantizeInt8]]): symmetric per-vector scale, round-half-up via
    * floor(+0.5) so both engines agree bit-for-bit; zero shuffle. */
  private val embedQuantizeQ = QDef(
    "embed_quantize",
    // registered exploded (vec_id, pos, q_elem, scale): the oracle compare
    // sorts rows by every column, so array-valued outputs are unsortable —
    // the library op keeps the array shape.
    (s, d) => graft.functions.Normalize
      .quantizeInt8(embeddings(s, d), "vec_id", "embedding")
      .select(col("vec_id"), posexplode(col("q")), col("scale"))
      .select(col("vec_id"), (col("pos") + 1).as("pos"),
        col("col").as("q_elem"), col("scale"))
      .orderBy(col("vec_id"), col("pos")),
    Some("WITH m AS (SELECT vec_id, embedding, " +
      "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma " +
      "FROM embeddings), " +
      "sc AS (SELECT vec_id, embedding, " +
      "CASE WHEN ma > 0 THEN CAST(127 AS DOUBLE) / ma ELSE CAST(0 AS DOUBLE) END AS scale " +
      "FROM m) " +
      "SELECT vec_id, CAST(unnest(range(1, len(embedding)+1)) AS INT) AS pos, " +
      "unnest(list_transform(embedding, " +
      "x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS INTEGER))) AS q_elem, " +
      "scale FROM sc ORDER BY vec_id, pos")
  )

  /** Per-column table profile ([[graft.functions.Profile.profile]]):
    * nulls / exact distinct / min / max per column in one pass, reshaped
    * from a single aggregate row (bounded driver state: n_cols·4). */
  private val profileQ = QDef(
    "profile_table",
    (s, d) => graft.functions.Profile.profile(documents(s, d)),
    Some(Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
      s"SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows, " +
        s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, " +
        s"CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct, " +
        s"CAST(min($c) AS VARCHAR) AS min_str, " +
        s"CAST(max($c) AS VARCHAR) AS max_str FROM documents"
    }.mkString("", " UNION ALL ", " ORDER BY col_name"))
  )

  /** Distribution-drift cells ([[graft.functions.Profile.categoryDrift]]):
    * chi-square contingency terms of lang × source. Terms stay per-cell
    * (no float reduction), so every double is one fixed IEEE expression
    * over exact counts — hash-stable across engines. */
  private val driftQ = QDef(
    "drift_cells",
    (s, d) => graft.functions.Profile.categoryDrift(
      documents(s, d), sliceCol = "source", catCol = "lang"),
    Some(
      ("WITH c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_obs " +
        "FROM documents GROUP BY 1, 2), " +
        "st AS (SELECT source, CAST(sum(n_obs) AS BIGINT) AS _st FROM c GROUP BY 1), " +
        "ct AS (SELECT lang, CAST(sum(n_obs) AS BIGINT) AS _ct FROM c GROUP BY 1), " +
        "n AS (SELECT CAST(sum(n_obs) AS BIGINT) AS _n FROM c) " +
        "SELECT source, lang, n_obs, " +
        "CAST(_st AS DOUBLE) * _ct / _n AS expected, " +
        "(n_obs - (CAST(_st AS DOUBLE) * _ct / _n)) * " +
        "(n_obs - (CAST(_st AS DOUBLE) * _ct / _n)) / " +
        "(CAST(_st AS DOUBLE) * _ct / _n) AS chi2_term " +
        "FROM c JOIN st USING (source) JOIN ct USING (lang) CROSS JOIN n " +
        "ORDER BY source, lang")
    )
  )

  /** Materialized training bins ([[graft.functions.Packing.binTexts]]):
    * each 4096-token bin's doc count and stream-order concatenated text.
    * DuckDB mirrors the deterministic concatenation with
    * `string_agg(... ORDER BY doc_id)`. */
  private val packTexts = QDef(
    "pack_bintexts",
    (s, d) => graft.functions.Packing.binTexts(
        graft.functions.Packing.packSequences(
          documents(s, d).select(col("doc_id"), col("text"), col("n_chars")),
          col("doc_id"), col("n_chars"), budget = 4096L),
        keyCol = "doc_id", textCol = "text")
      .orderBy(col("bin")),
    Some("WITH s AS (SELECT doc_id, text, " +
      "CAST(coalesce(sum(n_chars) OVER (ORDER BY doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) " +
      "AS stream_offset FROM documents) " +
      "SELECT stream_offset // 4096 AS bin, " +
      "CAST(count(*) AS BIGINT) AS n_docs, " +
      "string_agg(text, ' ' ORDER BY doc_id) AS bin_text " +
      "FROM s GROUP BY 1 ORDER BY bin")
  )

  /** Per-group winsorization ([[graft.functions.Quantiles.winsorize]]):
    * event values clamped into their event-type's [p05, p95]. */
  private val winsorizeQ = QDef(
    "winsorize",
    (s, d) => graft.functions.Quantiles.winsorize(
        events(s, d).select(col("event_id"), col("event_type"), col("value")),
        keyCol = "event_type", valCol = "value")
      .orderBy(col("event_id")),
    Some("WITH b AS (SELECT event_type, " +
      "quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi " +
      "FROM events GROUP BY 1) " +
      "SELECT event_type, event_id, value, " +
      "least(greatest(value, lo), hi) AS value_w " +
      "FROM events JOIN b USING (event_type) ORDER BY event_id")
  )

  /** Balanced per-stratum cap ([[graft.functions.Sampling
    * .stratifiedSample]]): ≤10 docs per language by md5 order of the row
    * key — deterministic, so DuckDB reproduces the exact row set. */
  private val sampleStrat = QDef(
    "sample_stratified",
    (s, d) => graft.functions.Sampling.stratifiedSample(
        documents(s, d).select(col("doc_id"), col("lang")),
        stratum = col("lang"), key = col("doc_id").cast("string"), n = 10)
      .orderBy(col("lang"), col("doc_id")),
    Some("WITH r AS (SELECT doc_id, lang, row_number() OVER " +
      "(PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), " +
      "CAST(doc_id AS VARCHAR)) AS rn FROM documents) " +
      "SELECT doc_id, lang FROM r WHERE rn <= 10 ORDER BY lang, doc_id")
  )

  /** Hash-deterministic train/test split ([[graft.functions.Sampling
    * .trainTestSplit]]), verified by split counts: membership is a pure
    * function of the key, so both engines agree row-for-row. */
  private val splitTT = QDef(
    "split_traintest",
    (s, d) => graft.functions.Sampling.trainTestSplit(
        lineitem(s, d),
        concat(col("l_orderkey").cast("string"), lit("_"),
          col("l_linenumber").cast("string")))
      .groupBy(col("split")).agg(count(lit(1)).as("n"))
      .orderBy(col("split")),
    Some("SELECT CASE WHEN substring(md5(CAST(l_orderkey AS VARCHAR) " +
      "|| '_' || CAST(l_linenumber AS VARCHAR)), 1, 2) < '1a' " +
      "THEN 'test' ELSE 'train' END AS split, " +
      "CAST(count(*) AS BIGINT) AS n FROM lineitem " +
      "GROUP BY 1 ORDER BY split")
  )

  // ---------------------------------------------------------- multimodal
  // Media tables aren't in the driver testdata, so each query generates its
  // corpus DETERMINISTICALLY in-query (real PNG/WAV/GVID bytes) and outputs
  // only STRUCTURAL fields — ids, dims, indices, timestamps, counts — that
  // are pure arithmetic for any other engine. The oracle reproduces them
  // with range() math: a decode failure anywhere in the real codec path
  // yields -1 dims / decoded=false and a hash mismatch.

  /** REAL JDK PNG decode: asset i is a (32+i%64)×(32+i%48) noise PNG;
    * the decoded dims must round-trip the encode. */
  private val mediaDecode = QDef(
    "media_decode",
    (s, _) => graft.functions.Multimodal.decodeInfo(
      graft.functions.Multimodal.syntheticMedia(s, 64))
      .toDF().orderBy(col("asset_id")),
    Some("SELECT i AS asset_id, CAST(32 + i % 64 AS INT) AS width, " +
      "CAST(32 + i % 48 AS INT) AS height, TRUE AS decoded " +
      "FROM range(0, 64) t(i) ORDER BY asset_id")
  )

  /** REAL resize through the full codec path: synthetic PNGs → bilinear
    * rescale to 16×16 → PNG re-encode → re-decode. The oracle pins the
    * closed-form post-resize dimensions; pixel-level resize fidelity is
    * covered in `MultimodalSpec` (not SQL-expressible). */
  private val mediaResize = QDef(
    "media_resize",
    (s, _) => graft.functions.Multimodal.decodeInfo(
      graft.functions.Multimodal.resize(
        graft.functions.Multimodal.syntheticMedia(s, 64), 16, 16))
      .toDF().orderBy(col("asset_id")),
    Some("SELECT i AS asset_id, CAST(16 AS INT) AS width, " +
      "CAST(16 AS INT) AS height, TRUE AS decoded " +
      "FROM range(0, 64) t(i) ORDER BY asset_id")
  )

  /** REAL GVID demux + per-frame PNG decode: 12 videos × 24 frames at
    * fps 12, sampled every 5th frame → indices {0,5,10,15,20}, timestamps
    * idx/12, per-asset frame dims — all arithmetic. */
  private val videoFrames = QDef(
    "video_frames",
    (s, _) => graft.functions.Multimodal.videoFrameInfo(
      graft.functions.Multimodal.syntheticVideo(s, 12), everyN = 5)
      .toDF()
      .select(col("asset_id"), col("frame_idx"), round(col("ts_s"), 6).as("ts_s"),
        col("frame_w"), col("frame_h"), col("decoded"))
      .orderBy(col("asset_id"), col("frame_idx")),
    Some("SELECT a.i AS asset_id, CAST(f.j AS INT) AS frame_idx, " +
      "round(f.j / 12.0, 6) AS ts_s, " +
      "CAST(24 + a.i % 16 AS INT) AS frame_w, " +
      "CAST(16 + a.i % 12 AS INT) AS frame_h, TRUE AS decoded " +
      "FROM range(0, 12) a(i), range(0, 24) f(j) WHERE f.j % 5 = 0 " +
      "ORDER BY asset_id, frame_idx")
  )

  /** REAL JDK WAV decode: 0.1 s of 16-bit mono PCM at 8 kHz per asset →
    * 800 frames, 0.1 s duration; the PCM-derived RMS of a 0.5-amplitude
    * sine must land within 0.01 of 0.5/√2 (a bounds check, like
    * approx_agg_bounds — exact RMS would pin cross-engine libm sin). */
  private val audioDecode = QDef(
    "audio_decode",
    (s, _) => graft.functions.Multimodal.decodeAudioInfo(
      graft.functions.Multimodal.syntheticAudio(s, 32))
      .toDF()
      .select(col("asset_id"), col("sample_rate"), col("channels"),
        col("n_frames"), round(col("duration_s"), 6).as("duration_s"),
        (abs(col("rms") - lit(0.5 / math.sqrt(2.0))) < 0.01).as("rms_ok"),
        col("decoded"))
      .orderBy(col("asset_id")),
    Some("SELECT i AS asset_id, CAST(8000 AS INT) AS sample_rate, " +
      "CAST(1 AS INT) AS channels, CAST(800 AS BIGINT) AS n_frames, " +
      "round(CAST(0.1 AS DOUBLE), 6) AS duration_s, " +
      "TRUE AS rms_ok, TRUE AS decoded " +
      "FROM range(0, 32) t(i) ORDER BY asset_id")
  )

  /** Perceptual-hash image near-dup ([[graft.functions.Multimodal
    * .phashPairs]]): 64 real PNGs where assets 32..63 are assets 0..31
    * brightness-shifted (+17/channel, no clipping). The integer-exact
    * aHash is invariant under the shift, so the Hamming-banded join must
    * recover EXACTLY the planted (i, i+32) twins at distance 0 — through
    * the full codec path (render → PNG encode → decode → hash → band →
    * verify). Unrelated noise images sit ~32 bits apart, far outside
    * maxHamming=2. */
  private val mediaPhashDedup = QDef(
    "media_phash_dedup",
    (s, _) => graft.functions.Multimodal.phashPairs(
        graft.functions.Multimodal.syntheticMediaDups(s, 32), maxHamming = 2)
      .orderBy(col("id_a"), col("id_b")),
    Some("SELECT i AS id_a, i + 32 AS id_b, CAST(0 AS INT) AS hamming " +
      "FROM range(0, 32) t(i) ORDER BY id_a")
  )

  // ------------------------------------------- semdedup / chunking / search

  /** SemDedup ([[graft.functions.SemDedup.semanticDupPairs]]): k-means-cell
    * pairwise dedup on the same planted-duplicate corpus as `dedup_embed` —
    * the two approximate embedding-dedup paths (sign-LSH vs clustered) are
    * hash-checked against ONE exact brute-force oracle. The oracle is exact
    * here because planted pairs are identical vectors (cell assignment is a
    * pure function of the vector, so both copies land in the same cell) and
    * the base corpus has no ≥0.95 pair (measured: zero ≥0.93 at sf0.01). */
  private val semdedupPairs = QDef(
    "semdedup_pairs",
    (s, d) => {
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val planted = e.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      graft.functions.SemDedup.semanticDupPairs(e.union(planted),
        "vec_id", "embedding", threshold = 0.95, nCells = 16)
    },
    Some(
      ("WITH corpus AS (" +
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings " +
        "UNION ALL SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]) " +
        "FROM embeddings WHERE vec_id < 20), " +
        s"p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        s"${cosSql("a.v", "b.v")} AS sim " +
        "FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id) " +
        "SELECT id_a, id_b, round(sim, 6) AS sim FROM p WHERE sim >= 0.95 " +
        "ORDER BY id_a, id_b")
    )
  )

  /** SemDedup survivors ([[graft.functions.SemDedup.semanticSurvivors]]):
    * the planted corpus with every within-cell duplicate collapsed to its
    * smallest id. On this corpus the cell-pruned pair set equals brute
    * force (see `semdedup_pairs`), so the survivor set is exactly "all
    * ids minus the higher side of each brute-force pair" — fully
    * oracle-checkable. */
  private val semdedupCollapse = QDef(
    "semdedup_collapse",
    (s, d) => {
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val planted = e.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      graft.functions.SemDedup.semanticSurvivors(e.union(planted),
        "vec_id", "embedding", threshold = 0.95, nCells = 16)
        .select(col("vec_id"))
        .orderBy(col("vec_id"))
    },
    Some(
      ("WITH corpus AS (" +
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings " +
        "UNION ALL SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]) " +
        "FROM embeddings WHERE vec_id < 20), " +
        s"p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        s"${cosSql("a.v", "b.v")} AS sim " +
        "FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id) " +
        "SELECT vec_id FROM corpus WHERE vec_id NOT IN " +
        "(SELECT DISTINCT id_b FROM p WHERE sim >= 0.95) ORDER BY vec_id")
    )
  )

  /** Context-window chunking ([[graft.functions.Text.chunkDocs]]):
    * 32-token windows, stride 24 (8-token overlap). Chunk layout is pure
    * integer arithmetic, so DuckDB reproduces it exactly — including the
    * short final window (list_slice and Spark's slice both clamp). */
  private val chunkDocsQ = QDef(
    "chunk_docs",
    (s, d) => Text.chunkDocs(documents(s, d), sizeTokens = 32, strideTokens = 24)
      .orderBy(col("doc_id"), col("chunk_id")),
    Some(
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "n AS (SELECT doc_id, toks, CASE WHEN len(toks) <= 32 THEN 1 " +
        "ELSE ((len(toks) - 32 + 23) // 24) + 1 END AS n_chunks FROM t), " +
        "c AS (SELECT doc_id, toks, " +
        "unnest(generate_series(0, n_chunks - 1)) AS chunk_id FROM n) " +
        "SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id, " +
        "array_to_string(list_slice(toks, chunk_id*24 + 1, chunk_id*24 + 32), ' ') AS chunk_text, " +
        "CAST(len(list_slice(toks, chunk_id*24 + 1, chunk_id*24 + 32)) AS INT) AS n_chunk_tokens " +
        "FROM c ORDER BY doc_id, chunk_id")
    )
  )

  /** Ordered funnel ([[graft.operators.Funnel.funnel]]): per user, the
    * earliest view → first later click → first later purchase; stages
    * never reached stay null (and `ts > null` keeps later stages null
    * without special-casing — mirrored by SQL CASE semantics). */
  private val funnelQ = QDef(
    "funnel_conv",
    (s, d) => graft.operators.Funnel.funnel(
      events(s, d), Seq("view", "click", "purchase")),
    Some(
      ("WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events), " +
        "s0 AS (SELECT user_id, min(ts) AS ts_view FROM e WHERE event_type = 'view' GROUP BY 1), " +
        "s1 AS (SELECT s0.user_id, ts_view, " +
        "min(CASE WHEN e.ts > ts_view THEN e.ts END) AS ts_click " +
        "FROM s0 LEFT JOIN e ON e.user_id = s0.user_id AND e.event_type = 'click' " +
        "GROUP BY 1, 2), " +
        "s2 AS (SELECT s1.user_id, ts_view, ts_click, " +
        "min(CASE WHEN e.ts > ts_click THEN e.ts END) AS ts_purchase " +
        "FROM s1 LEFT JOIN e ON e.user_id = s1.user_id AND e.event_type = 'purchase' " +
        "GROUP BY 1, 2, 3) " +
        "SELECT user_id, ts_view, ts_click, ts_purchase FROM s2 ORDER BY user_id")
    )
  )

  /** Funnel conversion-lag stats ([[graft.operators.Funnel.funnelLag]]):
    * per adjacent stage pair, converter count + avg/max lag seconds from
    * one global aggregate over the funnel table. Exact microsecond sums;
    * the two final divides are written as the identical expression tree
    * in both engines. */
  private val funnelLagQ = QDef(
    "funnel_lag",
    (s, d) => graft.operators.Funnel.funnelLag(
        events(s, d), Seq("view", "click", "purchase"))
      .orderBy(col("stage_from"), col("stage_to")),
    Some(
      ("WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events), " +
        "s0 AS (SELECT user_id, min(ts) AS ts_view FROM e WHERE event_type = 'view' GROUP BY 1), " +
        "s1 AS (SELECT s0.user_id, ts_view, " +
        "min(CASE WHEN e.ts > ts_view THEN e.ts END) AS ts_click " +
        "FROM s0 LEFT JOIN e ON e.user_id = s0.user_id AND e.event_type = 'click' " +
        "GROUP BY 1, 2), " +
        "s2 AS (SELECT s1.user_id, ts_view, ts_click, " +
        "min(CASE WHEN e.ts > ts_click THEN e.ts END) AS ts_purchase " +
        "FROM s1 LEFT JOIN e ON e.user_id = s1.user_id AND e.event_type = 'purchase' " +
        "GROUP BY 1, 2, 3) " +
        "SELECT * FROM (" +
        "SELECT 'view' AS stage_from, 'click' AS stage_to, " +
        "CAST(count(CASE WHEN ts_click IS NOT NULL THEN 1 END) AS BIGINT) AS n_converted, " +
        "CAST(sum(CASE WHEN ts_click IS NOT NULL THEN epoch_us(ts_click) - epoch_us(ts_view) END) AS DOUBLE) " +
        "/ CAST(count(CASE WHEN ts_click IS NOT NULL THEN 1 END) AS DOUBLE) / 1000000.0 AS avg_lag_sec, " +
        "CAST(max(CASE WHEN ts_click IS NOT NULL THEN epoch_us(ts_click) - epoch_us(ts_view) END) AS DOUBLE) " +
        "/ 1000000.0 AS max_lag_sec FROM s2 " +
        "UNION ALL " +
        "SELECT 'click' AS stage_from, 'purchase' AS stage_to, " +
        "CAST(count(CASE WHEN ts_purchase IS NOT NULL THEN 1 END) AS BIGINT) AS n_converted, " +
        "CAST(sum(CASE WHEN ts_purchase IS NOT NULL THEN epoch_us(ts_purchase) - epoch_us(ts_click) END) AS DOUBLE) " +
        "/ CAST(count(CASE WHEN ts_purchase IS NOT NULL THEN 1 END) AS DOUBLE) / 1000000.0 AS avg_lag_sec, " +
        "CAST(max(CASE WHEN ts_purchase IS NOT NULL THEN epoch_us(ts_purchase) - epoch_us(ts_click) END) AS DOUBLE) " +
        "/ 1000000.0 AS max_lag_sec FROM s2" +
        ") ORDER BY stage_from, stage_to")
    )
  )

  /** Retention cohorts ([[graft.operators.Funnel.retentionCohorts]]):
    * first-seen week × week offset × distinct active users — integer
    * epoch-week arithmetic in both engines. */
  private val retentionQ = QDef(
    "retention_cohorts",
    (s, d) => graft.operators.Funnel.retentionCohorts(events(s, d)),
    Some(
      ("WITH a AS (SELECT DISTINCT user_id, " +
        "epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS week FROM events), " +
        "c AS (SELECT user_id, min(week) AS cohort_week FROM a GROUP BY 1) " +
        "SELECT cohort_week, week - cohort_week AS week_offset, " +
        "CAST(count(*) AS BIGINT) AS n_users " +
        "FROM a JOIN c USING (user_id) GROUP BY 1, 2 " +
        "ORDER BY cohort_week, week_offset")
    )
  )

  /** Gap-filled hourly resample ([[graft.operators.Resample.resampleLocf]])
    * over the first 100 users: every hour from each user's first to last
    * occupied bucket, with LOCF value fill. The fill carries stored
    * doubles verbatim (no arithmetic), so both engines agree
    * bit-for-bit; DuckDB's time_bucket and the engine's epoch-aligned
    * integer bucketing coincide for hour buckets. */
  private val resampleQ = QDef(
    "resample_locf",
    (s, d) => graft.operators.Resample.resampleLocf(
        events(s, d).filter(col("user_id") < 100), bucketMinutes = 60)
      .orderBy(col("user_id"), col("bucket")),
    Some(
      ("WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value " +
        "FROM events WHERE user_id < 100), " +
        "b AS (SELECT user_id, time_bucket(INTERVAL '60 minutes', ts) AS bucket, " +
        "ts, event_id, value FROM e), " +
        "lastv AS (SELECT user_id, bucket, value FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY user_id, bucket " +
        "ORDER BY ts DESC, event_id DESC) AS rn FROM b) WHERE rn = 1), " +
        "cnt AS (SELECT user_id, bucket, CAST(count(*) AS BIGINT) AS n_obs " +
        "FROM b GROUP BY 1, 2), " +
        "span AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 " +
        "FROM b GROUP BY 1), " +
        "grid AS (SELECT user_id, unnest(generate_series(b0, b1, " +
        "INTERVAL '60 minutes')) AS bucket FROM span) " +
        "SELECT g.user_id, g.bucket, coalesce(c.n_obs, 0) AS n_obs, " +
        "last_value(l.value IGNORE NULLS) OVER (PARTITION BY g.user_id " +
        "ORDER BY g.bucket ROWS UNBOUNDED PRECEDING) AS value_locf " +
        "FROM grid g LEFT JOIN lastv l USING (user_id, bucket) " +
        "LEFT JOIN cnt c USING (user_id, bucket) " +
        "ORDER BY user_id, bucket")
    )
  )

  /** Linear-interpolation resample ([[graft.operators.Resample
    * .resampleInterp]]): gap buckets get the IEEE-exact linear blend of
    * the bracketing occupied buckets; occupied buckets keep their own
    * value. Same grid/bucketing as `resample_locf`; the oracle replicates
    * the identical operation order so doubles hash-match bit-for-bit. */
  private val resampleInterpQ = QDef(
    "resample_interp",
    (s, d) => graft.operators.Resample.resampleInterp(
        events(s, d).filter(col("user_id") < 100), bucketMinutes = 60)
      .orderBy(col("user_id"), col("bucket")),
    Some(
      ("WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value " +
        "FROM events WHERE user_id < 100), " +
        "b AS (SELECT user_id, time_bucket(INTERVAL '60 minutes', ts) AS bucket, " +
        "ts, event_id, value FROM e), " +
        "lastv AS (SELECT user_id, bucket, value FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY user_id, bucket " +
        "ORDER BY ts DESC, event_id DESC) AS rn FROM b) WHERE rn = 1), " +
        "cnt AS (SELECT user_id, bucket, CAST(count(*) AS BIGINT) AS n_obs " +
        "FROM b GROUP BY 1, 2), " +
        "span AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 " +
        "FROM b GROUP BY 1), " +
        "grid AS (SELECT user_id, unnest(generate_series(b0, b1, " +
        "INTERVAL '60 minutes')) AS bucket FROM span), " +
        "f AS (SELECT g.user_id, g.bucket, coalesce(c.n_obs, 0) AS n_obs, " +
        "last_value(l.value IGNORE NULLS) OVER w_f AS pv, " +
        "last_value(CASE WHEN l.value IS NOT NULL THEN g.bucket END IGNORE NULLS) " +
        "OVER w_f AS pb, " +
        "first_value(l.value IGNORE NULLS) OVER w_b AS nv, " +
        "first_value(CASE WHEN l.value IS NOT NULL THEN g.bucket END IGNORE NULLS) " +
        "OVER w_b AS nb " +
        "FROM grid g LEFT JOIN lastv l USING (user_id, bucket) " +
        "LEFT JOIN cnt c USING (user_id, bucket) " +
        "WINDOW w_f AS (PARTITION BY g.user_id ORDER BY g.bucket " +
        "ROWS UNBOUNDED PRECEDING), " +
        "w_b AS (PARTITION BY g.user_id ORDER BY g.bucket " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) " +
        "SELECT user_id, bucket, n_obs, " +
        "CASE WHEN nb = pb THEN pv ELSE pv + (nv - pv) * " +
        "(CAST(epoch_us(bucket) - epoch_us(pb) AS DOUBLE) / " +
        "CAST(epoch_us(nb) - epoch_us(pb) AS DOUBLE)) END AS value_interp " +
        "FROM f ORDER BY user_id, bucket")
    )
  )

  /** Quality-weighted Bernoulli sample ([[graft.functions.Sampling
    * .weightedSample]]): keep probability ∝ doc length (n_chars/600,
    * clamped) — per-row continuous rates, hex-threshold determinism, no
    * transcendentals. */
  private val weightedSampleQ = QDef(
    "weighted_sample",
    (s, d) => graft.functions.Sampling.weightedSample(
        documents(s, d).select(col("doc_id"), col("n_chars")),
        key = col("doc_id").cast("string"),
        rate01 = least(col("n_chars") / 600.0, lit(1.0)))
      .orderBy(col("doc_id")),
    Some(
      ("SELECT doc_id, n_chars FROM documents " +
        "WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < " +
        "CASE WHEN n_chars / 600.0 >= 1.0 THEN 'zzzzz' " +
        "WHEN n_chars / 600.0 <= 0.0 THEN '0000' " +
        "ELSE printf('%04x', CAST(floor(n_chars / 600.0 * 65536) AS INT)) END " +
        "ORDER BY doc_id")
    )
  )

  /** Gopher quality rules ([[graft.functions.Text.gopherRules]]): per-rule
    * booleans + verdict. Ratios are single IEEE divides of exact integer
    * counts, so the doubles (and the booleans derived from them)
    * hash-match across engines. */
  private val gopherRulesQ = QDef(
    "gopher_rules",
    (s, d) => Text.gopherRules(documents(s, d)).orderBy(col("doc_id")),
    Some {
      val stopList = Text.stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "m AS (SELECT doc_id, len(toks) AS n, " +
        "CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) AS mean_token_len, " +
        "CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(toks) AS alpha_frac, " +
        s"len(list_filter($stopList, s -> list_contains(toks, s))) AS n_stop_hits FROM t) " +
        "SELECT doc_id, CAST(n AS INT) AS n_tokens, mean_token_len, alpha_frac, " +
        "CAST(n_stop_hits AS INT) AS n_stop_hits, " +
        "n >= 15 AND n <= 150 AS ok_len, " +
        "mean_token_len >= 3.0 AND mean_token_len <= 10.0 AS ok_mean_len, " +
        "alpha_frac >= 0.8 AS ok_alpha, " +
        "n_stop_hits >= 2 AS ok_stop, " +
        "(n >= 15 AND n <= 150) AND (mean_token_len >= 3.0 AND mean_token_len <= 10.0) " +
        "AND alpha_frac >= 0.8 AND n_stop_hits >= 2 AS pass " +
        "FROM m ORDER BY doc_id")
    }
  )

  /** Deterministic high-entropy planted doc for `compression_quality`: a
    * SHA-256 hex chain (16 symbols/char ≈ 4 bits/byte of entropy, so
    * DEFLATE lands ≈0.58 — measurably above natural prose's ≈0.49 median
    * yet below the in-range ceiling). Driver-built literal, no RNG. */
  private def hexNoiseDoc(blocks: Int): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val sb = new StringBuilder
    var x = "seed".getBytes("UTF-8")
    (0 until blocks).foreach { _ =>
      x = md.digest(x)
      sb.append(x.map("%02x".format(_)).mkString)
    }
    sb.toString
  }

  /** Compression-ratio quality signal ([[graft.functions.Text
    * .compressionRatio]], codegen'd [[graft.plans.DeflateLen]] kernel):
    * the RefinedWeb/Dolma-style spam/noise heuristic. DEFLATE lengths are
    * zlib-native (not SQL-expressible in DuckDB), so — the
    * `dedup_simhash_bounds` pattern — the oracle asserts corpus-level
    * booleans the plan computes over the REAL documents plus two planted
    * sentinels: a hyper-repetitive doc must compress below 0.05 and below
    * every natural doc; a planted hex-noise doc must sit above the
    * natural median; every ratio lands in (0, 1.5]. Per-doc exactness of
    * the kernel itself is pinned JVM-vs-JVM in DeflateLenSpec. */
  private val compressionQualityQ = QDef(
    "compression_quality",
    (s, d) => {
      import s.implicits._
      val planted = Seq(
        (-1L, Seq.fill(400)("lorem ipsum dolor").mkString(" ")),
        (-2L, hexNoiseDoc(256))).toDF("doc_id", "text")
      val r = Text.compressionRatio(
        documents(s, d).select(col("doc_id"), col("text")).union(planted))
      val natural = r.filter(col("doc_id") >= 0)
      natural.agg(
          min(col("compress_ratio")).as("nat_min"),
          percentile_approx(col("compress_ratio"), lit(0.5), lit(10000))
            .as("nat_med"),
          count(lit(1)).as("n_nat"))
        .crossJoin(r.filter(col("doc_id") === -1L)
          .select(col("compress_ratio").as("rep_ratio")))
        .crossJoin(r.filter(col("doc_id") === -2L)
          .select(col("compress_ratio").as("noise_ratio")))
        .crossJoin(r.agg(
          min(col("compress_ratio")).as("all_min"),
          max(col("compress_ratio")).as("all_max")))
        .select(
          (col("rep_ratio") < 0.05 && col("rep_ratio") < col("nat_min"))
            .as("rep_hyper_compressible"),
          (col("noise_ratio") > col("nat_med")).as("noise_above_median"),
          (col("all_min") > 0.0 && col("all_max") <= 1.5).as("all_in_range"),
          (col("n_nat") > 0).as("nonempty"))
    },
    Some("SELECT true AS rep_hyper_compressible, true AS noise_above_median, " +
      "true AS all_in_range, true AS nonempty")
  )

  /** k-anonymity audit over the customer quasi-identifiers
    * (nation × market segment — the classic linkage-attack pair): the
    * equivalence-class size histogram ([[graft.functions.Privacy
    * .kAnonymityProfile]]). One shuffle on the QI tuple. */
  private val kAnonymityProfileQ = QDef(
    "k_anonymity_profile",
    (s, d) => Privacy.kAnonymityProfile(
      customer(s, d), Seq("c_nationkey", "c_mktsegment"), k = 10),
    Some(
      "WITH cls AS (SELECT c_nationkey, c_mktsegment, " +
        "CAST(count(*) AS BIGINT) AS class_size FROM customer GROUP BY 1, 2) " +
        "SELECT class_size, CAST(count(*) AS BIGINT) AS n_classes, " +
        "CAST(sum(class_size) AS BIGINT) AS n_rows, class_size < 10 AS below_k " +
        "FROM cls GROUP BY class_size ORDER BY class_size")
  )

  /** Suppression-based k-anonymisation of the customer table
    * ([[graft.functions.Privacy.kAnonymize]], k=10): rows in
    * under-populated (nation, segment) classes get both quasi-identifiers
    * replaced by '*', and the pooled residual class is itself dropped
    * unless it reaches k. Two window passes, no self-join. */
  private val kAnonymizeQ = QDef(
    "k_anonymize",
    (s, d) => Privacy.kAnonymize(
        customer(s, d), Seq("c_nationkey", "c_mktsegment"), k = 10)
      .orderBy(col("c_custkey")),
    Some(
      "WITH a AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, " +
        "count(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS _cs FROM customer), " +
        "m AS (SELECT c_custkey, c_name, " +
        "CASE WHEN _cs >= 10 THEN CAST(c_nationkey AS VARCHAR) ELSE '*' END AS c_nationkey, " +
        "c_acctbal, " +
        "CASE WHEN _cs >= 10 THEN c_mktsegment ELSE '*' END AS c_mktsegment, " +
        "_cs < 10 AS suppressed FROM a), " +
        "f AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, suppressed, " +
        "CAST(count(*) OVER (PARTITION BY c_nationkey, c_mktsegment, suppressed) AS BIGINT) AS class_size " +
        "FROM m) " +
        "SELECT * FROM f WHERE class_size >= 10 ORDER BY c_custkey")
  )

  /** Shared oracle CTE: tokenized docs + Gopher weak labels — the same
    * rule conjunction the `gopher_rules` oracle emits, folded to one
    * (doc_id, pass) relation. Prefix of the classifier and DSIR
    * oracles, which both bootstrap from the rule-passed subset. */
  private val weakLabelCte: String = {
    val stopList = Text.stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
      "m AS (SELECT doc_id, len(toks) AS n, " +
      "CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) AS mlen, " +
      "CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(toks) AS af, " +
      s"len(list_filter($stopList, s -> list_contains(toks, s))) AS sh FROM t), " +
      "lbl AS (SELECT doc_id, (n >= 15 AND n <= 150 AND mlen >= 3.0 " +
      "AND mlen <= 10.0 AND af >= 0.8 AND sh >= 2) AS pass FROM m) "
  }

  /** NB-quality CTE suffix: per-token class counts, totals, prior, and
    * per-token log-likelihood ratios under the add-one-smoothed
    * multinomial ([[graft.functions.QualityClassifier]]). */
  private val nbCte: String =
    weakLabelCte +
      ", w AS (SELECT doc_id, unnest(toks) AS token FROM t), " +
      "cnt AS (SELECT token, sum(CASE WHEN pass THEN 1 ELSE 0 END) AS n_pos, " +
      "sum(CASE WHEN pass THEN 0 ELSE 1 END) AS n_neg " +
      "FROM w JOIN lbl USING (doc_id) GROUP BY token), " +
      "tot AS (SELECT sum(n_pos) AS np, sum(n_neg) AS nn, count(*) AS v FROM cnt), " +
      "pr AS (SELECT ln((sum(CASE WHEN pass THEN 1 ELSE 0 END) + 1.0) / " +
      "(sum(CASE WHEN pass THEN 0 ELSE 1 END) + 1.0)) AS prior FROM lbl), " +
      "lw AS (SELECT token, n_pos, n_neg, " +
      "ln((n_pos + 1.0) / (np + v)) - ln((n_neg + 1.0) / (nn + v)) AS llr " +
      "FROM cnt CROSS JOIN tot) "

  /** Learned quality filter ([[graft.functions.QualityClassifier
    * .score]]): multinomial Naive Bayes trained on the Gopher-rule weak
    * labels, per-doc quality log-odds + verdict — the fastText-style
    * classifier gate. `pred` derives from the ROUNDED log-odds so both
    * engines agree at the boundary. */
  private val nbQualityScoreQ = QDef(
    "nb_quality_score",
    (s, d) => graft.functions.QualityClassifier.score(documents(s, d))
      .orderBy(col("doc_id")),
    Some(nbCte +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
      "round((SELECT prior FROM pr) + sum(llr), 6) AS log_odds, " +
      "round((SELECT prior FROM pr) + sum(llr), 6) > 0 AS pred " +
      "FROM w JOIN lw USING (token) GROUP BY doc_id ORDER BY doc_id")
  )

  /** The classifier's most quality-discriminative tokens ([[graft
    * .functions.QualityClassifier.topTokens]]) — the audit view. Both
    * engines rank by the ROUNDED llr (token tie-break) so the top-k cut
    * is identical. */
  private val nbQualityTopQ = QDef(
    "nb_quality_top",
    (s, d) => graft.functions.QualityClassifier.topTokens(documents(s, d), 25),
    Some(nbCte +
      "SELECT token, CAST(n_pos AS BIGINT) AS n_pos, " +
      "CAST(n_neg AS BIGINT) AS n_neg, round(llr, 6) AS llr " +
      "FROM lw ORDER BY round(llr, 6) DESC, token LIMIT 25")
  )

  /** Calibration table for the NB quality scores
    * ([[graft.functions.QualityClassifier.calibration]]): per predicted-
    * probability decile, doc count, mean predicted p, observed positive
    * rate — decides whether scores can serve as sampling weights or only
    * as a gate. `mean_pred` sums p as exact DECIMAL so neither engine
    * depends on float summation order. */
  private val nbCalibrationQ = QDef(
    "nb_calibration",
    (s, d) => graft.functions.QualityClassifier.calibration(
      documents(s, d), bins = 10),
    Some(nbCte +
      ", sc AS (SELECT doc_id, round((SELECT prior FROM pr) + sum(llr), 6) " +
      "AS lo FROM w JOIN lw USING (token) GROUP BY doc_id), " +
      "pp AS (SELECT doc_id, round(1.0 / (1.0 + exp(-lo)), 6) AS p FROM sc), " +
      "bb AS (SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin, p, pass " +
      "FROM pp JOIN lbl USING (doc_id)) " +
      "SELECT CAST(bin AS INT) AS bin, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pos, " +
      "round(CAST(sum(CAST(p AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) " +
      "AS mean_pred, " +
      "round(CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS DOUBLE) " +
      "/ count(*), 6) AS pos_rate FROM bb GROUP BY bin ORDER BY bin")
  )

  /** Calibration-gated quality weighting ([[graft.functions
    * .QualityClassifier.calibratedWeightedSample]]): the consumer of
    * `nb_calibration`'s verdict — calibrated scores become md5-threshold
    * sampling weights, uncalibrated ones fall back to the hard gate;
    * the in-plan branch (a one-row reliability-gap broadcast over the
    * bins-sized table) is replicated in SQL via the same round-6
    * comparison, so both engines take the same branch AND keep the same
    * docs. */
  private val qualityWeightedQ = QDef(
    "quality_weighted_mixture",
    (s, d) => graft.functions.QualityClassifier.calibratedWeightedSample(
      documents(s, d), maxGap = 0.25, bins = 10),
    Some(nbCte +
      ", sc AS (SELECT doc_id, round((SELECT prior FROM pr) + sum(llr), 6) " +
      "AS lo FROM w JOIN lw USING (token) GROUP BY doc_id), " +
      "pp AS (SELECT doc_id, lo, round(1.0 / (1.0 + exp(-lo)), 6) AS p FROM sc), " +
      "bb AS (SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin, p, pass " +
      "FROM pp JOIN lbl USING (doc_id)), " +
      "cal AS (SELECT bin, " +
      "round(CAST(sum(CAST(p AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) " +
      "AS mean_pred, " +
      "round(CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS DOUBLE) " +
      "/ count(*), 6) AS pos_rate FROM bb GROUP BY bin), " +
      "gap AS (SELECT max(abs(mean_pred - pos_rate)) AS g FROM cal) " +
      "SELECT doc_id, p, CASE WHEN (SELECT g FROM gap) <= 0.25 " +
      "THEN 'weighted' ELSE 'gate' END AS mode FROM pp " +
      "WHERE CASE WHEN (SELECT g FROM gap) <= 0.25 THEN " +
      "substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < " +
      "(CASE WHEN p <= 0.0 THEN '0000' WHEN p >= 1.0 THEN 'zzzzz' " +
      "ELSE printf('%04x', CAST(floor(p * 65536) AS INT)) END) " +
      "ELSE lo > 0 END ORDER BY doc_id")
  )

  /** MinHash-LSH parameter planner ([[graft.functions.NearDup.lshTune]]):
    * S-curve FP/FN mass for every (bands, rows) factoring of the
    * 32-permutation signature at threshold 0.5 — the table `bands` is
    * chosen from before a run. Pure arithmetic; per-point collision
    * probabilities round to 6 before the sums in both engines. */
  private val lshTuneQ = QDef(
    "lsh_tune",
    (s, _) => graft.functions.NearDup.lshTune(
      s, k = 32, threshold = 0.5, gridN = 40),
    Some("WITH c AS (SELECT CAST(b AS INT) AS bands, " +
      "CAST(32 // b AS INT) AS rows_per_band " +
      "FROM range(1, 33) t(b) WHERE 32 % b = 0), " +
      "g AS (SELECT bands, rows_per_band, (i + 0.5) / 40 AS s " +
      "FROM c CROSS JOIN range(0, 40) t2(i)), " +
      "p AS (SELECT bands, rows_per_band, s, " +
      "round(1.0 - power(1.0 - power(s, rows_per_band), bands), 6) AS p " +
      "FROM g), " +
      "agg AS (SELECT bands, rows_per_band, " +
      "round(sum(CASE WHEN s < 0.5 THEN p ELSE 0 END) / 40, 6) AS fp, " +
      "round(sum(CASE WHEN s >= 0.5 THEN 1.0 - p ELSE 0 END) / 40, 6) AS fn " +
      "FROM p GROUP BY 1, 2) " +
      "SELECT bands, rows_per_band, fp, fn, round(fp + fn, 6) AS cost " +
      "FROM agg ORDER BY cost, bands")
  )

  /** DSIR CTE suffix: hashed unigram+bigram features (md5 first-byte
    * buckets), raw/target bucket counts, and the smoothed per-bucket
    * importance log-ratio ([[graft.functions.Dsir]]). */
  private val dsirCte: String =
    weakLabelCte +
      ", f AS (SELECT doc_id, substring(md5(ft), 1, 2) AS b FROM " +
      "(SELECT doc_id, unnest(toks || list_transform(range(1, len(toks)), " +
      "i -> toks[i] || ' ' || toks[i+1])) AS ft FROM t)), " +
      "rawc AS (SELECT b, count(*) AS nr FROM f GROUP BY b), " +
      "tgtc AS (SELECT b, count(*) AS nt FROM f JOIN lbl USING (doc_id) " +
      "WHERE pass GROUP BY b), " +
      "trt AS (SELECT (SELECT sum(nr) FROM rawc) AS totr, " +
      "(SELECT sum(nt) FROM tgtc) AS tott), " +
      "lr AS (SELECT b, ln((coalesce(nt, 0) + 1.0) / (tott + 256)) - " +
      "ln((nr + 1.0) / (totr + 256)) AS log_ratio " +
      "FROM rawc LEFT JOIN tgtc USING (b) CROSS JOIN trt), " +
      "sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats, " +
      "round(sum(log_ratio), 6) AS logw " +
      "FROM f JOIN lr USING (b) GROUP BY doc_id) "

  /** DSIR importance weights ([[graft.functions.Dsir.weights]]): per-doc
    * log importance of raw-corpus docs toward the Gopher-passed target
    * distribution — Xie et al. 2023's selection signal. */
  private val dsirWeightsQ = QDef(
    "dsir_weights",
    (s, d) => graft.functions.Dsir.weights(documents(s, d))
      .orderBy(col("doc_id")),
    Some(dsirCte + "SELECT doc_id, n_feats, logw FROM sc ORDER BY doc_id")
  )

  /** DSIR deterministic top-k selection ([[graft.functions.Dsir
    * .select]]): the 64 most target-like docs by rounded importance
    * weight, doc_id tie-break — the reproducible (temperature→0)
    * variant of the paper's Gumbel resampling. */
  private val dsirSelectQ = QDef(
    "dsir_select",
    (s, d) => graft.functions.Dsir.select(documents(s, d), 64),
    Some(dsirCte +
      "SELECT doc_id, n_feats, logw FROM sc " +
      "ORDER BY logw DESC, doc_id LIMIT 64")
  )

  /** Exact-substring dedup ([[graft.functions.SubstringDedup
    * .dupSpanStats]]): per-doc count of token positions inside an 8-token
    * window repeated verbatim in another document. The oracle groups by
    * the gram STRING where the engine groups by its xxhash64 — identical
    * output absent a 64-bit collision, which the planted sf corpora can't
    * produce (~1e4 grams vs 2^64). */
  private val dedupSubstring = QDef(
    "dedup_substring",
    (s, d) => graft.functions.SubstringDedup.dupSpanStats(documents(s, d), l = 8)
      .orderBy(col("doc_id")),
    Some(
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "gr AS (SELECT doc_id, unnest(range(1, len(t) - 8 + 2)) AS pos, t " +
        "FROM tok WHERE len(t) >= 8), " +
        "g2 AS (SELECT doc_id, pos, " +
        "array_to_string(list_slice(t, pos, pos + 7), ' ') AS gram FROM gr), " +
        "dup AS (SELECT gram FROM g2 GROUP BY gram HAVING min(doc_id) <> max(doc_id)), " +
        "cov AS (SELECT DISTINCT doc_id, pos + u AS p " +
        "FROM g2 JOIN dup USING (gram), unnest(range(0, 8)) v(u)), " +
        "per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nd FROM cov GROUP BY doc_id) " +
        "SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens, " +
        "CAST(coalesce(per.nd, 0) AS BIGINT) AS n_dup_tokens " +
        "FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id")
    )
  )

  /** The substring-dedup REMOVE pass ([[graft.functions.SubstringDedup
    * .dedupSpansRemoved]]): documents re-materialized with cross-doc
    * duplicated 8-token spans cut everywhere but their canonical
    * (min-doc_id) owner — all-but-one semantics, so repeated boilerplate
    * survives exactly once in the corpus. */
  private val dedupSpansQ = QDef(
    "dedup_spans_removed",
    (s, d) => graft.functions.SubstringDedup
      .dedupSpansRemoved(documents(s, d), l = 8)
      .orderBy(col("doc_id")),
    Some(
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "gr AS (SELECT doc_id, unnest(range(1, len(t) - 8 + 2)) AS pos, t " +
        "FROM tok WHERE len(t) >= 8), " +
        "g2 AS (SELECT doc_id, pos, " +
        "array_to_string(list_slice(t, pos, pos + 7), ' ') AS gram FROM gr), " +
        "own AS (SELECT gram, min(doc_id) AS owner FROM g2 GROUP BY gram " +
        "HAVING min(doc_id) <> max(doc_id)), " +
        "rem0 AS (SELECT DISTINCT g2.doc_id, pos + u AS p FROM g2 " +
        "JOIN own USING (gram), unnest(range(0, 8)) v(u) " +
        "WHERE g2.doc_id <> own.owner), " +
        // owner-span exemption — same rule as the Spark op: positions
        // under a gram this doc OWNS are never cut
        "ownp AS (SELECT DISTINCT g2.doc_id, pos + u AS p FROM g2 " +
        "JOIN own USING (gram), unnest(range(0, 8)) v(u) " +
        "WHERE g2.doc_id = own.owner), " +
        "rem AS (SELECT r.doc_id, r.p FROM rem0 r " +
        "LEFT JOIN ownp o ON r.doc_id = o.doc_id AND r.p = o.p " +
        "WHERE o.p IS NULL), " +
        "stream AS (SELECT doc_id, unnest(range(1, len(t)+1)) AS p, " +
        "unnest(t) AS w FROM tok), " +
        "kept AS (SELECT s.doc_id, s.p, s.w FROM stream s " +
        "LEFT JOIN rem ON s.doc_id = rem.doc_id AND s.p = rem.p " +
        "WHERE rem.p IS NULL) " +
        "SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens, " +
        "CAST(count(k.p) AS INT) AS n_kept, " +
        "coalesce(string_agg(k.w, ' ' ORDER BY k.p), '') AS clean_text " +
        "FROM documents d LEFT JOIN kept k USING (doc_id) " +
        "GROUP BY d.doc_id, d.text ORDER BY doc_id")
    )
  )

  /** Metadata-filtered exact vector search ([[graft.functions.Similarity
    * .filteredTopK]]): top-5 neighbors restricted to corpus label = 1.
    * The predicate lands in the parquet scan (pre-filter), asserted in
    * PlanSpec. */
  private val simTopKFiltered = QDef(
    "sim_topk_filtered",
    (s, d) => {
      val e = embeddings(s, d)
      graft.functions.Similarity.filteredTopK(e, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, corpusPredicate = col("label") === 1)
    },
    Some(
      ("WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe " +
        "FROM embeddings WHERE vec_id < 20), " +
        "c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS ce " +
        "FROM embeddings WHERE label = 1), " +
        s"p AS (SELECT qid, nid, ${cosSql("qe", "ce")} AS sim FROM c, q WHERE qid <> nid), " +
        "r AS (SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid " +
        "ORDER BY sim DESC, nid) AS rn FROM p) " +
        "SELECT qid, nid, round(sim, 6) AS sim FROM r WHERE rn <= 5 " +
        "ORDER BY qid, nid")
    )
  )

  /** BPE roundtrip: decode(encode(text)) under the checked-in merges
    * fixture must reproduce the corpus byte-for-byte. The engine runs the
    * full tokenizer kernel ([[graft.plans.Bpe]]); the oracle is the corpus
    * itself — a hash-match here pins every piece boundary (one lost or
    * doubled character anywhere breaks the hash). */
  private val bpeRoundtrip = QDef(
    "bpe_roundtrip",
    (s, d) => documents(s, d).select(col("doc_id"),
        Text.bpeDecode(Text.bpeEncode(col("text"), Text.fixtureMerges))
          .as("text"))
      .orderBy(col("doc_id")),
    Some("SELECT doc_id, text FROM documents ORDER BY doc_id")
  )

  /** DuckDB replica of the BPE tokenizer for the oracle: per DISTINCT
    * word, a recursive CTE applies the fixture merges in rank order over a
    * chr(1)-delimited symbol string — `replace` on the delimited pattern
    * is exactly the kernel's left-to-right non-overlapping merge pass, and
    * rank-monotonicity of a TRAINED merge table (a pair involving a merged
    * symbol always ranks after the merges that built it) makes the
    * step-at-a-time recursion converge to the kernel's all-occurrences-
    * per-rank result. Piece counts then join back to the doc stream. */
  private def bpeCountCtes: String = {
    val mergeRows = Text.fixtureMerges.zipWithIndex.map { case ((a, b), r) =>
      s"('${a.replace("'", "''")}', '${b.replace("'", "''")}', $r)"
    }.mkString(", ")
    s"""WITH RECURSIVE
       |mg(a, b, r) AS (VALUES $mergeRows),
       |words AS (
       | SELECT DISTINCT unnest(string_split(text, ' ')) AS word FROM documents),
       |steps(word, syms) AS (
       | SELECT word, CASE WHEN word = '' THEN chr(1) || '</w>' || chr(1)
       |  ELSE chr(1) || array_to_string(
       |    list_transform(range(1, length(word) + 1), i -> word[i:i]), chr(1))
       |    || chr(1) || '</w>' || chr(1) END
       | FROM words
       | UNION ALL
       | SELECT s.word,
       |  replace(s.syms, chr(1) || m.a || chr(1) || m.b || chr(1),
       |    chr(1) || m.a || m.b || chr(1))
       | FROM steps s JOIN mg m
       |  ON contains(s.syms, chr(1) || m.a || chr(1) || m.b || chr(1))
       |  AND m.r = (SELECT min(r) FROM mg
       |             WHERE contains(s.syms, chr(1) || a || chr(1) || b || chr(1)))),
       |pieces AS (
       | SELECT word, CAST(len(string_split(syms, chr(1))) - 2 AS BIGINT) AS n_pieces
       | FROM steps s
       | WHERE NOT EXISTS (SELECT 1 FROM mg
       |                   WHERE contains(s.syms, chr(1) || a || chr(1) || b || chr(1)))),
       |doc_words AS (
       | SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |bpecnt AS (
       | SELECT dw.doc_id, CAST(sum(p.n_pieces) AS BIGINT) AS n_bpe
       | FROM doc_words dw JOIN pieces p USING (word) GROUP BY 1)""".stripMargin
      .replace('\n', ' ')
  }

  private def bpeTokensOracleSql: String =
    s"""$bpeCountCtes
       |SELECT d.doc_id,
       | CAST(len(string_split(d.text, ' ')) AS INT) AS n_ws_tokens,
       | CAST(c.n_bpe AS INT) AS n_bpe_tokens
       |FROM documents d JOIN bpecnt c USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin.replace('\n', ' ')

  /** Tokenizer-faithful token counts under the fixture merges, next to the
    * whitespace count — the column packing/quota decisions should follow
    * in a real pipeline ([[Text.bpeTokenCount]] drops into
    * `pack_sequences`/`quota_tokens`, which take arbitrary count columns). */
  private val bpeTokens = QDef(
    "bpe_tokens",
    (s, d) => documents(s, d).select(col("doc_id"),
        size(split(col("text"), " ")).as("n_ws_tokens"),
        Text.bpeTokenCount(col("text"), Text.fixtureMerges).as("n_bpe_tokens"))
      .orderBy(col("doc_id")),
    Some(bpeTokensOracleSql)
  )

  /** Sequence packing driven by the TOKENIZER-FAITHFUL count: the same
    * two-pass distributed cumsum as `pack_sequences`, but the stream
    * positions follow [[Text.bpeTokenCount]] under the fixture merges —
    * the end-to-end wiring a real pipeline uses (pack by what the model
    * will actually see, not by whitespace proxy). Oracle = the recursive-
    * CTE BPE counts feeding the sequential running-sum definition. */
  private val packSeqBpe = QDef(
    "pack_sequences_bpe",
    (s, d) => graft.functions.Packing.packSequences(
        documents(s, d).select(col("doc_id"),
          Text.bpeTokenCount(col("text"), Text.fixtureMerges).as("n_bpe")),
        orderKey = col("doc_id"), tokenCount = col("n_bpe"),
        budget = 4096L)
      .select(col("doc_id"), col("n_tokens"), col("stream_offset"),
        col("bin"))
      .orderBy(col("doc_id")),
    Some(
      s"""$bpeCountCtes,
         |s AS (SELECT doc_id, n_bpe AS n_tokens,
         | CAST(coalesce(sum(n_bpe) OVER (ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |  AS stream_offset FROM bpecnt)
         |SELECT doc_id, n_tokens, stream_offset,
         | stream_offset // 4096 AS bin FROM s
         |ORDER BY doc_id""".stripMargin.replace('\n', ' '))
  )

  /** Per-source token quota under BPE counts — `quota_tokens` with the
    * budget measured in tokenizer tokens instead of characters. */
  private val quotaBpe = QDef(
    "quota_tokens_bpe",
    (s, d) => graft.functions.Sampling.tokenQuota(
        documents(s, d).select(col("doc_id"), col("source"),
          Text.bpeTokenCount(col("text"), Text.fixtureMerges).as("n_bpe")),
        stratum = col("source"), key = col("doc_id").cast("string"),
        tokens = col("n_bpe"), budget = 1000L)
      .orderBy(col("doc_id")),
    Some(
      s"""$bpeCountCtes,
         |dd AS (SELECT d.doc_id, d.source, CAST(c.n_bpe AS INT) AS n_bpe
         | FROM documents d JOIN bpecnt c USING (doc_id))
         |SELECT doc_id, source, n_bpe FROM (
         | SELECT doc_id, source, n_bpe, sum(n_bpe) OVER (
         |  PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)),
         |  CAST(doc_id AS VARCHAR)
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
         | FROM dd) WHERE c <= 1000 ORDER BY doc_id""".stripMargin
        .replace('\n', ' '))
  )

  /** Corpus with PLANTED boilerplate for the line-removal queries: the
    * synthetic documents are single-line with no cross-doc repeated lines
    * (verified: max identical-text multiplicity is 2 at sf0.1), so — as
    * with `dedup_embed`'s planted duplicates — the QDef injects the
    * repeated header/footer lines a web corpus would carry. ~1/3 of docs
    * get a newsletter header + copyright footer, another ~1/3 a consent
    * header; bodies stay unique, so exactly the planted lines cross the
    * `minDocs` threshold and the removal is fully oracle-checkable. */
  private def plantedBoilerplate(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    documents(s, d).withColumn("text",
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat_ws("\n", lit("subscribe to our newsletter"), col("text"),
          lit("copyright 2026 example corp")))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat_ws("\n", lit("cookie consent required"), col("text")))
        .otherwise(col("text")))

  private val boilerplateSrcSql: String =
    "SELECT doc_id, lang, source, n_chars, " +
      "CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter' || chr(10) " +
      "|| text || chr(10) || 'copyright 2026 example corp' " +
      "WHEN doc_id % 3 = 1 THEN 'cookie consent required' || chr(10) || text " +
      "ELSE text END AS text FROM documents"

  /** Cross-document line frequency report over the planted corpus —
    * the lines the removal pass will cut, with their document counts. */
  private val boilerplateReport = QDef(
    "boilerplate_report",
    (s, d) => graft.functions.Boilerplate.lineFrequencies(
        plantedBoilerplate(s, d))
      .filter(col("n_docs") >= 10)
      .orderBy(col("line")),
    Some(
      s"""WITH src AS ($boilerplateSrcSql),
         |dl AS (SELECT DISTINCT doc_id, unnest(string_split(text, chr(10))) AS line
         | FROM src)
         |SELECT line, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM dl WHERE length(line) > 0
         |GROUP BY line HAVING count(DISTINCT doc_id) >= 10
         |ORDER BY line""".stripMargin.replace('\n', ' '))
  )

  /** CCNet/RefinedWeb-style boilerplate line removal
    * ([[graft.functions.Boilerplate.removeDupLines]]): lines in ≥ 10
    * distinct documents are cut everywhere; per-doc removal counts ride
    * along. The oracle mirrors line semantics on STRINGS where the engine
    * ships 8-byte xxhash64 keys (the `dedup_substring` convention). */
  private val boilerplateRemove = QDef(
    "boilerplate_remove",
    (s, d) => graft.functions.Boilerplate.removeDupLines(
        plantedBoilerplate(s, d), minDocs = 10L)
      .orderBy(col("doc_id")),
    Some(
      s"""WITH src AS ($boilerplateSrcSql),
         |ex AS (SELECT doc_id, unnest(range(1, len(ls)+1)) AS pos,
         |  unnest(ls) AS line
         | FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM src)),
         |boiler AS (SELECT line FROM (SELECT DISTINCT doc_id, line FROM ex
         |  WHERE line <> '') GROUP BY line HAVING count(DISTINCT doc_id) >= 10),
         |kept AS (SELECT doc_id, pos, line FROM ex
         | WHERE line = '' OR line NOT IN (SELECT line FROM boiler)),
         |cnt AS (SELECT doc_id, count(*) AS n_all FROM ex GROUP BY 1),
         |reb AS (SELECT doc_id, coalesce(string_agg(line, chr(10) ORDER BY pos), '')
         |  AS text, count(*) AS n_kept FROM kept GROUP BY doc_id)
         |SELECT s.doc_id, coalesce(r.text, '') AS text, s.lang, s.source,
         | s.n_chars, CAST(c.n_all - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
         |FROM src s JOIN cnt c USING (doc_id) LEFT JOIN reb r USING (doc_id)
         |ORDER BY s.doc_id""".stripMargin.replace('\n', ' '))
  )

  val all: Seq[QDef] = Seq(
    bpeTrain, bpeRoundtrip, bpeTokens, packSeqBpe, quotaBpe,
    unigramTrainQ, unigramTokenizeQ, unigramRoundtripQ,
    boilerplateReport, boilerplateRemove, targetMixQ,
    sessionize, sessionStatsQ, sentenceStatsQ, textStats, tokenCount, langIdQ, langIdEvalQ,
    qualityScore, fingerprintQ,
    redactPii, retrievalBm25, snapshotDiffQ, cdcUpsert, scd2Q, fuzzyPairsQ,
    entityResolveQ, normalizeTextQ, stripHtmlQ, retrievalHybridQ,
    intradocDedupQ, sourceOverlapQ,
    urlFilterQ, dedupUrlQ, ngramNoveltyQ, sourceOverlapSketchQ, blocklistQ,
    dedupExact, simTopK, annLshRecall, annIvfRecall, annIvfIndexedRecall,
    annIvfAppendedRecall, annIvfStreamedRecall, annIvfRebuiltRecall,
    annIvfFull, annIvfDeletedFull, annPqRecall, annPqFull, dedupNgram,
    dedupCrossSource, syndicationQ, dedupThresholdSweepQ, datacardQ,
    dedupClusters,
    dedupCollapse, dedupKeepBest, pageRankQ, pageRankDirectedQ,
    mixtureQ, shuffleQ, curriculumQ, quotaQ, embedCentroid,
    embedOutliersQ, embedKmeans,
    decontaminate, decontaminateSpansQ, corpusClean,
    dedupIncremental, dedupIncrementalStore, dedupIncrementalDeleted,
    dedupPairsStore, dedupClustersStore, dedupCollapseStore,
    dedupKeepBestStore, dedupReportStore, entityResolveStore,
    dedupClustersIncr, dedupStoreStats, dedupSnapshotPinned, dedupStoreVacuum,
    dedupStoreDelete,
    repetitionQ, dedupMinhash,
    dedupMinhashVerified, dedupMinhashTuned, dedupSimhash, dedupSimhashBounds,
    dedupEmbed, windowAgg, vocabTopK,
    tfidfTop, unigramQ, ngramPerplexity, knPerplexity, knPerplexityServed,
    perplexityTiersQ, perplexityTiersServedQ, domainReweightQ,
    mixtureEpochsQ, splitLeakageSafeQ, splitLeakageSafeStoreQ,
    ngramTopRepeatedQ, cleanFunnelQ,
    vocabSketch, collocPmi, stopwordFilterQ, oovRateQ,
    graphTrianglesQ, winnowFingerprintQ, winnowOverlapQ, winnowClustersQ, dedupReportQ,
    lengthProfileQ,
    sampleDet, sampleBottomK, histogramQ,
    packSeq, packBins, sampleStrat, splitTT,
    semdedupPairs, semdedupCollapse, chunkDocsQ, simTopKFiltered,
    contrastivePairsQ, contrastiveTripletsQ,
    contrastivePairsIvfFullQ, contrastivePairsIvfRecall,
    dedupSubstring, dedupSpansQ,
    gopherRulesQ, compressionQualityQ, kAnonymityProfileQ, kAnonymizeQ,
    nbQualityScoreQ, nbQualityTopQ, nbCalibrationQ,
    qualityWeightedQ, lshTuneQ,
    dsirWeightsQ, dsirSelectQ,
    resampleQ, resampleInterpQ, weightedSampleQ, packTexts, winsorizeQ,
    profileQ, giniProfileQ, embedQuantizeQ, driftQ,
    tokenIdsQ, funnelQ, funnelLagQ, retentionQ, temperatureMixQ,
    mediaDecode, mediaResize, videoFrames, audioDecode, mediaPhashDedup
  )
}
