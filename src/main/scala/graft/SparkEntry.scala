package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Query implementations live in [[Queries]] (core verbs, SURVEY §2.1-2.4)
  * and [[Ext]] (LLM-pipeline tier); this object is the thin registry the
  * driver introspects.
  *
  * SESSION REQUIREMENT: build the SparkSession from [[GraftSession]],
  * which sets `spark.sql.session.timeZone=UTC` — the event-tier queries
  * read [[Tables.events]], whose timestamps are defined against UTC wall
  * clocks, and it THROWS on any other zone rather than silently
  * re-timing earlier reads (see Tables.events scaladoc). [[Verify]],
  * [[Bench]] and the test suites all build their session there.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's signature pipeline fromTable→groupby→aggregate shaped
    * like TPC-H Q1 (SURVEY §7.2 slice 0). */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_flagship")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Queries.all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
