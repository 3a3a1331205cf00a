package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet table access for the driver testdata star schema (TESTDATA.md).
  *
  * Reference analog: `fromTable` eager ingest
  * (`/root/reference/source/koalas/dataframe.d:108-126`). Here ingest is a
  * lazy Catalyst `LogicalRelation`; Spark's parquet reader gives columnar
  * scan, predicate pushdown and partition-parallel IO for free — the 100 TB
  * replacement for the reference's single-threaded in-RAM `RT[] records`.
  *
  * Every read passes its schema ([[readParquet]]): a schema-less read
  * starts a Spark job per read to infer it from a footer, so the schema
  * is inferred once and memoized. A table's memo entry is keyed by the
  * length and modification time of each of its leaf files and by
  * `spark.sql.legacy.parquet.nanosAsLong` (the one inference setting a
  * graft session changes, see [[events]]): a second read of an unchanged
  * table starts no Spark job, and a rewritten file is inferred again.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    leafStamp(spark, path) match {
      case Some(stamp) =>
        readParquet(spark, Seq(path), stamp +
          s"\nnanosAsLong=${spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")}")
      // a missing path fails as a schema-less read does
      case None => spark.read.parquet(path)
    }
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  /** `events.parquet`'s `ts` column has shipped in two physical encodings
    * across testdata generations: parquet TIMESTAMP(NANOS) — which Spark
    * surfaces as `long` under `spark.sql.legacy.parquet.nanosAsLong` — and
    * plain `timestamp[us]` without UTC adjustment, which Spark surfaces as
    * TIMESTAMP_NTZ. Dispatch on the scanned type so either generation reads
    * as a session-TZ TIMESTAMP, matching the DuckDB oracle's
    * `CAST(ts AS TIMESTAMP)`:
    *   - Long/Integer  → nanos-as-long → `timestamp_micros(ts div 1000)`
    *   - TimestampNTZ  → cast to TIMESTAMP (sessions pin UTC, so the
    *                     wall-clock reinterpretation is value-identical)
    *   - Timestamp     → pass-through
    *
    * Session-conf contract (no silent overwrites — an accessor must not
    * mutate semantics a caller chose):
    *   - session time zone must already resolve to UTC (the entire event
    *     tier — oracle SQL, NTZ reinterpretation, date_trunc buckets — is
    *     defined against UTC wall clocks). A conflicting zone THROWS with
    *     the required setting named, instead of being overwritten mid-
    *     session (which would silently re-time every earlier read).
    *   - `spark.sql.legacy.parquet.nanosAsLong` is enabled ONLY if the
    *     scan actually fails on a TIMESTAMP(NANOS) column (the pre-2026
    *     testdata encoding). The flag is read-path-only and no other table
    *     ever carried nanos, so the lazy one-way enable is side-effect-free
    *     for every other read; current NTZ-encoded data triggers no
    *     mutation at all.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val tz = spark.conf.get("spark.sql.session.timeZone")
    // normalized() collapses every fixed-offset-zero spelling (UTC,
    // Etc/UTC, GMT, +00:00, Z) onto ZoneOffset.UTC
    val utc = try java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
      catch { case _: java.time.DateTimeException => false }
    if (!utc)
      throw new IllegalStateException(
        s"Tables.events requires spark.sql.session.timeZone=UTC (event-tier " +
          s"timestamps are defined against UTC wall clocks) but the session " +
          s"has '$tz' — build the session from graft.GraftSession, which sets it")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw =
      try table(spark, sfDir, "events")
      catch {
        case e: Exception
            if Option(e.getMessage).exists(_.contains("NANOS")) &&
              spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true" =>
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          table(spark, sfDir, "events")
      }
    raw.schema("ts").dataType match {
      case LongType | IntegerType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other =>
        throw new IllegalStateException(
          s"events.parquet ts has unsupported type $other — expected long (nanos), timestamp_ntz, or timestamp")
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** Inferred parquet schemas, keyed by session, first path and the
    * caller's `stamp`. Durable (survives `PlanCache.clearShared`): a
    * schema is a property of the files, and the stamp changes when they
    * do. */
  private val schemaMemo = new PlanCache[StructType](capacity = 256, durable = true)

  /** Parquet `paths` (at least one) read with the memoized schema of the
    * first under `stamp`, which must change whenever that schema can:
    * [[table]] stamps its leaf files and inference settings; the stores
    * (`StoreCommit.readParquet`) pass an empty stamp, since their salted
    * generation paths are immutable once written. A miss reads the schema
    * from a footer on the driver ([[footerSchema]]) and infers it with a
    * Spark job only when no footer carries one. */
  private[graft] def readParquet(spark: SparkSession, paths: Seq[String], stamp: String): DataFrame = {
    val schema = schemaMemo.getOrCompute(PlanCache.Key(spark, paths.head, stamp),
      footerSchema(spark, paths.head).getOrElse(spark.read.parquet(paths.head).schema))
    spark.read.schema(schema).parquet(paths: _*)
  }

  /** Path, length and modification time of every leaf file under `path`
    * (the file itself for a file), or None when `path` does not exist. */
  private def leafStamp(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val it = fs.listFiles(p, true)
      val leaves = Seq.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        leaves += s"${f.getPath} ${f.getLen} ${f.getModificationTime}"
      }
      Some(leaves.result().sorted.mkString("\n"))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** The schema Spark infers for the parquet file or directory `path` —
    * the Spark schema its writer stored in the first data file's footer,
    * made nullable as file sources read it — read on the driver, or None
    * when no footer carries one. */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val file =
      if (fs.getFileStatus(p).isFile) Some(p)
      else fs.listStatus(p).map(_.getPath)
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .sortBy(_.getName).headOption
    file.flatMap { f =>
      val in = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try Option(in.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        .map(j => org.apache.spark.sql.graftsql.Bridge.asNullable(
          DataType.fromJson(j).asInstanceOf[StructType]))
      finally in.close()
    }
  }
}
