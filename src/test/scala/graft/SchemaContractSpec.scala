package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.sql.Timestamp

/** Testdata schema contract + `Tables.events` ts-type dispatch.
  *
  * Round 9 lost 13 event-pipeline queries to a silent testdata regeneration
  * that flipped `events.ts` from parquet TIMESTAMP(NANOS) to plain
  * `timestamp[us]` (TIMESTAMP_NTZ in Spark). This spec makes any future
  * regeneration fail loudly with the table and column named:
  *   1. asserts the column name → Spark-type mapping the engine assumes for
  *      every sf0.001 table (TESTDATA.md as code);
  *   2. pins BOTH historical `ts` encodings against tiny locally-written
  *      parquet fixtures, proving `Tables.events` dispatches correctly;
  *   3. pins the `Tables` schema memo: a repeated read infers nothing, a
  *      rewritten table is inferred again.
  */
class SchemaContractSpec extends SparkSpec {

  private def schemaOf(name: String): Map[String, DataType] =
    spark.read.parquet(s"$sf0001/$name.parquet").schema
      .fields.map(f => f.name -> f.dataType).toMap

  private def assertCols(name: String, expected: (String, DataType)*): Unit = {
    val actual = schemaOf(name)
    expected.foreach { case (col, dt) =>
      assert(actual.contains(col), s"$name.parquet: missing column '$col' (have ${actual.keys.toSeq.sorted})")
      assert(actual(col) == dt, s"$name.parquet: column '$col' is ${actual(col)}, engine assumes $dt")
    }
  }

  test("TPC-H tables carry the assumed key/measure types") {
    assertCols("lineitem",
      "l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType,
      "l_tax" -> DoubleType, "l_returnflag" -> StringType,
      "l_linestatus" -> StringType, "l_shipdate" -> TimestampNTZType)
    assertCols("orders",
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampNTZType,
      "o_orderstatus" -> StringType, "o_orderpriority" -> StringType)
    assertCols("customer", "c_custkey" -> LongType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType, "c_name" -> StringType)
    assertCols("supplier", "s_suppkey" -> LongType, "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType)
    assertCols("part", "p_partkey" -> LongType, "p_retailprice" -> DoubleType,
      "p_size" -> IntegerType, "p_brand" -> StringType, "p_type" -> StringType)
    assertCols("nation", "n_nationkey" -> IntegerType, "n_regionkey" -> IntegerType,
      "n_name" -> StringType)
    assertCols("region", "r_regionkey" -> IntegerType, "r_name" -> StringType)
  }

  test("documents / embeddings carry the assumed pipeline types") {
    assertCols("documents",
      "doc_id" -> LongType, "text" -> StringType,
      "source" -> StringType, "lang" -> StringType, "n_chars" -> LongType)
    val emb = schemaOf("embeddings")
    assert(emb("vec_id") == LongType, s"embeddings.vec_id is ${emb.get("vec_id")}, engine assumes bigint")
    assert(emb("label") == IntegerType, s"embeddings.label is ${emb.get("label")}, engine assumes int")
    assert(emb("embedding") == ArrayType(FloatType, containsNull = true)
        || emb("embedding") == ArrayType(FloatType, containsNull = false),
      s"embeddings.embedding is ${emb("embedding")}, engine assumes array<float>")
  }

  test("events carries assumed types and ts reads as a session-TZ timestamp") {
    assertCols("events",
      "event_id" -> LongType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType)
    val raw = schemaOf("events")("ts")
    assert(raw == LongType || raw == TimestampNTZType || raw == TimestampType,
      s"events.parquet ts is $raw — Tables.events supports long(nanos)/timestamp_ntz/timestamp only")
    // Whatever the physical encoding, the engine-facing frame must expose TIMESTAMP.
    val ts = Tables.events(spark, sf0001).schema("ts").dataType
    assert(ts == TimestampType, s"Tables.events exposes ts as $ts, expected TimestampType")
  }

  test("Tables.events refuses a conflicting session time zone loudly") {
    // The accessor must not silently overwrite a caller-chosen TZ (it
    // would re-time every earlier read in the session); it throws naming
    // the required setting instead.
    val key = "spark.sql.session.timeZone"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "America/New_York")
      val e = intercept[IllegalStateException] { Tables.events(spark, sf0001) }
      assert(e.getMessage.contains("spark.sql.session.timeZone=UTC"))
      // every fixed-offset-zero spelling is accepted
      for (tz <- Seq("UTC", "Etc/UTC", "GMT", "+00:00")) {
        spark.conf.set(key, tz)
        assert(Tables.events(spark, sf0001).schema("ts").dataType == TimestampType)
      }
    } finally spark.conf.set(key, saved)
  }

  test("Tables.events dispatches on both historical ts encodings") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_events_fixture").toString
    // Epoch 2024-01-01T00:00:00Z plus 1.5s, at micro precision.
    val baseMicros = 1704067200000000L
    val micros = Seq(baseMicros, baseMicros + 1500000L)

    // Fixture A: old generation — TIMESTAMP(NANOS) surfaced as long under
    // nanosAsLong. Spark can't *write* nanos parquet, so write the long
    // column directly; under nanosAsLong the scan surfaces the same LongType
    // the old testdata did, exercising the identical dispatch arm.
    micros.zipWithIndex
      .map { case (us, i) => (i.toLong, i.toLong, "click", us * 1000L) }
      .toDF("event_id", "user_id", "event_type", "ts")
      .write.mode("overwrite").parquet(s"$dir/nanos/events.parquet")

    // Fixture B: new generation — timestamp[us] without UTC adjustment
    // (TIMESTAMP_NTZ), matching the 2026-08-13 regeneration.
    micros.zipWithIndex
      .map { case (us, i) =>
        (i.toLong, i.toLong, "click",
          java.time.LocalDateTime.ofEpochSecond(us / 1000000L, ((us % 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC))
      }
      .toDF("event_id", "user_id", "event_type", "ts")
      .write.mode("overwrite").parquet(s"$dir/ntz/events.parquet")

    def read(sub: String): Seq[Timestamp] =
      Tables.events(spark, s"$dir/$sub").orderBy("event_id")
        .select(col("ts")).collect().toSeq.map(_.getTimestamp(0))

    val fromNanos = read("nanos")
    val fromNtz   = read("ntz")
    assert(fromNanos == fromNtz, s"nanos-path $fromNanos != ntz-path $fromNtz")
    assert(fromNanos.map(_.getTime) == micros.map(_ / 1000L),
      s"expected epoch millis ${micros.map(_ / 1000L)}, got ${fromNanos.map(_.getTime)}")
    // Sub-millisecond precision survives both paths.
    assert(fromNanos.map(_.getNanos) == micros.map(us => ((us % 1000000L) * 1000L).toInt))
  }

  test("Tables infers a table's schema once, and again after its file is rewritten") {
    Tables.nation(spark, sf0001)
    assert(jobsDuring(Tables.nation(spark, sf0001)) == 0,
      "a second read of an unchanged table started a Spark job")
    Tables.events(spark, sf0001)
    assert(jobsDuring(Tables.events(spark, sf0001)) == 0)
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("graft_tables_memo")
    def copy(name: String): Unit = Files.copy(Paths.get(s"$sf0001/$name.parquet"),
      dir.resolve("t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    copy("nation")
    assert(Tables.table(spark, dir.toString, "t").columns.toSeq ==
      Tables.nation(spark, sf0001).columns.toSeq)
    copy("region")
    val t = Tables.table(spark, dir.toString, "t")
    assert(t.columns.toSeq == Tables.region(spark, sf0001).columns.toSeq)
    assert(rows(t.orderBy("r_regionkey")) == rows(Tables.region(spark, sf0001).orderBy("r_regionkey")))
  }
}
