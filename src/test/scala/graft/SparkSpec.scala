package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local SparkSession per suite (lazy, reused).
  *
  * Suite-boundary hygiene: the ONE forked JVM runs every suite, so
  * per-JVM state (PlanCache persisted intermediates, session dataset
  * cache, pending AutoUnpersist listeners) accumulates across ~47
  * suites and has OOM'd a 12g heap late in a full run. Each suite
  * releases the shared state it may have created. */
trait SparkSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"

  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private var suiteStartNanos = System.nanoTime()

  override protected def beforeAll(): Unit = {
    suiteStartNanos = System.nanoTime()
    super.beforeAll()
  }

  override protected def afterAll(): Unit = {
    try {
      graft.PlanCache.clearAll()
      graft.AutoUnpersist.releaseAll()
      SparkSpec.session.catalog.clearCache()
    } catch { case scala.util.control.NonFatal(_) => () }
    // one line per suite, so a long log names its slow or aborted suite
    val rt = Runtime.getRuntime
    println(f"[suite] $suiteName%s ${(System.nanoTime() - suiteStartNanos) / 1e9}%.1f s, " +
      s"driver heap in use ${(rt.totalMemory - rt.freeMemory) >> 20} MB")
    super.afterAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS); see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
