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

  /** `body` with the store verbs' driver-local row bound
    * ([[functions.StoreCommit.localRowsBound]]) set to `bound`; 0 keeps
    * every verb distributed. The previous bound is restored after. */
  def withLocalRows[T](bound: Int)(body: => T): T = {
    val old = functions.StoreCommit.localRowsBound
    functions.StoreCommit.localRowsBound = bound
    try body
    finally functions.StoreCommit.localRowsBound = old
  }

  /** Registers `body` twice: as `name` at the production bound
    * (batch-sized store work on the driver), and as `name [distributed]`
    * (every store verb distributed). */
  def storeTest(name: String)(body: => Unit): Unit = {
    test(name)(body)
    test(s"$name [distributed]")(withLocalRows(0)(body))
  }

  /** Spark jobs started while `body` runs (listener bus drained after). */
  def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.sql.graftsql.Bridge.waitForListeners(spark)
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.sql.graftsql.Bridge.waitForListeners(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  private var suiteStartNanos = System.nanoTime()

  override def withFixture(test: NoArgTest): org.scalatest.Outcome = {
    val outcome = super.withFixture(test)
    SparkSpec.tests.incrementAndGet()
    if (outcome.isFailed) SparkSpec.failed.incrementAndGet()
    outcome
  }

  override def run(testName: Option[String], args: org.scalatest.Args): org.scalatest.Status = {
    SparkSpec.suiteStarted()
    try super.run(testName, args)
    catch { case e: Throwable => SparkSpec.aborted.incrementAndGet(); throw e }
  }

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
  private val suites = new java.util.concurrent.atomic.AtomicInteger(0)
  private val tests = new java.util.concurrent.atomic.AtomicInteger(0)
  private val failed = new java.util.concurrent.atomic.AtomicInteger(0)
  private val aborted = new java.util.concurrent.atomic.AtomicInteger(0)
  private lazy val runStartNanos = System.nanoTime()

  /** Counts a suite; the first one starts the run clock and registers
    * the line the test JVM prints last, as it exits: a log that does not
    * end with `[summary]` was cut short, and one that does names its
    * failed tests and aborted suites, and the session configuration
    * the run tested. */
  private def suiteStarted(): Unit =
    if (suites.getAndIncrement() == 0) {
      runStartNanos
      Runtime.getRuntime.addShutdownHook(new Thread(() => println(
        f"[summary] suites ${suites.get}%d, tests ${tests.get}%d, failed ${failed.get}%d, " +
          f"aborted ${aborted.get}%d, ${(System.nanoTime() - runStartNanos) / 1e9}%.1f s, " +
          tested)))
    }

  /** The configuration the session ran with, recorded as it starts. */
  @volatile private var tested = "no session"

  /** The shipped session ([[GraftSession]]) with a throwaway warehouse. */
  lazy val session: SparkSession = {
    val s = GraftSession.builder()
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    def conf(k: String) = s.conf.get(k)
    tested = s"master ${conf("spark.master")}, " +
      s"shuffle partitions ${conf("spark.sql.shuffle.partitions")}, " +
      s"cached-plan AQE ${conf("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning")}"
    s
  }
}
