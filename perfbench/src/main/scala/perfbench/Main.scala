package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** The benchmark's JVM side. `run.py` generates a plan file from the seed
  * (operation order, store batches, deletes) and this program only
  * executes it: one client thread in a closed loop against one
  * `local[cpus]` session. It writes raw samples (`result.json`) and, in a
  * traced run, spans and listener events (`spans.jsonl`, `events.jsonl`);
  * `run.py` turns them into metrics and checks the outputs.
  *
  * Usage: perfbench.Main <plan.json>
  *        perfbench.Main --registry <out.json>   (key groups and oracle SQL)
  */
object Main {

  def main(args: Array[String]): Unit = args match {
    case Array("--registry", path) => registry(path)
    case Array(planPath) =>
      val h = new Harness(new ObjectMapper().readTree(new java.io.File(planPath)))
      try h.run() finally h.stop()
    case _ =>
      System.err.println("usage: perfbench.Main <plan.json> | --registry <out.json>")
      sys.exit(2)
  }

  /** The registry's key groups and oracle SQL, for the workload lists and
    * the expected-output generator. */
  def registry(path: String): Unit = {
    def names(qs: Seq[graft.Queries.QDef]) = qs.map(_.name)
    val body = Json.render(Map(
      "core" -> names(graft.Queries.core), "rel" -> names(graft.Rel.all),
      "tpch" -> names(graft.Tpch.all), "ext" -> names(graft.Ext.all),
      "oracle" -> graft.SparkEntry.oracleSql))
    Files.write(Paths.get(path), body.getBytes("UTF-8"))
  }

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq
  def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong()).toSeq
}

/** One executed operation. `kind` is `query` for registry keys and
  * `write` / `read` for store verbs. */
final case class OpRecord(id: Long, pass: Int, key: String, kind: String,
    seconds: Double, traced: Boolean, error: Option[String], out: Option[String],
    gcS: Double, explainS: Double) {
  def toMap: Map[String, Any] = Map(
    "id" -> id, "pass" -> pass, "key" -> key, "kind" -> kind, "s" -> seconds,
    "traced" -> traced, "error" -> error, "out" -> out, "gc_s" -> gcS,
    "explain_s" -> explainS)
}

final class Harness(plan: JsonNode) {
  import Main._

  val workload: String = plan.get("workload").asText()
  val seconds: Double = plan.get("seconds").asDouble()
  val trace: Boolean = plan.get("trace").asBoolean()
  val data: String = plan.get("data").asText()
  val work: String = plan.get("work").asText()
  val out: String = plan.get("out").asText()
  val cpus: Int = plan.get("cpus").asInt()

  var spark: SparkSession = _
  val tracer = new Tracer
  val recorder = new Recorder
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  val setups = mutable.ArrayBuffer.empty[Map[String, Any]]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  private var nextOp = 0L
  private var currentOp = -1L
  private var tracing = false
  private val written = mutable.Set.empty[String]
  private lazy val churn = new Churn(this, plan.get("churn"))

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcSeconds: Double = gcBeans.map(_.getCollectionTime.max(0L)).sum / 1e3
  private def heapAfterGcMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  private var heapAfterGcPeak = 0.0

  def newSession(): Unit = {
    if (spark != null) spark.stop()
    graft.PlanCache.clearAll()
    graft.BuildTimer.reset()
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** Live driver heap: once the listener bus is drained, a full GC, a
    * pause for Spark's cleaner to drop the blocks whose owners that GC
    * found unreachable, and a second GC. */
  private def settledHeapMb(): Double = {
    Bus.drain(spark.sparkContext)
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def run(): Unit = {
    for (i <- 0 until plan.get("setups").asInt()) {
      val t0 = System.nanoTime()
      newSession()
      workload match {
        case "store_churn" => churn.setup()
        case _ => strings(plan.get("warmup")).foreach(k => runQuery(k, -1 - i))
      }
      val s = (System.nanoTime() - t0) / 1e9
      setups += Map("s" -> s, "builds" -> graft.BuildTimer.snapshot)
    }
    // a traced run's untraced passes are the base of the tracing overhead,
    // so one unrecorded pass first takes the first pass's colder JIT out
    if (trace && workload != "store_churn")
      strings(plan.get("passes").get(0)).foreach(k => runQuery(k, -1))
    if (trace) spark.sparkContext.addSparkListener(recorder)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var p = 0
    // A traced run traces the passes the plan marks, so that the tracing
    // overhead is measured within the run. Query workloads run whole
    // passes for `seconds`; store_churn runs its fixed number of rounds,
    // because each round's work depends on the history before it.
    val order = plan.get("passes")
    val tracedPasses = plan.get("traced_passes")
    val timeBound = workload != "store_churn"
    while ((!timeBound || elapsed < seconds) && p < plan.get("max_passes").asInt()) {
      val traced = trace && tracedPasses.get(p).asBoolean()
      tracing = traced
      val before = ops.size
      val w0 = System.nanoTime()
      workload match {
        case "store_churn" => churn.round(p)
        case _ => strings(order.get(p)).foreach(k => runQuery(k, p))
      }
      val wall = (System.nanoTime() - w0) / 1e9
      tracing = false
      val heap = settledHeapMb()
      passes += Map("pass" -> p, "wall_s" -> wall, "traced" -> traced,
        "ops" -> (ops.size - before), "op_s" -> ops.drop(before).map(_.seconds).sum,
        "heap_mb" -> heap)
      p += 1
    }
    extra("measured_s") = elapsed
    if (workload == "store_churn") churn.finish()
    if (trace) {
      Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(recorder)
    }
    extra("heap_after_gc_peak_mb") = heapAfterGcPeak
    extra("builds") = graft.BuildTimer.snapshot
    write()
  }

  /** Time `f` as operation `key`: the root span, the local property that
    * attributes Spark jobs to it, and the op boundary marks. Returns the
    * body's result (None if it threw) and the record. */
  def timed[T](key: String, kind: String, pass: Int)(f: => T): (Option[T], OpRecord) = {
    val id = nextOp
    nextOp += 1
    currentOp = id
    val sc = spark.sparkContext
    sc.setLocalProperty(Recorder.OpProperty, id.toString)
    if (tracing) Recorder.mark(sc, id, "op_start")
    val g0 = gcSeconds
    val t0 = System.nanoTime()
    val (res, err) =
      try {
        val r = if (tracing) tracer.root(id, "op")(f) else f
        (Some(r), None)
      } catch { case NonFatal(e) => (None, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))) }
    val s = (System.nanoTime() - t0) / 1e9
    val gc = gcSeconds - g0
    if (tracing) Recorder.mark(sc, id, "op_end")
    sc.setLocalProperty(Recorder.OpProperty, null)
    heapAfterGcPeak = heapAfterGcPeak.max(heapAfterGcMb)
    (res, OpRecord(id, pass, key, kind, s, tracing, err, None, gc, 0.0))
  }

  def span[T](name: String)(f: => T): T = if (tracing) tracer.span(name)(f) else f

  /** Construct, plan and collect a DataFrame-returning operation. */
  def collectOp(key: String, kind: String, pass: Int)(make: => DataFrame)
      : (Option[(DataFrame, Array[Row])], OpRecord) =
    timed(key, kind, pass) {
      val df = span("construct")(make)
      if (tracing) Recorder.mark(spark.sparkContext, currentOp, "construct_end")
      span("plan")(df.queryExecution.executedPlan)
      val rows = span("action")(df.collect())
      (df, rows)
    }

  /** Time to build one formatted explain of the operation's final plan,
    * measured after the operation. */
  def explain(rec: OpRecord, df: DataFrame): OpRecord =
    if (!tracing) rec
    else {
      val t0 = System.nanoTime()
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      rec.copy(explainS = (System.nanoTime() - t0) / 1e9)
    }

  /** One registry key: shared caches are cleared first, outside the
    * timer; the output is kept for the check, also outside the timer.
    * Warm-up runs (negative pass) are not recorded. */
  def runQuery(key: String, pass: Int): Unit = {
    graft.PlanCache.clearShared()
    spark.catalog.clearCache()
    val fn = graft.SparkEntry.queries(key)
    val (res, rec0) = collectOp(key, "query", pass)(fn(spark, data))
    if (pass >= 0) {
      val rec = res.fold(rec0) { case (df, rows) =>
        explain(rec0, df).copy(out = Some(keep(key, df, rows)))
      }
      ops += rec
    }
  }

  /** Write an output once per distinct content; returns its directory,
    * relative to the output root. */
  def keep(key: String, df: DataFrame, rows: Array[Row]): String = {
    val fp = scala.util.hashing.MurmurHash3.orderedHash(rows.iterator.map(_.toString))
    val rel = s"$key/${fp.toHexString}"
    if (!written.contains(rel)) {
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/outputs/$rel")
      written += rel
    }
    rel
  }

  private def write(): Unit = {
    def save(name: String, body: String): Unit =
      Files.write(Paths.get(s"$out/$name"), body.getBytes("UTF-8"))
    val result = Map(
      "workload" -> workload, "setups" -> setups, "ops" -> ops.map(_.toMap),
      "passes" -> passes, "checks" -> checks, "extra" -> extra)
    save("result.json", Json.render(result))
    if (trace) {
      save("spans.jsonl", tracer.spans.map(_.toJson).mkString("", "\n", "\n"))
      save("events.jsonl", recorder.lines.asScala.mkString("", "\n", "\n"))
    }
  }
}
