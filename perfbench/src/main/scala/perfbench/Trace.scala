package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.{Bus, OpMark}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Minimal JSON rendering for the records the harness writes. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Option[_] => o.map(render).getOrElse("null")
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** One timed interval. `parent` is -1 for an operation's root span. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def toJson: String = Json.render(Map(
    "id" -> id, "parent" -> parent, "op" -> op, "name" -> name,
    "start_ns" -> startNs, "end_ns" -> endNs))
}

/** Span recorder. Spans are kept in memory and written out once the run
  * ends; the harness calls it only for traced passes. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0L
  private var stack: List[Long] = Nil
  private var op = -1L

  def root[T](opId: Long, name: String)(f: => T): T = {
    op = opId
    try span(name)(f) finally op = -1L
  }

  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1L)
    stack = id :: stack
    val t0 = System.nanoTime()
    try f
    finally {
      spans += Span(id, parent, op, name, t0, System.nanoTime())
      stack = stack.tail
    }
  }
}

/** Spark listener of the traced run. Jobs and stages are attributed to an
  * operation through the [[Recorder.OpProperty]] local property the
  * harness sets around each operation; tasks through their stage; cached
  * block updates and plan descriptions through the [[OpMark]] boundaries
  * posted on the bus. Each
  * event becomes one JSON line, kept in memory until the run ends. */
final class Recorder extends SparkListener {
  val lines = new ConcurrentLinkedQueue[String]()

  private def op(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Recorder.OpProperty)))
      .map(_.toLong).getOrElse(-1L)

  private def add(fields: (String, Any)*): Unit =
    lines.add(Json.render(fields.toMap))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    add("ev" -> "job", "job" -> e.jobId, "op" -> op(e.properties),
      "stages" -> e.stageIds)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    add("ev" -> "stage", "stage" -> e.stageInfo.stageId,
      "op" -> op(e.properties), "tasks" -> e.stageInfo.numTasks)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      add("ev" -> "task", "stage" -> e.stageId,
        "run_s" -> m.executorRunTime / 1e3,
        "gc_s" -> m.jvmGCTime / 1e3,
        "shuffle_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "in_bytes" -> m.inputMetrics.bytesRead,
        "in_rows" -> m.inputMetrics.recordsRead,
        "out_bytes" -> m.outputMetrics.bytesWritten)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD)
      add("ev" -> "block", "block" -> b.blockId.name,
        "bytes" -> (b.memSize + b.diskSize), "valid" -> b.storageLevel.isValid)
  }

  // Spark builds a plan description on every SQL action and every
  // adaptive re-plan; its length is the plan-string work of the operation
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case OpMark(id, what) => add("ev" -> what, "op" -> id)
    case x: SparkListenerSQLExecutionStart =>
      add("ev" -> "plan_string", "chars" -> x.physicalPlanDescription.length)
    case x: SparkListenerSQLAdaptiveExecutionUpdate =>
      add("ev" -> "plan_string", "chars" -> x.physicalPlanDescription.length)
    case _ => ()
  }
}

object Recorder {
  val OpProperty = "perfbench.op"

  def mark(sc: SparkContext, op: Long, what: String): Unit =
    Bus.post(sc, OpMark(op, what))
}
