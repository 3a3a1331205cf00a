package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured. [[Bench]], [[Verify]],
  * the `tools` mains and the test suites all build their session from
  * [[builder]], so the configuration that is tested is the one that
  * ships; each caller adds only what is its own (app name, log level,
  * a warehouse dir).
  *
  * The session runs `local[N]` with N shuffle partitions, N taken from
  * `SPARK_GRAFT_CPUS` (default [[DefaultCpus]]).
  */
object GraftSession {
  val CpusVar = "SPARK_GRAFT_CPUS"
  val DefaultCpus = 4

  /** The CPU count `raw` (the value of `SPARK_GRAFT_CPUS`) names: unset
    * means [[DefaultCpus]]; anything but a positive integer is refused
    * with an `IllegalArgumentException` naming the variable. */
  def parseCpus(raw: Option[String]): Int = raw.fold(DefaultCpus) { s =>
    val n = s.toIntOption.filter(_ > 0)
    require(n.isDefined, s"$CpusVar must be a positive integer, got '$s'")
    n.get
  }

  /** The CPU count this process's `SPARK_GRAFT_CPUS` names. */
  def cpus: Int = parseCpus(sys.env.get(CpusVar))

  /** Every setting the factory puts on a session at `cpus` CPUs. */
  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // Tables.events refuses any other zone
    "spark.sql.session.timeZone" -> "UTC",
    // events.parquet stores TIMESTAMP(NANOS); see Tables.events
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Let AQE re-optimize (coalesce) the plans that materialize CACHED
    // intermediates (persisted pair tables, closure label rounds, graph
    // edge tables). Off, every cache materializes at the static
    // shuffle-partition count and every consumer stage pays that task
    // count regardless of the cached bytes (a per-stage probe at sf0.1
    // showed hundreds of 32-task stages over KB-sized caches; partitions
    // should be sized by bytes, which AQE does). Scale-adaptive by
    // construction — AQE only coalesces when actual bytes are small —
    // so the same setting is right at 100 TB.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.ui.enabled" -> "false")

  /** A builder carrying [[settings]] at the CPU count `rawCpus` names;
    * a refused count throws here, before any session starts. */
  def builder(rawCpus: Option[String] = sys.env.get(CpusVar)): SparkSession.Builder =
    settings(parseCpus(rawCpus)).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }
}
