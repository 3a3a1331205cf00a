package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev-only stage profiler (guide §1.1 "empirical loop" / §7.1, with the
  * UI disabled): run one registered query per arg through the noop sink
  * and print, per stage, wall time, task time, shuffle read/write bytes
  * and the stage's callsite name — the table the Spark UI's stage page
  * would show. Not part of the driver contract (Bench/Verify unchanged);
  * numbers here guide optimization, Bench numbers are the record.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.StageProbe entity_resolve [more keys...]"
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // same cached-plan AQE setting as the bench session (Bench.scala)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // UI ON (unlike Bench): the probe reads the SQL tab's per-operator
      // metrics back through the REST API and dumps them per query.
      .config("spark.ui.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class St(id: Int, name: String, wallMs: Long, taskMs: Long,
        tasks: Int, shRead: Long, shWrite: Long, input: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val wall = (for {
          a <- i.completionTime; b <- i.submissionTime
        } yield a - b).getOrElse(0L)
        val m = i.taskMetrics
        stages.add(St(i.stageId, i.name.takeWhile(_ != '\n'), wall,
          m.executorRunTime, i.numTasks,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead))
      }
    })

    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()

    try run("q1_flagship") catch { case _: Throwable => () } // JIT warm-up

    def slurp(url: String): String = {
      val c = new java.net.URL(url).openConnection()
      val in = c.getInputStream
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val appId = spark.sparkContext.applicationId
    val base = s"http://localhost:4040/api/v1/applications/$appId"
    def maxSqlId(): Long =
      try {
        val s = slurp(s"$base/sql?length=10000")
        "\"id\"\\s*:\\s*(\\d+)".r.findAllMatchIn(s).map(_.group(1).toLong)
          .foldLeft(-1L)(math.max)
      } catch { case scala.util.control.NonFatal(_) => -1L }

    val outDir = sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT", "/tmp/probe_sql")
    new java.io.File(outDir).mkdirs()

    for (name <- args) {
      PlanCache.clearShared()
      spark.catalog.clearCache()
      stages.clear()
      val sqlBefore = maxSqlId()
      val t0 = System.nanoTime()
      run(name)
      val sec = (System.nanoTime() - t0) / 1e9
      // dump every SQL execution this query issued, with per-node metrics
      try {
        val all = slurp(s"$base/sql?details=true&planDescription=true&length=10000")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/$name.json"),
          all.getBytes("UTF-8"))
        println(s"[probe] SQL metrics (execs > $sqlBefore) -> $outDir/$name.json")
      } catch { case scala.util.control.NonFatal(e) =>
        println(s"[probe] SQL metrics fetch failed: $e") }
      println(f"%n=== $name: $sec%.2f s ===")
      println(f"${"stage"}%6s ${"wall_ms"}%8s ${"task_ms"}%8s ${"tasks"}%6s " +
        f"${"sh_read"}%10s ${"sh_write"}%10s ${"input"}%10s  name")
      val sorted = stages.toArray(Array.empty[St]).sortBy(-_.wallMs)
      var shownMs = 0L
      sorted.foreach { s =>
        println(f"${s.id}%6d ${s.wallMs}%8d ${s.taskMs}%8d ${s.tasks}%6d " +
          f"${s.shRead}%10d ${s.shWrite}%10d ${s.input}%10d  ${s.name.take(90)}")
        shownMs += s.wallMs
      }
      println(f"stages wall total: ${shownMs / 1000.0}%.2f s over ${sorted.length} stages")
    }
    spark.stop()
  }
}
