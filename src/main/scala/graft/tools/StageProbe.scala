package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Empirical per-stage profile of named queries (optimization guide §1.1):
  * runs each query through the bench's noop-sink convention and prints,
  * per stage, wall duration, task count, input bytes, and shuffle
  * read/write bytes — the stage-level view the Spark UI would give,
  * captured headless so "where does the time go" is answerable on this
  * box. Repeats each query `reps` times (cold caches per rep, like the
  * bench) and prints every rep so contention swings are visible.
  *
  * The session is [[graft.GraftSession]]'s, so the stages profiled are
  * the ones Bench times.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sfDir> SPARK_GRAFT_CPUS=<n> \
  *   sbt "runMain graft.tools.StageProbe <q1,q2,...> [reps]"
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StageProbe <q1,q2,...> [reps]")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 1) args(1).toInt else 1
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder().appName("graft-stage-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // stage records accumulated by the listener; drained per query rep
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        val m = si.taskMetrics
        val dur = (for {
          c <- si.completionTime; s <- si.submissionTime
        } yield c - s).getOrElse(-1L)
        stages.add(f"    stage ${si.stageId}%4d ${dur}%6d ms " +
          f"tasks=${si.numTasks}%3d in=${m.inputMetrics.bytesRead}%10d " +
          f"sr=${m.shuffleReadMetrics.totalBytesRead}%10d " +
          f"sw=${m.shuffleWriteMetrics.bytesWritten}%10d  ${si.name.take(60)}")
      }
      override def onJobStart(ev: SparkListenerJobStart): Unit =
        jobs.add(s"  job ${ev.jobId} stages=${ev.stageIds.mkString(",")}")
    })

    // warm-up (JIT, codegen cache) like the bench
    try graft.SparkEntry.queries("q1_flagship")(spark, sfDir)
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }

    for (rep <- 1 to reps; n <- names) {
      graft.PlanCache.clearShared()
      spark.catalog.clearCache()
      stages.clear(); jobs.clear()
      val b0 = graft.BuildTimer.totalSeconds
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      val el = (System.nanoTime() - t0) / 1e9
      val build = graft.BuildTimer.totalSeconds - b0
      // give the listener bus a beat to drain
      Thread.sleep(300)
      println(f"== $n rep$rep total=${el}%.3f s (build=${build}%.3f s)")
      jobs.forEach(j => println(j))
      val sorted = stages.toArray(Array.empty[String]).sorted
      sorted.foreach(println)
      val stageSum = sorted.flatMap(s =>
        "\\d+ ms".r.findFirstIn(s).map(_.dropRight(3).trim.toLong)).sum
      println(f"   Σ stage wall = ${stageSum / 1000.0}%.3f s " +
        f"(gap to total = driver/planning)")
    }
    spark.stop()
  }
}
