package graft.tools

import org.apache.spark.sql.SparkSession

/** Round-deliverable plan capture: write `explain("formatted")` of the
  * named queries to `<outDir>/<query>_<tag>.txt`, one file per query —
  * the before/after evidence files the optimization rounds commit under
  * plans/rNN/. Runs against the bench session config (same shuffle
  * partitions, same sf dir) so the captured plans are the plans the
  * bench actually times.
  *
  * Usage: runMain graft.tools.PlanSnap <outDir> <tag> <q1,q2,...>
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: PlanSnap <outDir> <tag> <q1,q2,...>")
    val outDir = args(0)
    val tag = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // same cached-plan AQE setting as the bench session (Bench.scala)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      // queryExecution.explainString: the same text explain("formatted")
      // prints, captured instead of printed
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${n}_$tag.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plansnap] wrote $outDir/${n}_$tag.txt")
    }
    spark.stop()
  }
}
