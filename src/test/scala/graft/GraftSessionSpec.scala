package graft

/** The session factory ([[GraftSession]]): the test session carries every
  * setting the shipped session carries, and a malformed
  * `SPARK_GRAFT_CPUS` is refused before any session starts. */
class GraftSessionSpec extends SparkSpec {
  test("the test session holds every setting the factory sets, with the factory's value") {
    val conf = spark.conf
    GraftSession.settings(GraftSession.cpus).foreach { case (k, v) =>
      assert(conf.getOption(k).contains(v), s"$k: session has ${conf.getOption(k)}, factory sets $v")
    }
    assert(spark.sparkContext.defaultParallelism == GraftSession.cpus)
  }

  test("SPARK_GRAFT_CPUS: a positive integer is taken, unset is the default") {
    assert(GraftSession.parseCpus(Some("4")) == 4)
    assert(GraftSession.parseCpus(None) == GraftSession.DefaultCpus)
  }

  test("SPARK_GRAFT_CPUS: a malformed value is refused, naming the variable, before a session starts") {
    for (raw <- Seq("0", "-3", "abc", "")) {
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(Some(raw)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      // were the value taken, getOrCreate would hand back the running
      // session instead of throwing
      intercept[IllegalArgumentException](GraftSession.builder(Some(raw)).getOrCreate())
    }
  }
}
