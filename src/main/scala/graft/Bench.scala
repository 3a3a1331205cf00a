package graft

/** Per-round benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and emits ONE JSON line
  * {"metric":"total","value":<sec>,"unit":"sec","queries":{...},"sf":...}.
  *
  * Each query is forced through a noop-format write: unlike `count()`,
  * this executes the full physical plan (sorts, projections, windows)
  * without paying sink IO, so the numbers reflect real operator cost.
  * One JIT warm-up pass (flagship query) runs before timing; then THREE
  * full INTERLEAVED rounds (A,B,C,A,B,C — not A,A,B,B) and the per-query
  * MINIMUM is reported. Single-run numbers on this container swing ±50%
  * from CPU contention, and back-to-back repeats share the same
  * contention window — interleaving decorrelates the repeats so min-of-3
  * converges on the real cost (round-5 min-of-2 showed untouched queries
  * swinging 2-5× round-over-round). The emitted line additionally carries
  * `vs_anchor` — the matched-set min/median ratios against the committed
  * `bench_full.json` anchor (tools/bench_compare.py's rule), emitted only
  * when the anchor was taken at the run's scale factor and CPU count — so
  * a single run's total is self-interpreting against the anchor's noise
  * band. The line also records `cpus`, the session's CPU count.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()

    // JIT/codegen warm-up on the flagship (not timed)
    try run("q1_flagship") catch { case _: Throwable => () }

    var failed = List.empty[String]
    // Cold-cache timing: the per-JVM shared-intermediate caches (near-dup
    // pairs, cluster closures, exact ANN reference sets) and the session's
    // cached datasets are dropped BEFORE each timed run, so every recorded
    // number is the query's own cost — not a read of a neighbor's warm
    // cache. Durable artifact caches (trained quantizers, persisted index
    // handles, signature-store paths) survive: those model an offline
    // build-once-serve-many lifecycle, and their parquet layouts are on
    // disk either way. The clear itself runs outside the timer.
    // Durable-artifact BUILDS (IVF index, pair/signature stores) run once
    // per JVM inside whichever serving query touches them first; their
    // wall time is metered by BuildTimer at the build sites and SUBTRACTED
    // from that query's timing here, so every recorded number is pure
    // serve cost and the builds are reported as their own map (round-11
    // verdict: ann_ivf_appended_recall's min 2.1 s / med 13.5 s spread was
    // pure round-1 build leakage poisoning the median-based matched-set).
    def timeOnce(name: String): Double = {
      PlanCache.clearShared()
      spark.catalog.clearCache()
      val build0 = BuildTimer.totalSeconds
      val t0 = System.nanoTime()
      try run(name) catch { case e: Throwable =>
        if (!failed.contains(name)) {
          failed ::= name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      math.max(0.0, elapsed - (BuildTimer.totalSeconds - build0))
    }
    // Dev filter: SPARK_GRAFT_ONLY=q1,q2 times just those queries.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    for (_ <- 1 to 3; name <- names) {
      val t = timeOnce(name)
      samples(name) = t :: samples.getOrElse(name, Nil)
    }
    // Errored queries are recorded ONLY in `errors`: a fast-fail duration
    // (~0.05s analysis abort) in `queries` would be indistinguishable from a
    // real timing and would silently poison matched-set/baseline tooling.
    val ok = names.filterNot(failed.contains)
    val results = ok.map(name => name -> samples(name).min)
    // min/med/max of the interleaved rounds: this container swings ±30-50%
    // from CPU contention, so a single number per query makes round-over-
    // round deltas unreadable — the matched-set rule reads MEDIANS
    // (BASELINE.md), and the min/max spread is the per-query noise band.
    val medians = ok.map { name =>
      name -> samples(name).sorted.apply(samples(name).size / 2)
    }
    val maxima = ok.map(name => name -> samples(name).max)
    val errs = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // Locale-pinned: the f interpolator honors the default locale, and a
    // comma-decimal locale would emit invalid JSON.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Self-interpreting number: the committed anchor's single total and a
    // fresh run's single total straddle the min↔median noise band on this
    // container (±30-50%), so the driver-visible total alone can read as
    // a 30% "regression" the matched set shows to be 1.0x. Emit the
    // matched-set comparison (tools/bench_compare.py's rule: shared keys,
    // errored excluded, min AND median bases) against the committed
    // bench_full.json anchor right in the bench JSON. Absent or
    // unreadable anchor → field omitted.
    val vsAnchor: String = try {
      val f = new java.io.File("bench_full.json")
      lazy val root =
        new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      // only a like-for-like comparison is meaningful: the anchor is
      // recorded at one scale factor (sf0.1) and one CPU count; a dev run
      // at another sf or CPU count, or against an anchor that records no
      // CPU count, must not emit a ratio that reads as a 2x win/loss
      def matches(field: String, value: String): Boolean =
        Option(root.get(field)).map(_.asText()).contains(value)
      if (!f.exists() || !matches("sf", sfDir) || !matches("cpus", cpus.toString)) ""
      else {
        def jmap(field: String): Map[String, Double] = {
          val n = root.get(field)
          if (n == null) Map.empty
          else {
            val b = Map.newBuilder[String, Double]
            val it = n.fields()
            while (it.hasNext) {
              val e = it.next(); b += e.getKey -> e.getValue.asDouble()
            }
            b.result()
          }
        }
        val aMin = jmap("queries")
        val aMed = { val m = jmap("queries_med"); if (m.nonEmpty) m else aMin }
        val aErr = {
          val n = root.get("errors")
          if (n == null) Set.empty[String]
          else (0 until n.size()).map(n.get(_).asText()).toSet
        }
        val runMin = results.toMap
        val runMed = medians.toMap
        // matched = keys present in EVERY map the ratios read — a partial
        // or older-schema anchor (queries_med missing a key `queries`
        // has) must narrow the set, not throw and silently drop the
        // whole field
        val matched =
          (aMin.keySet & aMed.keySet & runMin.keySet & runMed.keySet) --
            aErr -- failed
        val saMin = matched.toSeq.map(aMin).sum
        val saMed = matched.toSeq.map(aMed).sum
        // both denominators must be positive: 0/0 would print literal
        // NaN, which is not valid JSON
        if (matched.isEmpty || saMin <= 0 || saMed <= 0) "" else {
          s""","vs_anchor":{"n":${matched.size},"min_ratio":${
            fmt(matched.toSeq.map(runMin).sum / saMin)},"med_ratio":${
            fmt(matched.toSeq.map(runMed).sum / saMed)}}"""
        }
      }
    } catch { case scala.util.control.NonFatal(_) => "" }
    def qmap(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    def line(entries: Seq[(String, Double)], omitted: Int, extra: String): String = {
      val omit = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","cold_caches":true,"queries":${qmap(entries)}$omit$extra,"errors":$errs,"sf":"$sfDir","cpus":$cpus}"""
    }
    // Full per-query detail lands in the JSON file (bench_last_run.json,
    // or the explicit SPARK_GRAFT_BENCH_OUT target when recording an
    // anchor); stdout gets ONE line guaranteed to fit the driver's
    // 2000-char tail capture. Every prior round's full-precision 89-entry
    // line overflowed that window and parsed as nothing, so the stdout
    // line is budgeted: slowest queries first, truncated to fit. The file
    // additionally carries the per-query median/max of the three
    // interleaved rounds and the per-artifact "builds" seconds as parallel
    // maps ("queries" stays min — the stdout schema the driver parses is
    // unchanged).
    val bySlowest = results.sortBy(-_._2)
    // The committed anchor (bench_full.json) is BUILDER-owned: a driver
    // or ad-hoc invocation writes bench_last_run.json (gitignored) so a
    // recording run can never silently clobber the anchor the matched-set
    // rule reads. Recording a new anchor is explicit:
    //   SPARK_GRAFT_BENCH_OUT=bench_full.json sbt "runMain graft.Bench"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last_run.json")
    val builds = BuildTimer.snapshot.toSeq.sortBy(-_._2)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      line(bySlowest, 0,
        s""","queries_med":${qmap(medians)},"queries_max":${qmap(maxima)}""" +
          s""","builds":${qmap(builds)}$vsAnchor""")
        .getBytes("UTF-8"))
    val budget = 1600
    val fit =
      if (line(bySlowest, 0, vsAnchor).length <= budget) bySlowest
      else {
        var kept = bySlowest
        while (kept.nonEmpty &&
            line(kept, results.size - kept.size, vsAnchor).length > budget)
          kept = kept.dropRight(1)
        kept
      }
    println(line(fit, results.size - fit.size, vsAnchor))
    spark.stop()
  }
}
