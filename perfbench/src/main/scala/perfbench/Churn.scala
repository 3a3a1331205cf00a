package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{IvfIndex, NearDup, PairStore, SignatureStore}

/** The `store_churn` workload: three durable stores built over a seeded
  * slice of `documents` / `embeddings`, then rounds of appends, deletes,
  * reads and vacuums, all taken from the plan. The survivors are tracked
  * here so that the final check can recompute each store's answers from
  * scratch. */
final class Churn(h: Harness, plan: JsonNode) {
  import Main.longs

  private def spark = h.spark
  private val threshold = 0.5
  private val nCells = plan.get("ivf_cells").asInt()
  private val topK = plan.get("top_k").asInt()
  private val nProbe = plan.get("ivf_probe").asInt()
  private val vacuumKeep = plan.get("vacuum_keep").asInt()
  private val rounds = plan.get("rounds")

  private var docsLive = Seq.empty[Long]
  private var vecsLive = Seq.empty[Long]
  private var ivf: IvfIndex = _
  private def dir(name: String) = s"${h.work}/stores/$name"

  private def ids(xs: Seq[Long], name: String): DataFrame = {
    val s = spark
    import s.implicits._
    xs.toDF(name)
  }
  private def docs(xs: Seq[Long]): DataFrame =
    Tables.documents(spark, h.data).join(ids(xs, "doc_id"), "doc_id")
  private def vecs(xs: Seq[Long]): DataFrame =
    Tables.embeddings(spark, h.data).join(ids(xs, "vec_id"), "vec_id")

  /** Build the three stores afresh over the initial slice, then run the
    * plan's warm-up round against them. The builds are timed as
    * `BuildTimer` entries, as the registry's own store builds are. */
  def setup(): Unit = {
    deleteRecursively(java.nio.file.Paths.get(h.work, "stores"))
    for (n <- Seq("pairs", "sigs", "ivf", "check_sigs"))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir(n)))
    docsLive = longs(plan.get("init_docs"))
    vecsLive = longs(plan.get("init_vecs"))
    val d = docs(docsLive)
    graft.BuildTimer.timed("pair_store") {
      PairStore.build(d.select(col("doc_id")), NearDup.ngramJaccardPairs(d, threshold),
        dir("pairs"), "doc_id", "id_a", "id_b")
    }
    graft.BuildTimer.timed("signature_store")(SignatureStore.build(d, dir("sigs")))
    ivf = graft.BuildTimer.timed("ivf_index") {
      IvfIndex.build(vecs(vecsLive), "vec_id", "embedding", nCells, dir("ivf"))
    }
    round(plan.get("warmup_round"), -1)
  }

  private def deleteRecursively(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }

  // the warm-up round (pass -1) is not recorded
  private def write(key: String, pass: Int)(f: => Unit): Unit = {
    val (_, rec) = h.timed(key, "write", pass)(h.span(key)(f))
    if (pass >= 0) h.ops += rec
  }

  private def read(key: String, pass: Int)(make: => DataFrame): Unit = {
    val (res, rec0) = h.collectOp(key, "read", pass)(h.span(key)(make))
    if (pass >= 0) h.ops += res.fold(rec0) { case (df, _) => h.explain(rec0, df) }
  }

  /** Timed round `p` of the plan. */
  def round(p: Int): Unit = round(rounds.get(p), p)

  private def round(r: JsonNode, p: Int): Unit = {
    val addDocs = longs(r.get("add_docs")).filterNot(docsLive.contains)
    val addVecs = longs(r.get("add_vecs")).filterNot(vecsLive.contains)
    val batch = docs(addDocs)
    val ingested = docs(docsLive)
    write("pair_append", p) {
      PairStore.append(batch.select(col("doc_id")),
        NearDup.ngramJaccardAcross(batch, ingested, threshold)
          .unionByName(NearDup.ngramJaccardPairs(batch, threshold)),
        dir("pairs"), "doc_id", "id_a", "id_b")
    }
    write("sig_append", p)(SignatureStore.append(batch, dir("sigs")))
    write("ivf_append", p)(ivf.appendBatch(vecs(addVecs), "vec_id", "embedding"))
    docsLive ++= addDocs
    vecsLive ++= addVecs

    val delDocs = longs(r.get("del_docs")).filter(docsLive.contains)
    val delVecs = longs(r.get("del_vecs")).filter(vecsLive.contains)
    if (delDocs.nonEmpty) {
      write("pair_delete", p)(PairStore.delete(ids(delDocs, "doc_id"),
        dir("pairs"), "doc_id", "id_a", "id_b"))
      write("sig_delete", p)(SignatureStore.delete(spark, ids(delDocs, "doc_id"), dir("sigs")))
      docsLive = docsLive.filterNot(delDocs.toSet)
    }
    if (delVecs.nonEmpty) {
      write("ivf_delete", p)(ivf.delete(ids(delVecs, "vec_id"), "vec_id"))
      vecsLive = vecsLive.filterNot(delVecs.toSet)
    }

    read("pair_labels", p)(PairStore.labels(spark, dir("pairs")).orderBy(col("doc_id")))
    read("sig_screen", p)(SignatureStore.screenBatch(spark,
      docs(longs(r.get("probe_docs"))), dir("sigs"), threshold))
    read("ivf_topk", p)(ivf.topK(vecs(longs(r.get("query_vecs"))),
      "vec_id", "embedding", topK, nProbe))

    if (r.get("vacuum").asBoolean()) {
      write("pair_vacuum", p)(PairStore.vacuum(spark, dir("pairs"), vacuumKeep))
      write("sig_vacuum", p)(SignatureStore.vacuum(spark, dir("sigs"), vacuumKeep))
      write("ivf_vacuum", p)(ivf.vacuum(vacuumKeep))
    }
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Cluster labels of the live docs under `pairs`, by union-find on the
    * driver: every doc is labelled with the smallest id of its cluster. */
  private def closure(pairs: DataFrame): Seq[String] = {
    val parent = mutable.Map(docsLive.map(d => d -> d): _*)
    def find(x: Long): Long = {
      val p = parent(x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for (r <- pairs.select("id_a", "id_b").collect()) {
      val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    docsLive.map(d => org.apache.spark.sql.Row(d, find(d)).toString).sorted
  }

  private def bytesUnder(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val walk = java.nio.file.Files.walk(p)
      try walk.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally walk.close()
    }
  }

  /** Checks against answers recomputed from scratch over the survivors,
    * and the space figures; all outside the timed interval. */
  def finish(): Unit = {
    val t0 = System.nanoTime()
    def check(name: String)(churned: => Seq[String], fresh: => Seq[String]): Unit = {
      val c0 = System.nanoTime()
      val (ok, why) =
        try {
          val (a, b) = (churned, fresh)
          if (a == b) (true, "") else (false, s"${a.size} rows vs ${b.size} from scratch")
        } catch { case scala.util.control.NonFatal(e) => (false, e.toString.take(400)) }
      h.checks += Map("name" -> name, "ok" -> ok, "why" -> why,
        "s" -> (System.nanoTime() - c0) / 1e9)
    }
    val d = docs(docsLive)
    val probe = docs(longs(plan.get("check_docs")))
    val queries = vecs(longs(plan.get("check_vecs")))
    check("pair_labels")(
      sorted(PairStore.labels(spark, dir("pairs")).select("doc_id", "cluster_id")),
      closure(NearDup.ngramJaccardPairs(d, threshold)))
    check("sig_screen")(
      sorted(SignatureStore.screenBatch(spark, probe, dir("sigs"), threshold)), {
        SignatureStore.build(d, dir("check_sigs"))
        sorted(SignatureStore.screenBatch(spark, probe, dir("check_sigs"), threshold))
      })
    check("ivf_topk")(
      sorted(ivf.topK(queries, "vec_id", "embedding", topK, nCells)),
      sorted(graft.functions.Similarity.bruteForceTopK(vecs(vecsLive), queries,
        "vec_id", "embedding", topK)))
    val storeBytes = Seq("pairs", "sigs", "ivf").map(n => bytesUnder(dir(n))).sum
    d.coalesce(1).write.mode("overwrite").parquet(dir("survivors_docs"))
    vecs(vecsLive).coalesce(1).write.mode("overwrite").parquet(dir("survivors_vecs"))
    val userBytes = bytesUnder(dir("survivors_docs")) + bytesUnder(dir("survivors_vecs"))
    h.extra("finish_s") = (System.nanoTime() - t0) / 1e9
    h.extra("store_bytes") = storeBytes
    h.extra("user_bytes") = userBytes
    h.extra("survivors") = Map("docs" -> docsLive.size, "vecs" -> vecsLive.size)
  }
}
