package graft.functions

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{array, broadcast, coalesce, col, explode, hash,
  input_file_name, lit, pmod, regexp_extract}
import org.apache.spark.sql.types._

/** The store tier's one generational commit core: the versioned stores
  * ([[PairStore]], [[SignatureStore]], [[IvfIndex]]) stage, publish and
  * vacuum through it, and [[ModelStore]]'s `_MODEL` pointer goes through
  * the same [[publish]]. Each store supplies only its manifest lines and
  * its data layout. The one layout under a store `dir`:
  *
  *   - data lands in salted generation dirs `<prefix>_g<v>.<salt>/`
  *     ([[saltedGenDir]]): named for the version they were staged for,
  *     unique per attempt, written completely BEFORE any commit. A
  *     generation holds parquet part files, or partition leaves
  *     (`<col>=<value>/`) that readers address directly;
  *   - `history/v<N>` is the version-N manifest: a leading per-commit
  *     `nonce` line that makes the published content ownable, a
  *     `version` line, then the store's `key value...` lines naming every
  *     generation, leaf or file version N reads;
  *   - publishing the manifest IS the commit ([[commitManifest]]). A
  *     crash before it leaves unreferenced garbage: [[vacuum]] reaps
  *     every generation, leaf or file no retained manifest references,
  *     and [[recover]] reaps the generations staged above the committed
  *     head. A loser of a racing commit throws
  *     `ConcurrentModificationException` with the store unharmed.
  *
  * Every store resolves the version it reads, the head or a pin,
  * through the one [[pinned]] read, and every commit passes the one
  * pre-commit seam ([[onBeforeCommit]]). Store verbs read generations
  * through [[readParquet]] (a memoized schema, so a read starts no
  * Spark job) and take their batch-sized inputs through [[localRows]],
  * under the one row bound ([[LocalRows]]) that decides whether a verb's
  * batch-sized work runs on the driver. They write, delete from and
  * compact their generations through one path each:
  *
  *   - [[writeGeneration]] writes every data generation (files, or
  *     partition leaves) and tells its caller whether it holds a row;
  *   - [[withIds]] chooses a delete's id set once ([[Ids]]): the
  *     collected ids as `InSet` filters, or a checkpointed frame matched
  *     with broadcast joins;
  *   - [[copyOnWrite]] is the file-pruned delete: it rewrites only the
  *     files holding a deleted id;
  *   - [[compact]] folds live data into ~target-size files.
  *
  * '''Exclusive publish.''' HDFS `rename` onto an existing file fails
  * atomically, but POSIX rename(2) REPLACES — so on local filesystems the
  * exists-precheck + rename protocol has a residual window where a
  * stalled loser clobbers a winner that already read-back-verified. Here
  * the local-FS publish goes through `Files.createLink` (hard link,
  * atomic create-exclusive at the kernel level) instead of rename, which
  * closes that window completely: of N same-version publishers, the
  * filesystem itself admits exactly one.
  */
private[graft] object StoreCommit {

  def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ------------------------------------------------------------------ //
  // batch-sized verbs: the driver-local path and its row bound
  // ------------------------------------------------------------------ //

  /** The most rows a store verb collects to the driver to do its
    * batch-sized work there — the reference library's eager, in-memory
    * model, used only where an input is small by contract (a verb's
    * batch, the stored rows that batch touches). A row is a few ids, or
    * ONE shingle hash of a signature (the screen collects signatures
    * exploded), so the bound caps what a verb holds on the driver, and
    * the literal sets it filters store scans with, at 10,000 small rows
    * (a few MB), whatever the document lengths. */
  val LocalRows = 10000

  /** Test seam: the bound [[localRows]] applies; 0 keeps every verb on
    * its distributed path. [[LocalRows]] in production. */
  @volatile private[graft] var localRowsBound: Int = LocalRows

  /** `df`'s rows when it has at most [[localRowsBound]] of them, else
    * None — one run of the frame's plan either way (a `limit` one row
    * past the bound), so a frame above the bound is never collected
    * whole. Always None at bound 0. */
  def localRows(df: DataFrame): Option[Array[Row]] = {
    val bound = localRowsBound
    if (bound <= 0) None
    else {
      val rows = df.limit(bound + 1).collect()
      if (rows.length > bound) None else Some(rows)
    }
  }

  /** Whether `n` rows fit the bound [[localRows]] applies — for a verb
    * that sizes a frame before collecting it. */
  def fitsLocal(n: Long): Boolean = localRowsBound > 0 && n <= localRowsBound

  /** `c IN values`, built as Catalyst's `InSet` directly. An `isin`
    * over thousands of literals makes the analyzer and optimizer walk
    * every literal child before folding them into this same set, which
    * cost more than the driver-local delete saved at a few thousand ids.
    * `values`: Scala values of `c`'s type, no nulls. */
  def inSet(c: Column, values: Seq[Any]): Column =
    org.apache.spark.sql.graftsql.Bridge.toColumn(
      org.apache.spark.sql.catalyst.expressions.InSet(
        org.apache.spark.sql.graftsql.Bridge.toExpression(c),
        values.map(org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst).toSet))

  /** The id types the driver-local paths accept: their ordering and
    * equality on the driver (as `Long`) are Catalyst's. Other id types
    * keep Catalyst semantics through the distributed paths. */
  def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** `x` as a value of the integral type `t`. */
  def boxAs(t: DataType)(x: Long): Any = t match {
    case LongType    => x
    case IntegerType => x.toInt
    case ShortType   => x.toShort
    case ByteType    => x.toByte
    case _ => throw new IllegalArgumentException(s"not an integral type: $t")
  }

  /** A driver-local frame of `rows` (a `LocalRelation`). */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Each value of integral type `t` mapped to `pmod(hash(v), modulus)` —
    * the same Catalyst expression the stores bucket by, evaluated over a
    * `LocalRelation` (folded on the driver, no job). */
  def residues(spark: SparkSession, t: DataType, modulus: Int, values: Seq[Long]): Map[Long, Int] =
    if (values.isEmpty) Map.empty
    else {
      val vs = values.distinct
      vs.zip(localFrame(spark, StructType(Seq(StructField("v", t))), vs.map(x => Row(boxAs(t)(x))))
        .select(pmod(hash(col("v")), lit(modulus))).collect().map(_.getInt(0))).toMap
    }

  // ------------------------------------------------------------------ //
  // deletes: the one id set and the one file-pruned copy-on-write
  // ------------------------------------------------------------------ //

  /** The ids a delete removes, chosen once by [[withIds]]: `Right`, the
    * distinct non-null ids collected under the row bound, filter scans
    * as `InSet`s; `Left`, the ids' distinct eagerly checkpointed frame,
    * is matched with broadcast semi and anti joins. */
  final class Ids private[StoreCommit] (
      private[StoreCommit] val chosen: Either[DataFrame, Seq[Any]]) {

    /** The collected ids, when they were collected. */
    def values: Option[Seq[Any]] = chosen.toOption

    /** No id to delete (collected, and none was there). */
    def isEmpty: Boolean = values.exists(_.isEmpty)

    /** `df`'s rows whose `key` is a deleted id. */
    def matching(df: DataFrame, key: String): DataFrame = chosen match {
      case Right(vs) => df.filter(inSet(col(key), vs))
      case Left(frame) => df.join(broadcast(frame.toDF(key)), Seq(key), "left_semi")
    }

    /** `df`'s rows none of whose `keys` is a deleted id, in `df`'s column
      * order (a USING join moves its key first, and a reader takes its
      * schema from the first file it lists). */
    def survivors(df: DataFrame, keys: Seq[String]): DataFrame = chosen match {
      case Right(vs) =>
        df.filter(keys.map(k => !coalesce(inSet(col(k), vs), lit(false))).reduce(_ && _))
      case Left(frame) =>
        keys.foldLeft(df)((d, k) => d.join(broadcast(frame.toDF(k)), Seq(k), "left_anti"))
          .select(df.columns.map(col): _*)
    }

    /** The distinct values of `tag` over `df`'s rows with a deleted id in
      * any of `keys`, collected — one scan. Several keys are exploded
      * against the broadcast frame: an OR of equalities would plan as a
      * nested-loop join. */
    def tags(df: DataFrame, keys: Seq[String], tag: Column): Seq[Any] = {
      val hits = chosen match {
        case Right(vs) => df.select(tag.as("_t") +: keys.map(col): _*)
          .filter(keys.map(k => inSet(col(k), vs)).reduce(_ || _)).select(col("_t"))
        case Left(_) => matching(df.select(tag.as("_t"), (if (keys.size == 1) col(keys.head)
          else explode(array(keys.map(col): _*))).as("_id")), "_id").select(col("_t")).distinct()
      }
      if (isEmpty) Seq.empty else hits.collect().map(_.get(0)).distinct.toSeq
    }
  }

  /** `body` over the ids in the one-column frame `ids`: collected when
    * the caller's type rule holds (`local`) and they fit the row bound
    * ([[localRows]]), else checkpointed — released when `body` returns
    * or throws (a commit that lost its CAS race). `checkpointed`: `ids`
    * is already built from checkpointed frames only, so it is used as is
    * and its cache stays the caller's. */
  def withIds[T](ids: DataFrame, local: Boolean, checkpointed: Boolean = false)(
      body: Ids => T): T = {
    val del = new Ids((if (local) localRows(ids) else None) match {
      case Some(rows) => Right(rows.toSeq.filterNot(_.isNullAt(0)).map(_.get(0)).distinct)
      case None if checkpointed => Left(ids.toDF("_id"))
      case None => Left(ids.toDF("_id").distinct().localCheckpoint(true))
    })
    try body(del)
    finally if (!checkpointed) del.chosen.left.foreach(_.unpersist(blocking = false))
  }

  /** The one file-pruned copy-on-write delete from the data files `live`
    * (relative to `dir`): one scan of the `keys` columns, each row tagged
    * with its file, finds the files holding a deleted id — unless the
    * caller's own scan found them (`dead`) — and only those files'
    * survivor rows are rewritten, as one generation of `prefix` for
    * version `v` ([[writeGeneration]]). Returns the new live list, or
    * None when no live file holds a deleted id: nothing to commit. */
  def copyOnWrite(
      spark: SparkSession, dir: String, prefix: String, v: Long, live: Seq[String],
      ids: Ids, keys: Seq[String], dead: Option[Set[String]] = None): Option[Seq[String]] = {
    def read(files: Seq[String]) = readParquet(spark, files.map(f => s"$dir/$f"))
    val gone = dead.getOrElse {
      val abs = ids.tags(read(live), keys, input_file_name()).map(_.toString)
      live.filter(f => abs.exists(_.endsWith("/" + f))).toSet
    }
    if (gone.isEmpty) None
    else Some(live.filterNot(gone) ++
      writeGeneration(ids.survivors(read(gone.toSeq.sorted), keys), dir, prefix, v).paths)
  }

  // ------------------------------------------------------------------ //
  // reads
  // ------------------------------------------------------------------ //

  /** Parquet `paths` (absolute, at least one) read with the memoized
    * schema of the first ([[graft.Tables.readParquet]]), keyed by that
    * path alone: store generations are immutable once written (salted
    * dirs), and a rebuilt or compacted store mints new salted paths — so
    * the key never aliases two schemas. */
  def readParquet(spark: SparkSession, paths: Seq[String]): DataFrame =
    graft.Tables.readParquet(spark, paths, stamp = "")

  // ------------------------------------------------------------------ //
  // manifests and commits
  // ------------------------------------------------------------------ //

  /** Committed manifest versions under `dir/history`. */
  def committedVersions(fs: FileSystem, dir: String): Seq[Long] = {
    val hist = new Path(s"$dir/history")
    if (!fs.exists(hist)) Seq.empty
    else fs.listStatus(hist).toSeq
      .flatMap(s => "^v(\\d+)$".r.findFirstMatchIn(s.getPath.getName)
        .map(_.group(1).toLong))
  }

  /** Newest committed version, or a loud failure naming the store. */
  def currentVersion(fs: FileSystem, dir: String, store: String): Long =
    committedVersions(fs, dir).maxOption.getOrElse(
      throw new IllegalStateException(
        s"$dir is not a $store (no committed manifest) — run build() first"))

  /** Non-empty trimmed lines of manifest `v` (throws if never committed)
    * — always a PHYSICAL read, counted in [[manifestFileReads]]. Serve
    * paths go through [[readManifestLinesCached]]. */
  private def readManifestLines(fs: FileSystem, dir: String, v: Long): Seq[String] = {
    manifestFileReads.incrementAndGet()
    readLines(fs, new Path(s"$dir/history/v$v"))
  }

  /** Non-empty trimmed lines of the small text file `p`. */
  def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    finally in.close()
  }

  /** The one pinned read of a versioned store: version `at` of the store
    * at `dir` — the committed head ([[currentVersion]]) when None — with
    * each line of its manifest fed to `parse`, split on spaces, through
    * the serve-path memo ([[readManifestLinesCached]]). The `nonce` and
    * `version` lines are dropped; a line `parse` does not define is a
    * loud corruption error. `Some(v)` fails loudly unless `v` is
    * committed and not yet vacuumed. Returns the version read. */
  def pinned(fs: FileSystem, dir: String, store: String, at: Option[Long])(
      parse: PartialFunction[Array[String], Unit]): Long = {
    val v = at.getOrElse(currentVersion(fs, dir, store))
    if (at.isDefined)
      require(fs.exists(new Path(s"$dir/history/v$v")),
        s"$store $dir has no committed version $v (never written, or " +
          "vacuumed past retention)")
    readManifestLinesCached(fs, dir, v).map(_.split(" ")).foreach {
      case Array("nonce" | "version", _) => ()
      case f => parse.applyOrElse(f, (_: Array[String]) =>
        throw new IllegalStateException(s"corrupt $store manifest line " +
          s"'${f.mkString(" ")}' in $dir/history/v$v"))
    }
    v
  }

  /** Physical manifest-file reads performed by this JVM — the test seam
    * pinning that pinned-version serve reads hit the memo (no second
    * open of `history/vN`). */
  private[graft] val manifestFileReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** [[readManifestLines]] through a per-JVM memo — the SERVE path.
    *
    * Committed manifests are immutable by the protocol (publish is
    * create-exclusive; nothing ever rewrites `history/vN` in place), so
    * (dir, version) → lines is a pure function and every query against a
    * pinned or current version can skip the open+read after the first —
    * measured at +0.3–0.6 s/query across the ANN/IVF serve family when
    * each probe re-resolved its manifest (round-14 drift). Three
    * staleness edges, all handled:
    *
    *   - a SAME-JVM rebuild (build() restarts history at v0 in the same
    *     dir) would alias old content under a recycled (dir, v) key —
    *     [[commitManifest]] drops the dir's memo entries on every
    *     commit, and commits are the only in-JVM way (dir, v) content
    *     can change;
    *   - a CROSS-JVM rebuild can recycle (dir, v0) without this JVM ever
    *     seeing a commit — so every memo hit is validated against the
    *     manifest's leading `nonce` line via ONE positional read of its
    *     first bytes ([[validateNonceHit]]): the nonce is minted fresh
    *     per commit (62 random bits), so a recycled (dir, v) can NEVER
    *     serve stale lines — unlike the pre-round-17 (length,
    *     modificationTime) stat compare, which aliased a same-length
    *     rewrite landing within the filesystem's mtime granularity tick.
    *     Cost: an open + ≤64-byte pread instead of a stat — on an object
    *     store a ranged GET in place of a HEAD; still never the full
    *     read+parse the memo exists to avoid. A manifest without a
    *     leading nonce line (every [[publish]] writes one) is never
    *     memoized: it is re-read on every call;
    *   - a VACUUMED version's entry outlives its file, but the
    *     validating open/stat (and every read path's
    *     `fs.exists(history/vN)` / [[currentVersion]] gate) fails
    *     loudly on the missing file, so retired pins never serve from
    *     memory.
    *
    * Bounded LRU (manifests are small, but a fleet of temp stores in one
    * long JVM must not accumulate forever). */
  def readManifestLinesCached(
      fs: FileSystem, dir: String, v: Long): Seq[String] = {
    val k = (memoDir(fs, dir), v)
    val p = new Path(s"$dir/history/v$v")
    // access-ordered LRU, locked only for the map get/put — the physical
    // read on a miss runs OUTSIDE the lock (a global lock held across a
    // slow-FS open would serialize every concurrent serve path behind
    // one store's manifest I/O). Two racers missing one key both read —
    // committed manifests are immutable, so the duplicate read is
    // harmless and last-put-wins leaves identical content.
    manifestMemo.get(k) match {
      // one positional read of the leading nonce line
      case Some(e) if validateNonceHit(fs, p, e.nonceLine) => e.lines
      case _ =>
        val lines = readManifestLines(fs, dir, v)
        lines.headOption.filter(_.startsWith("nonce "))
          .foreach(n => manifestMemo.put(k, ManifestMemoEntry(lines, n)))
        lines
    }
  }

  /** ONE positional read deciding whether the on-disk manifest is still
    * the commit the memo captured: true iff the file's first bytes are
    * exactly `<nonceLine>\n`. Nonces are fresh 62-bit draws per commit,
    * so a match identifies the commit (a different commit recycling the
    * same (dir, v) AND drawing the same nonce is a 2^-62 event — the
    * same negligibility class as the salted-staging collision the
    * protocol already accepts). A missing file (vacuumed version)
    * propagates the loud FileNotFoundException; a short file reads as a
    * mismatch → full re-read. */
  private def validateNonceHit(
      fs: FileSystem, p: Path, nonceLine: String): Boolean = {
    manifestNonceChecks.incrementAndGet()
    val expect = (nonceLine + "\n").getBytes("UTF-8")
    val buf = new Array[Byte](expect.length)
    val in = fs.open(p)
    try { in.readFully(0L, buf); java.util.Arrays.equals(buf, expect) }
    catch { case _: java.io.EOFException => false }
    finally in.close()
  }

  /** Positional nonce validations performed — test observability for the
    * hit path (full physical reads count in [[manifestFileReads]]). */
  private[graft] val manifestNonceChecks =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private final case class ManifestMemoEntry(lines: Seq[String], nonceLine: String)

  /** Thread-safe bounded access-ordered LRU — the memo's eviction
    * policy, factored out so its semantics are directly unit-testable
    * at a small capacity (the production memo's 1024 is not). `get`
    * marks an entry hot; on overflow the coldest entry alone is
    * evicted. All operations lock only for the map access — callers
    * keep I/O outside. */
  private[graft] final class LruMap[K, V](capacity: Int) {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        this.size() > capacity
    }
    def get(k: K): Option[V] = m.synchronized(Option(m.get(k)))
    def put(k: K, v: V): Unit = m.synchronized { m.put(k, v); () }
    def removeIf(p: K => Boolean): Unit = m.synchronized {
      val it = m.keySet().iterator()
      while (it.hasNext) if (p(it.next())) it.remove()
    }
    def size: Int = m.synchronized(m.size())
    def keys: Set[K] = m.synchronized {
      val b = Set.newBuilder[K]
      m.keySet().forEach(k => b += k)
      b.result()
    }
  }

  /** Bounded access-ordered LRU: a fleet of temp stores in one long JVM
    * evicts its coldest (dir, version) entries instead of periodically
    * dropping the whole memo (the pre-round-16 crude bound, which made
    * every live store pay a re-read after any 1025th store appeared). */
  private val manifestMemo = new LruMap[(String, Long), ManifestMemoEntry](1024)

  /** Memo key for a store dir: the FS-qualified path string, so
    * `/a/b`, `/a/b/` and `file:///a/b` address ONE entry set — both the
    * cache key and commit-time invalidation must agree or a reader
    * keyed under a variant spelling would survive a rebuild's
    * invalidation and serve pre-rebuild lines. */
  private def memoDir(fs: FileSystem, dir: String): String =
    fs.makeQualified(new Path(dir)).toString

  private def invalidateManifestMemo(
      fs: FileSystem, dir: String): Unit = {
    val d = memoDir(fs, dir)
    manifestMemo.removeIf(_._1 == d)
  }

  /** Test seam: invoked first in [[commitManifest]], before the version
    * CAS — every versioned store's pre-commit window, whatever the verb:
    * the writer's generations are fully staged and its manifest is not
    * yet published. Specs inject crashes here (kill-replay) and land a
    * competing write at exactly the CAS window. No-op in production. */
  private[graft] var onBeforeCommit: () => Unit = () => ()

  /** Publish `lines` (after a generated `nonce` and the `version` line)
    * as version `v` of the store at `dir` — the CAS commit point.
    * After [[onBeforeCommit]], guards, in order:
    *
    *  1. '''Version CAS''': any committed version ≥ `v` means another
    *     writer advanced the store since this commit's manifest was read
    *     — abort loudly; the caller's batch replays against the new head.
    *  2. the rest of [[publish]]: the referenced-data verify over every
    *     generation, leaf or file in `referenced` (paths relative to
    *     `dir`), the exclusive move onto `history/v<N>`, and the
    *     read-back ownership verify.
    *
    * Exactly one of N same-version racers returns; the rest throw
    * `ConcurrentModificationException` with the store unharmed. */
  def commitManifest(
      fs: FileSystem, dir: String, v: Long, lines: Seq[String],
      store: String, referenced: Seq[String]): Unit = {
    onBeforeCommit()
    val latest = committedVersions(fs, dir).maxOption
    if (latest.exists(_ >= v))
      throw new java.util.ConcurrentModificationException(
        s"$store commit v$v aborted: version ${latest.get} was committed " +
          "by a concurrent writer since this batch began — replay the " +
          "batch against the new head")
    publish(fs, new Path(s"$dir/history/v$v"),
      java.util.concurrent.ThreadLocalRandom.current()
        .nextLong(1L, Long.MaxValue),
      s"version $v" +: lines, store, referenced.map(r => new Path(s"$dir/$r")))
    // every commit drops the dir's memoized manifests: a build() that
    // restarted history at this dir must not serve pre-rebuild content
    // under a recycled (dir, version) key
    invalidateManifestMemo(fs, dir)
  }

  /** Publish `nonce <nonce>` followed by `lines` as the small file `dst`
    * — every manifest and `_MODEL` pointer in the store tier lands here:
    *
    *  1. full write to a tmp name beside `dst` (`.tmp_<name>_<nonce>`);
    *  2. '''Referenced-data verify''': every path in `referenced` must
    *     exist — a concurrent vacuum may have reaped this writer's
    *     staged-but-uncommitted data (it is unreferenced until the
    *     publish lands, which is exactly what a reap set is computed
    *     from), and a pointer at deleted data would corrupt the store, so
    *     that race dies HERE, loudly, and the caller replays. The vacuum
    *     side narrows the same window from its end with
    *     [[assertVersionsUnchanged]]; the check runs after the tmp write
    *     so the window left is the single move call;
    *  3. '''Exclusive publish''': an atomic create-exclusive move onto
    *     `dst` ([[exclusiveMoveFile]] — hard-link on local FS,
    *     refuse-existing rename elsewhere);
    *  4. '''Read-back ownership verify''': the published content must
    *     carry OUR nonce — belt-and-braces for filesystems whose rename
    *     semantics we can't prove exclusive.
    *
    * The nonce line leads so [[validateNonceHit]] can identify a commit
    * from the file's first bytes alone (parsers are line-order-
    * insensitive). */
  def publish(
      fs: FileSystem, dst: Path, nonce: Long, lines: Seq[String],
      store: String, referenced: Seq[Path]): Unit = {
    val tmp = new Path(dst.getParent,
      s".tmp_${dst.getName.stripPrefix("_")}_$nonce")
    fs.mkdirs(dst.getParent)
    val out = fs.create(tmp, true)
    try out.write(((s"nonce $nonce" +: lines).mkString("\n") + "\n")
      .getBytes("UTF-8"))
    finally out.close()
    referenced.find(!fs.exists(_)).foreach { p =>
      fs.delete(tmp, false)
      throw new java.util.ConcurrentModificationException(
        s"$store publish of $dst aborted: referenced $p is missing (a " +
          "concurrent vacuum reaped this writer's uncommitted " +
          "generation?) — replay the batch")
    }
    try exclusiveMoveFile(fs, tmp, dst, store)
    catch { case e: Throwable => fs.delete(tmp, false); throw e }
    if (!readLines(fs, dst).contains(s"nonce $nonce"))
      throw new java.util.ConcurrentModificationException(
        s"$store: published $dst content is not ours — lost a publish " +
          "race; replay the batch")
  }

  /** Publish strategies [[exclusiveMoveFile]] dispatches between, BY
    * FILESYSTEM SCHEME, because "rename refuses an existing destination
    * atomically" is a per-filesystem guarantee, not a universal one:
    *
    *   - `HardLink` (local `file`): `Files.createLink` is an atomic
    *     O_EXCL-grade create — POSIX rename(2) REPLACES silently, so the
    *     precheck+rename protocol is NOT exclusive there;
    *   - `AtomicRename` (`hdfs`, `viewfs`, `webhdfs`/`swebhdfs`,
    *     `ofs`/`o3fs`, `alluxio` — an explicit ALLOWLIST): these
    *     filesystems implement single-file rename as an atomic
    *     namespace operation that FAILS on an existing destination —
    *     precheck+rename is belt-and-braces on top of that guarantee.
    *     A deployer who can vouch for another filesystem's
    *     refuse-existing rename extends the allowlist via
    *     `graft.store.publish.trust-rename-schemes` (comma-separated);
    *   - `ConditionalPut` (the object-store schemes, OPT-IN via
    *     `graft.store.publish.conditional-put=true`): skip the move
    *     entirely and write the destination directly through
    *     `createFile(dst).overwrite(false)` — on connectors with
    *     conditional-write support the final PUT carries the store's
    *     create-if-absent precondition (S3 `If-None-Match: *` under
    *     Hadoop 3.4.1+ S3A conditional create; GCS
    *     `if-generation-match: 0`), so the OBJECT STORE ITSELF admits
    *     exactly one of N racers at close(). Setting the flag is the
    *     deployer's statement that the connector enforces the
    *     precondition (e.g. `fs.s3a.create.conditional.enabled`);
    *     the caller-side read-back verify (nonce / content — guard 4
    *     of every commit path) remains the final arbiter on top;
    *   - `Unsupported` (those same object-store schemes WITHOUT the
    *     opt-in, and any scheme not allowlisted): object-store "rename"
    *     is COPY+DELETE — two racing publishers can both pass the
    *     exists-precheck and both "succeed", silently clobbering
    *     committed state; and an unknown filesystem's rename semantics
    *     are unprovable, so `exclusiveMoveFile` call sites WITHOUT a
    *     read-back verify (generation-data publishes) would be
    *     protected by nothing at all there (the r16 ADVICE finding on
    *     defaulting unknowns to rename). Publishing throws a documented
    *     error demanding the conditional-put opt-in, the trust-rename
    *     assertion, or external coordination. Failing loudly at the
    *     first publish beats corrupting a manifest history at the
    *     100th. */
  private[graft] sealed trait PublishStrategy
  private[graft] case object HardLink extends PublishStrategy
  private[graft] case object AtomicRename extends PublishStrategy
  private[graft] case object ConditionalPut extends PublishStrategy
  private[graft] case object Unsupported extends PublishStrategy

  /** Opt-in: the deployed object-store connector enforces a
    * create-if-absent precondition on `overwrite(false)` writes. */
  private[graft] val ConditionalPutKey = "graft.store.publish.conditional-put"
  /** Deployer-asserted additional refuse-existing-rename schemes. */
  private[graft] val TrustRenameKey = "graft.store.publish.trust-rename-schemes"

  private val RenameAllowlist = Set(
    "hdfs", "viewfs", "webhdfs", "swebhdfs", "ofs", "o3fs", "alluxio")
  private val ObjectStoreSchemes = Set(
    "s3a", "s3", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss", "oss",
    "cos", "swift")

  private[graft] def publishStrategy(scheme: String): PublishStrategy =
    publishStrategy(scheme, conditionalPut = false, trusted = Set.empty)

  private[graft] def publishStrategy(
      scheme: String, conditionalPut: Boolean,
      trusted: Set[String]): PublishStrategy = {
    val s = Option(scheme).map(_.toLowerCase(java.util.Locale.ROOT))
      .getOrElse("file")
    if (s == "file") HardLink
    else if (RenameAllowlist(s) || trusted(s)) AtomicRename
    else if (ObjectStoreSchemes(s) && conditionalPut) ConditionalPut
    else Unsupported
  }

  private def strategyFor(fs: FileSystem): PublishStrategy = {
    val conf = fs.getConf
    publishStrategy(
      fs.getUri.getScheme,
      conditionalPut =
        conf != null && conf.getBoolean(ConditionalPutKey, false),
      trusted =
        if (conf == null) Set.empty
        else conf.getTrimmedStrings(TrustRenameKey).toSet
          .map((x: String) => x.toLowerCase(java.util.Locale.ROOT)))
  }

  private def refusedExisting(
      store: String, src: Path, dst: Path): Nothing =
    throw new java.util.ConcurrentModificationException(
      s"$store: publish $src -> $dst refused — destination already exists " +
        "(concurrent writer?); never overwriting committed state")

  /** Move FILE `src` onto `dst`, failing (never clobbering) if `dst`
    * exists — dispatched per scheme via [[publishStrategy]]: hard link
    * on local FS, exists-precheck + atomic-refusing rename on the
    * allowlisted HDFS-family stores, an opt-in conditional-put direct
    * write on object stores, and a LOUD refusal everywhere else (see
    * [[PublishStrategy]] and SCALING.md's per-scheme guarantee table). */
  def exclusiveMoveFile(
      fs: FileSystem, src: Path, dst: Path, store: String): Unit =
    strategyFor(fs) match {
      case Unsupported =>
        throw new UnsupportedOperationException(
          s"$store: exclusive publish is not implementable on " +
            s"'${fs.getUri.getScheme}' (object-store rename is copy+delete " +
            "and unlisted filesystems' rename semantics are unprovable; " +
            "two racing publishers can both pass the exists check and both " +
            "\"succeed\"). Either opt in to conditional-put publishes where " +
            s"the connector supports create-if-absent ('$ConditionalPutKey'" +
            "=true, e.g. Hadoop 3.4.1+ S3A with conditional create), assert " +
            s"refuse-existing rename via '$TrustRenameKey', or deploy the " +
            "store tier's writers single-writer behind external " +
            "coordination (e.g. a lock service), or use an HDFS-family or " +
            "local staging filesystem for manifests")
      case ConditionalPut =>
        conditionalPutPublish(fs, src, dst, store)
      case HardLink =>
        val s = java.nio.file.Paths.get(src.toUri.getPath)
        val d = java.nio.file.Paths.get(dst.toUri.getPath)
        val linked =
          try { java.nio.file.Files.createLink(d, s); true }
          catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              refusedExisting(store, src, dst)
            case _: UnsupportedOperationException =>
              // no hard links on this volume — fall back to the precheck path
              if (fs.exists(dst)) refusedExisting(store, src, dst)
              if (!fs.rename(src, dst))
                throw new IllegalStateException(
                  s"$store: rename $src -> $dst failed")
              false
          }
        // link landed; drop the tmp name (via the Hadoop FS so checksum
        // sidecars written by LocalFileSystem go with it)
        if (linked) fs.delete(src, false)
        ()
      case AtomicRename =>
        if (fs.exists(dst)) refusedExisting(store, src, dst)
        if (!fs.rename(src, dst))
          throw new IllegalStateException(s"$store: rename $src -> $dst failed")
    }

  /** The `ConditionalPut` publish: copy the staged FILE's bytes (small
    * by protocol — manifests and `_MODEL` pointers, never data
    * generations, which are salted-unique and need no exclusivity) into
    * a `createFile(dst).overwrite(false)` stream. On a
    * conditional-write-capable connector the precondition rides the
    * final PUT, so of N racers the store itself fails all but one AT
    * CLOSE — the loser surfaces as `FileAlreadyExistsException` or a
    * connector `PathIOException` (S3A's RemoteFileChangedException on a
    * 412), both mapped to the protocol's replay signal
    * (`ConcurrentModificationException`). A genuine I/O failure inside
    * that window maps to the same replay signal — safe: the caller
    * replays, and the read-back verify arbitrates whatever landed. */
  private[graft] def conditionalPutPublish(
      fs: FileSystem, src: Path, dst: Path, store: String): Unit = {
    val in = fs.open(src)
    val bytes =
      try org.apache.commons.io.IOUtils.toByteArray(in)
      finally in.close()
    try {
      val out = fs.createFile(dst).overwrite(false).build()
      try out.write(bytes)
      finally out.close()
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        refusedExisting(store, src, dst)
      case _: java.nio.file.FileAlreadyExistsException =>
        refusedExisting(store, src, dst)
      case e: org.apache.hadoop.fs.PathIOException =>
        throw new java.util.ConcurrentModificationException(
          s"$store: conditional-put publish $src -> $dst failed the " +
            s"store's create-if-absent precondition (or I/O) — lost the " +
            s"publish race; replay the batch [${e.getMessage}]")
    }
    fs.delete(src, false)
    ()
  }

  /** Test seam: invoked inside [[assertVersionsUnchanged]] immediately
    * before the re-listing, so a spec can land a full competing publish
    * at exactly the window the guard closes. No-op in production. */
  private[graft] var onBeforeReap: () => Unit = () => ()

  /** Vacuum's publish-race guard. A vacuum computes its reap set from
    * the committed versions it observed at entry; a publish landing
    * AFTER that observation may reference generations the reap set
    * calls garbage (the staged-but-uncommitted window
    * [[commitManifest]]'s referenced-dir exists-check cannot close from
    * the writer's side). Calling this with the entry-time observation
    * AFTER the reap set is computed and BEFORE the first delete turns
    * that silent corruption into a loud abort: if any commit advanced
    * or retired the history since, the vacuum throws with the store
    * untouched (garbage simply waits for the next vacuum). Residual
    * window: a publish landing between this check and the deletes —
    * which is exactly why the store tier's "no writer live during
    * vacuum" rule still stands; this guard is the detector for
    * violations of it, not a license to race. */
  private def assertVersionsUnchanged(
      fs: FileSystem, dir: String, observed: Seq[Long], store: String): Unit = {
    onBeforeReap()
    val now = committedVersions(fs, dir).sorted
    if (now != observed.sorted)
      throw new java.util.ConcurrentModificationException(
        s"$store vacuum aborted: committed versions changed while the reap " +
          s"set was being computed (${observed.sorted.mkString(",")} -> " +
          s"${now.mkString(",")}) — a writer is live; nothing was deleted, " +
          "re-run the vacuum once writers are quiesced")
  }

  /** Reap orphaned manifest tmp files (`history/.tmp_v*`): leftovers of
    * publishers that crashed between staging and the exclusive move, of
    * CAS losers that died before their cleanup ran, and of the
    * best-effort tmp delete after a landed hard link (whose return value
    * is advisory). They can never become manifests on their own — only
    * [[exclusiveMoveFile]] publishes — but they accumulate in the one
    * directory the vacuum verbs promise to keep clean. Safe ONLY under
    * the store tier's vacuum contract (no writer live): an in-flight
    * publisher's tmp is indistinguishable from garbage. */
  private def reapManifestTmp(fs: FileSystem, dir: String, store: String): Unit = {
    val hist = new Path(s"$dir/history")
    if (!fs.exists(hist)) return
    fs.listStatus(hist).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(".tmp_v"))
      .foreach(s => deleteOrThrow(fs, s.getPath, store))
  }

  /** Retire manifests older than the newest `keepLast`, reap manifest tmp
    * files, and delete every generation dir — or, inside a generation a
    * retained manifest reads only in part, every data leaf (part file or
    * `<col>=<value>` dir) — that no retained manifest references:
    * superseded generations, crashed writers' staging, losing racers'
    * generations. `livePaths(v)` lists what retained version `v` reads,
    * relative to `dir` (the same paths its commit verified). Snapshots
    * pinned inside the retention window stay valid; older pins fail
    * loudly on read. Run it only with no writer live: a reap can race a
    * not-yet-committed generation into a loud commit abort. */
  def vacuum(fs: FileSystem, dir: String, store: String, keepLast: Int)(
      livePaths: Long => Seq[String]): Unit = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val versions = committedVersions(fs, dir).sorted
    val (drop, keep) = versions.splitAt(math.max(0, versions.size - keepLast))
    val live = keep.flatMap(livePaths).toSet
    // abort loudly (deleting nothing) if a publish landed since the reap
    // set was computed
    assertVersionsUnchanged(fs, dir, versions, store)
    drop.foreach(v => deleteOrThrow(fs, new Path(s"$dir/history/v$v"), store))
    reapManifestTmp(fs, dir, store)
    generations(fs, dir).foreach { case (s, _) =>
      val g = s.getPath.getName
      if (!live.exists(p => p == g || p.startsWith(s"$g/")))
        deleteOrThrow(fs, s.getPath, store)
      else if (!live(g))
        fs.listStatus(s.getPath).toSeq.map(_.getPath)
          .filter(c => (c.getName.startsWith("part-") || c.getName.contains("=")) &&
            !live(s"$g/${c.getName}"))
          .foreach(deleteOrThrow(fs, _, store))
    }
  }

  /** Crash recovery: reap manifest tmp files and every generation staged
    * for a version above the committed head — data no commit can ever
    * reference, since any later commit stages afresh. Generations AT the
    * head stay (a racing loser's orphan looks exactly like a live
    * writer's in-flight data); [[vacuum]] reaps them once unreferenced.
    * A no-op on a store with no committed version. */
  def recover(fs: FileSystem, dir: String, store: String): Unit =
    committedVersions(fs, dir).maxOption.foreach { head =>
      reapManifestTmp(fs, dir, store)
      generations(fs, dir).filter(_._2 > head)
        .foreach(g => deleteOrThrow(fs, g._1.getPath, store))
    }

  /** A build's overwrite: drop `dir`'s history and every generation, so
    * the store's history starts over at v0. */
  def reset(fs: FileSystem, dir: String, store: String): Unit = {
    deleteOrThrow(fs, new Path(s"$dir/history"), store)
    generations(fs, dir).foreach(g => deleteOrThrow(fs, g._1.getPath, store))
  }

  /** A [[saltedGenDir]] name of `prefix` (a regex) as a regex whose group
    * 1 is the version. */
  private def genName(prefix: String): String = s"${prefix}_g(\\d+)\\.\\d+"

  private val GenName = s"^${genName("[A-Za-z]+")}$$".r

  /** The version the generation named `name` ([[saltedGenDir]]) was
    * staged for; None for any other name. */
  def genVersion(name: String): Option[Long] =
    GenName.findFirstMatchIn(name).map(_.group(1).toLong)

  /** The version of the `prefix` generation in the path `path` (a
    * string column): the column form of [[genVersion]]. */
  def genVersionOf(path: Column, prefix: String): Column =
    regexp_extract(path, s"/${genName(prefix)}/", 1).cast(LongType)

  /** Generation dirs directly under `dir`, with the version each was
    * staged for. */
  private def generations(fs: FileSystem, dir: String): Seq[(FileStatus, Long)] =
    if (!fs.exists(new Path(dir))) Seq.empty
    else fs.listStatus(new Path(dir)).toSeq.flatMap(s =>
      genVersion(s.getPath.getName).map(s -> _))

  /** Salted generation-dir name `<prefix>_g<v>.<salt>`: unique per
    * attempt, so racing writers stage disjoint paths and a loser's data
    * is unreferenced garbage. 62 bits of salt (the manifest nonce's
    * range): a salt collision between two same-version racers would put
    * both attempts' files in one dir, so the collision probability has
    * to be negligible, not merely small (a 20-bit salt's ~1e-6 per race
    * is a real event at fleet scale). */
  def saltedGenDir(prefix: String, v: Long): String = {
    val salt = java.util.concurrent.ThreadLocalRandom.current()
      .nextLong(1L, Long.MaxValue)
    s"${prefix}_g$v.$salt"
  }

  /** A generation [[writeGeneration]] wrote: its dir `name`, its data
    * files or partition leaves (`<name>/<col>=<value>`) relative to the
    * store dir, and whether any of them holds a row. */
  final case class Generation(name: String, paths: Seq[String], hasRows: Boolean) {
    /** The int partition values of a partitioned generation's leaves. */
    def values: Seq[Int] = paths.map(p => p.substring(p.lastIndexOf('=') + 1).toInt)
  }

  /** Write `df` as a fresh salted generation ([[saltedGenDir]]) of
    * `prefix` for version `v` under the store `dir` — the one writer of
    * the data generations the versioned stores commit. Partitioned by
    * `partitionCol`, it yields one leaf per value with rows.
    * Unpartitioned, it yields the part files, and an empty frame still
    * yields one schema-bearing file, so a committed file list always
    * names a readable schema; whether a file holds a row is read from
    * its parquet footer on the driver (no Spark job). */
  def writeGeneration(
      df: DataFrame, dir: String, prefix: String, v: Long,
      partitionCol: Option[String] = None): Generation = {
    val fs = fsOf(df.sparkSession, dir)
    val gen = saltedGenDir(prefix, v)
    val out = new Path(s"$dir/$gen")
    def listed(keep: String => Boolean): Seq[String] =
      if (!fs.exists(out)) Seq.empty
      else fs.listStatus(out).toSeq.map(_.getPath.getName).filter(keep).sorted
    partitionCol match {
      case Some(c) =>
        df.write.partitionBy(c).parquet(out.toString)
        val leaves = listed(_.startsWith(s"$c="))
        Generation(gen, leaves.map(l => s"$gen/$l"), leaves.nonEmpty)
      case None =>
        df.write.parquet(out.toString)
        if (listed(_.startsWith("part-")).isEmpty)
          df.limit(0).repartition(1).write.mode("overwrite").parquet(out.toString)
        val files = listed(_.startsWith("part-"))
        Generation(gen, files.map(f => s"$gen/$f"), files.exists { f =>
          val in = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(out, f), fs.getConf))
          try in.getRecordCount > 0 finally in.close()
        })
    }
  }

  /** The one compaction: `live`, the rows of `paths` (files or leaves
    * relative to `dir`), folded into one generation ([[writeGeneration]])
    * of ~`targetFileBytes` files. The scan's splits merge into the
    * output files by a `coalesce`: the live rows are read and written
    * once and move between no tasks. */
  def compact(
      live: DataFrame, paths: Seq[String], dir: String, prefix: String, v: Long,
      targetFileBytes: Long = 128L << 20, partitionCol: Option[String] = None): Generation = {
    val fs = fsOf(live.sparkSession, dir)
    val bytes = paths.map(p => fs.getContentSummary(new Path(s"$dir/$p")).getLength).sum
    val parts = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    writeGeneration(live.coalesce(parts), dir, prefix, v, partitionCol)
  }

  def deleteOrThrow(fs: FileSystem, p: Path, store: String): Unit =
    if (!fs.delete(p, true) && fs.exists(p))
      throw new IllegalStateException(s"$store: delete $p failed")
}
