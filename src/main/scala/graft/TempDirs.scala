package graft

import java.nio.file.{Files, Path, Paths}

/** Registry for process-local scratch directories backing durable-cache
  * artifacts (persisted IVF layouts, pair/signature stores built by the
  * registered queries). `Files.createTempDirectory` alone leaks the
  * parquet payload across bench runs — nothing ever deletes a store
  * when its [[PlanCache]] entry is evicted or the JVM exits — so every
  * artifact dir is created HERE and reclaimed on both paths: cache
  * eviction calls [[delete]], and a JVM shutdown hook sweeps whatever
  * is still registered.
  *
  * Production stores live at real warehouse paths with their own
  * lifecycle; this registry is only for the temp-dir instantiations the
  * query registry builds on first touch. */
object TempDirs {

  private val live =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  java.lang.Runtime.getRuntime.addShutdownHook(new Thread(
    () => live.forEach(deleteRecursively), "graft-tempdirs-sweep"))

  /** Create and register a scratch dir; returns its absolute path. */
  def create(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    live.add(p)
    p.toString
  }

  /** Recursively delete a REGISTERED dir (a path not created by
    * [[create]] is left alone — an eviction hook must never reach into
    * a caller-owned warehouse path). Idempotent; quiet if the path is
    * already gone. Safe as a [[PlanCache]] `onEvict`: eviction means no
    * caller holds the artifact handle any more. */
  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (live.remove(p)) deleteRecursively(p)
  }

  private def deleteRecursively(p: Path): Unit =
    try {
      if (Files.exists(p)) {
        val walk = Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { val _ = Files.deleteIfExists(f) })
        finally walk.close()
      }
    } catch { case scala.util.control.NonFatal(_) => () }
}
