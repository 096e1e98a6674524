package graft

import java.nio.file.{Files, Path}

/** Temp-directory registry for per-JVM staged layouts.
  *
  * Some operators stage a derived copy of a source table once per JVM and
  * reuse it across queries (the date-partitioned events layout behind
  * dynamic partition pruning, the evolved-schema bronze batches). Those
  * directories must OUTLIVE each query — deleting them eagerly would
  * re-stage per query — but must not outlive the JVM: repeated
  * bench/verify runs would otherwise accumulate copies under /tmp until
  * the disk degrades (observed as a cross-run slowdown of unrelated
  * IO-bound queries). One shutdown hook deletes everything registered.
  * `graft.Stage` opens its per-call directories here too and deletes
  * them itself; the hook only sweeps what a dying JVM left behind.
  */
object TempDirs {

  private val registered =
    scala.collection.concurrent.TrieMap[Path, Unit]()

  // installed at most once, on first use; deletion is best-effort — a
  // half-deleted temp dir at JVM exit is strictly better than a leak.
  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      registered.keys.foreach { p =>
        try graft.plans.Pipeline.deleteRecursively(p)
        catch { case _: Throwable => () }
      }))

  /** Create a temp directory that lives until JVM exit. */
  def create(prefix: String): Path = {
    hookInstalled
    val p = Files.createTempDirectory(prefix)
    registered.put(p, ())
    p
  }
}
