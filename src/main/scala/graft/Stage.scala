package graft

import org.apache.spark.sql.{DataFrame, Dataset}

/** The one way an operator stages an intermediate it reuses, and the
  * one place that decides when the staged copy is released: on every
  * path out of the call that staged it — a return, a throw, or a
  * non-local `return` through the body.
  *
  *  - [[scoped]] caches frames the call bounds (id lists, one batch's
  *    band table, a loop's label snapshots) at the default storage
  *    level, which spills to disk when memory is short;
  *  - [[parquet]] writes a corpus-scale table to a temp directory the
  *    call owns: recomputable on executor loss, no block memory.
  */
object Stage {

  /** The frames one [[scoped]] body cached and has not released. */
  final class Scope private[Stage] () {
    private[Stage] var held = List.empty[Dataset[_]]

    /** `ds.persist()`, held until the scope ends. Lazy: the first action
      * materializes it, and an entry no action reads costs nothing.
      */
    def cache[D <: Dataset[_]](ds: D): D = {
      held ::= ds
      ds.persist()
      ds
    }

    /** Unpersist `ds` now: a loop dropping a superseded snapshot. */
    def release(ds: Dataset[_]): Unit = {
      held = held.filterNot(_ eq ds)
      ds.unpersist(blocking = false)
    }
  }

  /** Runs `body` with a fresh [[Scope]]; whatever it still holds is
    * unpersisted when `body` returns or throws.
    */
  def scoped[T](body: Scope => T): T = {
    val st = new Scope
    try body(st)
    finally st.held.foreach(_.unpersist(blocking = false))
  }

  /** Stages `table` as parquet in a fresh temp directory and runs `use`
    * over the read-back; the staged table is deleted when `use` returns.
    * `use` also gets an unused path in that directory for an output
    * that must outlive the call (a rewritten corpus its frame reads): if
    * `use` wrote there, the directory stays with that output alone
    * (until JVM exit), otherwise it goes. When `use` or the staging
    * write throws, the whole directory goes.
    */
  def parquet[T](prefix: String, table: DataFrame)(
      use: (DataFrame, String) => T): T = {
    val dir = TempDirs.create(prefix)
    val (stage, out) = (dir.resolve("stage"), dir.resolve("out"))
    try {
      table.write.parquet(stage.toString)
      val result = use(table.sparkSession.read.parquet(stage.toString),
        out.toString)
      plans.Pipeline.deleteRecursively(
        if (java.nio.file.Files.exists(out)) stage else dir)
      result
    } catch {
      case e: Throwable =>
        plans.Pipeline.deleteRecursively(dir)
        throw e
    }
  }
}
