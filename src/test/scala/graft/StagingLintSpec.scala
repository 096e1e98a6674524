package graft

import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** Staging lint: `graft.Stage` is the one place that decides how an
  * intermediate is cached, where a query's scratch directory lives and
  * when either is released, so no other main source may call `persist`,
  * `cache`, `unpersist` or `TempDirs.create` itself. `Session` keeps its
  * between-query `release`, which drops every cached RDD; the three
  * per-JVM memoized layouts keep their own `TempDirs` directory, named
  * here by its prefix literal.
  */
class StagingLintSpec extends AnyFunSuite {

  /** Every line under `root` matching `pattern`, in `.scala` files whose
    * name is not in `allowed`.
    */
  private def hits(root: String, allowed: Set[String], pattern: Regex): List[String] = {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try files.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !allowed(p.getFileName.toString))
      .flatMap { p =>
        val lines = java.nio.file.Files.readAllLines(p).asScala
        lines.zipWithIndex.collect {
          case (l, i) if pattern.findFirstIn(l).isDefined => s"$p:${i + 1}: ${l.trim}"
        }
      }.toList
    finally files.close()
  }

  test("no main source outside Stage and Session persists or unpersists a frame") {
    val found = hits("src/main", Set("Stage.scala", "Session.scala"),
      """\.persist\(|\.cache\(\)|\.unpersist\(""".r)
    assert(found.isEmpty,
      "stage intermediates through graft.Stage (scoped / parquet), not " +
        s"by hand:\n${found.mkString("\n")}")
  }

  test("no main source outside Stage opens a temp dir, except the per-JVM layouts") {
    val found = hits("src/main", Set("Stage.scala", "TempDirs.scala"),
      """TempDirs\.create\((?!"(graft_events_bydate_|graft_evolve_|graft-vshared-)")""".r)
    assert(found.isEmpty,
      "open a query's scratch directory with graft.Stage.scratch, not " +
        s"by hand:\n${found.mkString("\n")}")
    val handDetach = hits("src", Set("StagingLintSpec.scala"), "detachAndClean".r)
    assert(handDetach.isEmpty,
      s"the hand-paired detach helper is gone:\n${handDetach.mkString("\n")}")
  }
}
