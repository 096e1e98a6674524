package graft

import org.scalatest.funsuite.AnyFunSuite

/** Staging lint: `graft.Stage` is the one place that decides how an
  * intermediate is cached and when it is released, so no other main
  * source may call `persist`, `cache` or `unpersist` itself. `Session`
  * keeps its between-query `release`, which drops every cached RDD.
  */
class StagingLintSpec extends AnyFunSuite {

  private val allowed = Set("Stage.scala", "Session.scala")
  private val raw = """\.persist\(|\.cache\(\)|\.unpersist\(""".r

  test("no main source outside Stage and Session persists or unpersists a frame") {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val hits = try files.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !allowed(p.getFileName.toString))
      .flatMap { p =>
        val lines = java.nio.file.Files.readAllLines(p).asScala
        lines.zipWithIndex.collect {
          case (l, i) if raw.findFirstIn(l).isDefined => s"$p:${i + 1}: ${l.trim}"
        }
      }.toList
    finally files.close()
    assert(hits.isEmpty,
      "stage intermediates through graft.Stage (scoped / parquet), not " +
        s"by hand:\n${hits.mkString("\n")}")
  }
}
