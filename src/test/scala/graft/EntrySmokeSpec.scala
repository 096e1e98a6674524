package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver's t1 smoke plus an execute-all sweep at sf0.001. */
class EntrySmokeSpec extends AnyFunSuite {
  import SparkTestBase._

  /** The temp entries a registered query may leave behind: the per-JVM
    * memoized layouts (deleted at JVM exit) and the rewrite outputs a
    * `Stage.parquet` call keeps for the frame it returns.
    */
  private val keptTmpPrefixes = Seq("graft_events_bydate_", "graft_evolve_",
    "graft-vshared-", "graft-span-rewrite-", "graft-maxspan-rewrite-")

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query executes at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      var n = -1L
      val added = newTmpEntries("graft") { n = fn(spark, sfDir).count() }
        .filterNot(p => keptTmpPrefixes.exists(p.getFileName.toString.startsWith))
      assert(n >= 0, s"$name failed")
      assert(added.isEmpty, s"$name left temp entries behind: $added")
      info(s"$name -> $n rows")
    }
  }

  test("histogram20: degenerate all-equal input lands in bucket 0, not NaN") {
    import spark.implicits._
    val const = Seq.fill(7)(42.5).toDF("value")
    val out = graft.registry.Shared.histogram20(const).collect()
    assert(out.length === 1)
    assert(out.head.getInt(0) === 0, "hi==lo must collapse into bucket 0")
    assert(out.head.getLong(1) === 7L)
  }

  test("oracleSql keys are a subset of queries keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracles without queries: $extra")
  }

  test("every registered query carries a DuckDB oracle") {
    // 100%-checkable driver surface (round 10): the engine-specific raw
    // sketch profile was dropped from `queries` (SketchesSpec covers it);
    // anything registered without an oracle is a regression.
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly.isEmpty, s"queries without oracles: $rowsOnly")
  }
}
