package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The one staging lifecycle: a [[Stage.scoped]] scope releases every
  * frame it cached on a return, a throw and a non-local `return`;
  * [[Stage.Scope.release]] drops one early; [[Stage.parquet]] keeps
  * only the `out` table a call wrote and deletes everything else;
  * [[Stage.scratch]] deletes its directory on every path and returns a
  * frame that outlives it.
  */
class StageSpec extends AnyFunSuite {
  import SparkTestBase._

  private def frame(n: Int) = spark.range(n).select((col("id") * 2).as("x"))

  test("a scope releases what it cached when the body returns") {
    assertReleased("a returning scope") {
      val n = Stage.scoped { st =>
        val a = st.cache(frame(10))
        assert(a.storageLevel === StorageLevel.MEMORY_AND_DISK)
        a.count() + st.cache(frame(20)).count()
      }
      assert(n === 30L)
    }
  }

  test("a scope releases what it cached when the body throws") {
    assertReleased("a throwing scope") {
      val e = intercept[IllegalStateException](Stage.scoped { st =>
        st.cache(frame(10)).count()
        throw new IllegalStateException("boom")
      })
      assert(e.getMessage === "boom")
    }
  }

  test("a scope releases what it cached on a non-local return through it") {
    def firstAbove(limit: Long): Long = {
      Stage.scoped { st =>
        for (n <- Seq(5, 10, 20)) {
          val c = st.cache(frame(n)).count()
          if (c > limit) return c
        }
      }
      -1L
    }
    assertReleased("a non-local return")(assert(firstAbove(7L) === 10L))
  }

  test("release drops one frame early and leaves the others cached") {
    assertReleased("a scope that released early")(Stage.scoped { st =>
      val a = st.cache(frame(10))
      val b = st.cache(frame(20))
      a.count(); b.count()
      st.release(a)
      assert(a.storageLevel === StorageLevel.NONE, "released frame still cached")
      assert(b.storageLevel === StorageLevel.MEMORY_AND_DISK,
        "release dropped a frame it was not given")
      assert(b.count() === 20L)
    })
  }

  test("parquet: `use` reads the staged table back; nothing outlives a call that wrote no output") {
    val added = newTmpEntries("graft-stagespec-read-") {
      val got = Stage.parquet("graft-stagespec-read-", frame(10)) { (t, out) =>
        assert(t.inputFiles.nonEmpty && !Files.exists(Paths.get(out)))
        t.agg(sum(col("x"))).head().getLong(0)
      }
      assert(got === 90L)
    }
    assert(added.isEmpty, s"staging directory left behind: $added")
  }

  test("parquet: a call that wrote `out` keeps that table alone") {
    var out: org.apache.spark.sql.DataFrame = null
    val added = newTmpEntries("graft-stagespec-out-") {
      out = Stage.parquet("graft-stagespec-out-", frame(10)) { (t, o) =>
        t.filter(col("x") > 10).write.parquet(o)
        spark.read.parquet(o)
      }
    }
    assert(added.size === 1, s"expected one output directory, got $added")
    assert(added.head.toFile.list().toSeq === Seq("out"),
      "the staged table must not outlive the call")
    assert(out.collect().map(_.getLong(0)).sorted.toSeq === Seq(12L, 14L, 16L, 18L))
  }

  test("parquet: a throw in `use` or in the staging write deletes the whole directory") {
    val boom = udf { (x: Long) => if (x >= 0) throw new IllegalStateException("boom"); x }
    val added = newTmpEntries("graft-stagespec-fail-") {
      intercept[IllegalStateException](
        Stage.parquet("graft-stagespec-fail-", frame(10)) { (t, o) =>
          t.write.parquet(o)
          throw new IllegalStateException("boom")
        })
      intercept[Exception](
        Stage.parquet("graft-stagespec-fail-",
            frame(10).select(boom(col("x")).as("x"))) { (t, _) => t.count() })
    }
    assert(added.isEmpty, s"a failed call left $added behind")
  }

  test("scratch: the directory goes on return; the returned frame outlives it") {
    var seen: String = null
    var out: org.apache.spark.sql.DataFrame = null
    val added = newTmpEntries("graft-stagespec-scratch-") {
      out = Stage.scratch("graft-stagespec-scratch-") { tmp =>
        seen = tmp
        frame(10).write.parquet(s"$tmp/t")
        spark.read.parquet(s"$tmp/t").filter(col("x") > 10)
      }
    }
    assert(seen != null && !Files.exists(Paths.get(seen)),
      "the scratch directory outlived the call")
    assert(added.isEmpty, s"scratch left $added behind")
    assert(out.count() === 4L)
    assert(out.collect().map(_.getLong(0)).sorted.toSeq === Seq(12L, 14L, 16L, 18L))
  }

  test("scratch: a throw in the body or in the detach deletes the directory") {
    val boom = udf { (x: Long) => if (x >= 0) throw new IllegalStateException("boom"); x }
    val added = newTmpEntries("graft-stagespec-scratchfail-") {
      val e = intercept[IllegalStateException](
        Stage.scratch("graft-stagespec-scratchfail-") { tmp =>
          frame(10).write.parquet(s"$tmp/t")
          throw new IllegalStateException("boom")
        })
      assert(e.getMessage === "boom")
      // the body returns a lazy frame; only the detach runs the UDF
      intercept[Exception](
        Stage.scratch("graft-stagespec-scratchfail-") { tmp =>
          frame(10).write.parquet(s"$tmp/t")
          spark.read.parquet(s"$tmp/t").select(boom(col("x")).as("x"))
        })
    }
    assert(added.isEmpty, s"a failed scratch call left $added behind")
  }
}
