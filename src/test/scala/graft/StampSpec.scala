package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Dedup, Sketches, Stamp}

/** The one stamp probe every persisted-state reader goes through: the
  * pass/fail rules, table-driven over the stamped state families, and
  * the probe-job counts of the merge and append paths.
  */
class StampSpec extends AnyFunSuite {
  import SparkTestBase._

  // (family, its stamp columns with the values the state was built under)
  private val families: Seq[(String, Seq[(String, Any)])] = Seq(
    "count-min sketch" -> Seq("depth" -> 4, "width" -> 1024),
    "bloom filter" -> Seq("num_bits" -> 8192, "num_hashes" -> 4),
    "kmv sketch" -> Seq("k" -> 256),
    "histogram" -> Seq("bin_width" -> 25.0),
    "nb counts" -> Seq("buckets" -> 1024),
    "band state" -> Seq("w" -> 3, "num_hashes" -> 8, "band_width" -> 2),
    "vector index" -> Seq("num_cells" -> 16, "m" -> 4, "num_codes" -> 16, "dim" -> 64),
    "bench signatures" -> Seq("num_planes" -> 16, "band_width" -> 4, "dim" -> 64),
    "bpe vocab" -> Seq("n_merges" -> 10))

  private def stamped(stamp: Seq[(String, Any)]): DataFrame =
    spark.range(3).select(col("id").as("x") +:
      stamp.map { case (c, v) => lit(v).as(c) }: _*)

  /** The first stamp value moved off its built value. */
  private def moved(stamp: Seq[(String, Any)]): Seq[(String, Any)] = {
    val (c, v) = stamp.head
    (c -> (v match { case i: Int => i + 1; case d: Double => d * 2 })) +: stamp.tail
  }

  families.foreach { case (family, stamp) =>
    test(s"$family: matching, unstamped and empty frames pass") {
      Stamp.require(stamped(stamp), family, stamp)
      val unstamped = spark.range(3).select(col("id").as("x"))
      assert(Stamp.read(unstamped, stamp.map(_._1)).isEmpty)
      Stamp.require(unstamped, family, moved(stamp))
      val empty = stamped(stamp).filter(lit(false))
      assert(Stamp.read(empty, stamp.map(_._1)).isEmpty)
      Stamp.require(empty, family, moved(stamp))
    }

    test(s"$family: a mismatched stamp fails with the template") {
      val expected = moved(stamp)
      val e = intercept[IllegalArgumentException] {
        Stamp.require(stamped(stamp), family, expected)
      }
      val (c, v) = stamp.head
      assert(e.getMessage.contains(s"$family layout mismatch"), e.getMessage)
      assert(e.getMessage.contains(s"stamped with ($c=$v"), e.getMessage)
      assert(e.getMessage.contains(s"called with ($c=${expected.head._2}"),
        e.getMessage)
    }

    test(s"$family: a null stamp value fails") {
      val (c, v) = stamp.head
      val nulled = stamped(stamp).withColumn(c, lit(null).cast(
        if (v.isInstanceOf[Double]) "double" else "int"))
      val e = intercept[IllegalArgumentException] {
        Stamp.require(nulled, family, stamp)
      }
      assert(e.getMessage.contains(s"$c=null"), e.getMessage)
    }

    test(s"$family: merge inputs stamped differently do not agree") {
      assert(Stamp.agreeing(Seq(stamped(stamp), stamped(stamp)), family,
        stamp.map(_._1)).map(_.toSeq) === Some(stamp))
      val e = intercept[IllegalArgumentException] {
        Stamp.agreeing(Seq(stamped(stamp), stamped(moved(stamp))), family,
          stamp.map(_._1))
      }
      assert(e.getMessage.contains("different layouts") &&
        e.getMessage.contains(stamp.head._1), e.getMessage)
    }
  }

  test("a frame carrying only some stamp columns is checked on those") {
    val depthOnly = stamped(Seq("depth" -> 4))
    Stamp.require(depthOnly, "count-min sketch", Seq("depth" -> 4, "width" -> 1024))
    val e = intercept[IllegalArgumentException] {
      Stamp.require(depthOnly, "count-min sketch", Seq("depth" -> 5, "width" -> 1024))
    }
    assert(e.getMessage.contains("stamped with (depth=4)") &&
      e.getMessage.contains("called with (depth=5)"), e.getMessage)
  }

  /** The jobs `body` starts, by the short call site of each job's stages. */
  private def jobsOf(body: => Unit): Seq[String] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.map(_.name).mkString(";"))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      drainListenerBus()
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.toArray(Array.empty[String]).toSeq
  }

  test("quantileSampleMerge over N stamped parts runs N stamp probes") {
    val tmp = tmpDir("graft_stamp_q").toString
    try {
      val parts = (0 until 3).map { i =>
        Sketches.quantileSampleWrite(Sketches.quantileSampleBuild(
          spark.range(i * 100, i * 100 + 50).select(col("id"),
            (col("id") * 0.5).as("v")), "id", "v", k = 16), s"$tmp/p$i", k = 16)
        spark.read.parquet(s"$tmp/p$i").coalesce(1)
      }
      val jobs = jobsOf(Sketches.quantileSampleMerge(16, parts: _*))
      assert(jobs.size === parts.size, jobs.mkString("\n"))
    } finally graft.plans.Pipeline.deleteRecursively(java.nio.file.Paths.get(tmp))
  }

  test("appendBandState reads the layout and the prefix fan-out in one probe") {
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a stitch in time saves nine said the old tailor"))
      .toDF("doc_id", "text")
    val dir = tmpDir("graft_stamp_append")
      .toString + "/bands"
    try {
      Dedup.writeBandState(Dedup.bandTable(docs.filter(col("doc_id") === 1L)),
        dir, "overwrite", prefixes = 1)
      val jobs = jobsOf(Dedup.appendBandState(spark, dir,
        docs.filter(col("doc_id") === 2L)))
      assert(jobs.count(_.startsWith("collect at")) === 1, jobs.mkString("\n"))
      assert(spark.read.parquet(dir).select("doc_id").distinct().count() === 2)
    } finally graft.plans.Pipeline.deleteRecursively(
      java.nio.file.Paths.get(dir).getParent)
  }
}
