package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions._

/** One shared local session for the whole forked test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession =
    Session("4", confs = Seq("spark.app.name" -> "graft-tests",
      // catalog tables the specs save (bucketed stars, warehouse
      // layouts) live and die with the test JVM
      "spark.sql.warehouse.dir" ->
        TempDirs.create("graft_test_warehouse_").toUri.toString))
  val sfDir = "/root/testdata/sf0.001"

  /** A fixture directory under java.io.tmpdir named `prefix…`, deleted
    * when the test JVM exits ([[graft.TempDirs.create]]); a test that
    * deletes it earlier keeps its own `finally`.
    */
  def tmpDir(prefix: String): java.nio.file.Path = TempDirs.create(prefix)

  def cacheIsEmpty: Boolean =
    org.apache.spark.sql.graftbridge.Bridge.cacheIsEmpty(spark)

  /** Runs `op` from an empty cache and asserts it left no cache entry
    * and no persistent RDD behind (local-checkpoint blocks aside).
    */
  def assertReleased(what: String)(op: => Any): Unit = {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    op
    val left = spark.sparkContext.getPersistentRDDs
      .filter { case (id, rdd) => !before(id) && !rdd.isCheckpointed }.keySet
    assert(cacheIsEmpty, s"$what left a cache entry behind")
    assert(left.isEmpty, s"$what left persistent RDDs $left behind")
  }

  /** Blocks until every listener event posted so far is delivered:
    * listener events are delivered asynchronously.
    */
  def drainListenerBus(): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus")
      .invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** `a` and `b` have the same column names and types and hold the same
    * multiset of rows, checked with `exceptAll` both ways.
    */
  def assertSameRows(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
                     what: String): Unit = {
    assert(a.schema.map(f => f.name -> f.dataType) === b.schema.map(f => f.name -> f.dataType),
      s"$what: columns differ")
    assert(a.exceptAll(b).count() === 0, s"$what: rows only in the first")
    assert(b.exceptAll(a).count() === 0, s"$what: rows only in the second")
  }

  /** Runs `op` and returns the entries it added under java.io.tmpdir
    * whose names start with `prefix` (suites run one at a time in the
    * test JVM, so the prefix isolates the operation under test).
    */
  def newTmpEntries(prefix: String)(op: => Any): Set[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def entries = {
      val ls = java.nio.file.Files.list(tmp)
      try ls.iterator.asScala
        .filter(_.getFileName.toString.startsWith(prefix)).toSet
      finally ls.close()
    }
    val before = entries
    op
    entries -- before
  }

  /** Set session confs for the duration of `body`, then restore each to
    * its prior value (or unset it) — ONE definition so tests cannot
    * drift in their save/restore semantics and leak conf state.
    */
  def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val saved = pairs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption.flatMap(Option(_))
    }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => scala.util.Try(spark.conf.unset(k))
    }
  }
}
