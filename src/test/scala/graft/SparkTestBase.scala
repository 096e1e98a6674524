package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession =
    Session("4", confs = Seq("spark.app.name" -> "graft-tests"))
  val sfDir = "/root/testdata/sf0.001"

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
