package graft.tools

import graft.SparkEntry

/** Dev harness: dump `.explain("formatted")` for a list of registered
  * queries to files — the before/after plan evidence the optimization
  * rounds commit under plans/<round>/.
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session(cpus, "ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      // queryExecution.explainString is exactly what explain("formatted")
      // prints, captured instead of dumped to stdout
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plandump] wrote $n ($suffix)")
    }
    spark.stop()
  }
}
