package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, run the workload's timed steps
  * until `--seconds` of timed work have accumulated, isolate every step
  * from the next, and write the raw run record (`--out`) that `run.py`
  * turns into metrics.
  *
  * Usage: perfbench.Main --workload <name> --inputs <dir> --work <dir>
  *   --seconds <s> --trace <0|1> --launched <epoch ms> --cpus <n> --out <file>
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val cpus = a("cpus").toInt
    val trace = new Trace(a("trace") == "1", s"$workloadName-${System.currentTimeMillis()}")
    val workload = Workload(workloadName, a("inputs"), work, trace)

    // set-up: from the JVM's launch (`--launched`, taken by the launcher)
    // to the first timed step -- JVM start, session, fresh workload state
    // and the untimed warm-up steps
    val spark = session(cpus, work)
    workload.prepare(spark)
    workload.warmUp(spark)
    release(spark)
    val setupS = (System.currentTimeMillis() - a("launched").toLong) / 1000.0

    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def tmpEntries() = Files.list(tmp).iterator().asScala.toSet
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    var timed = 0.0
    var step = 0
    while (timed < seconds && workload.hasNext) {
      if (trace.enabled) trace.attach(spark)
      val before = tmpEntries()
      val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val t = System.nanoTime()
      val result =
        try Right(trace.span("op", s"step-$step")(workload.next(spark)))
        catch { case e: Throwable => Left(e) }
      timed += (System.nanoTime() - t) / 1e9
      if (trace.enabled) trace.detach(spark)
      // isolation, outside the timed window: count what the step left
      // behind, then release it so it never bills the next step
      val leaked = (spark.sparkContext.getPersistentRDDs.keySet.toSet -- rddsBefore).size
      val leftover = tmpEntries() -- before
      result match {
        case Right(done) =>
          try workload.afterOp(spark, step)
          catch { case e: Throwable => System.err.println(s"[perfbench] check copy failed: $e") }
          done.foreach(o => ops += Map("step" -> step, "kind" -> o.kind,
            "latency_s" -> o.latency, "rows" -> o.rows, "ok" -> true,
            "leaked_rdds" -> leaked, "leftover_tmp" -> leftover.size))
        case Left(e) =>
          System.err.println(s"[perfbench] step $step failed: $e")
          e.printStackTrace()
          ops += Map("step" -> step, "kind" -> "failed", "latency_s" -> 0.0,
            "rows" -> 0L, "ok" -> false, "error" -> e.toString,
            "leaked_rdds" -> leaked, "leftover_tmp" -> leftover.size)
      }
      leftover.foreach(p => Workload.delete(p.toString))
      release(spark)
      step += 1
    }

    val record = Map(
      "workload" -> workloadName, "trace" -> trace.enabled, "cpus" -> cpus,
      "setup_s" -> setupS, "timed_s" -> timed, "ops" -> ops.toSeq,
      "stored_dirs" -> workload.storedDirs, "peak_rss_mb" -> peakRssMb(),
      "workload_record" -> workload.record,
      "trace_record" -> (if (trace.enabled) trace.toJson else null))
    Files.write(Paths.get(a("out")), Json.write(record).getBytes("UTF-8"))
    spark.stop()
  }

  /** The benchmark's own session: local[cpus], every scratch path inside
    * the run's work directory.
    */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** `graft.Bench.release()`: drop cached data, unpersist every persisted
    * RDD (blocking, so no cleanup drains into the next step), one GC.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Peak resident memory of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
