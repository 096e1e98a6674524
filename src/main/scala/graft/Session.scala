package graft

import org.apache.spark.sql.SparkSession

/** The one local-session recipe every entry point shares: `local[cpus]`
  * with as many shuffle partitions as cores, UTC session time, parquet
  * nanosecond timestamps read as longs (the reference tables carry
  * them), and no UI. `confs` are set after these, so a caller can
  * override one (e.g. its own shuffle-partition count).
  */
object Session {
  def apply(cpus: String, logLevel: String = "WARN",
            confs: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = confs.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Drops every cached or persisted RDD and runs one GC, so the next
    * query starts from the same heap state. Blocking unpersist: async
    * removal would let this query's blocks drain into the next one.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }
}
