package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.Warehouse

class WarehouseSpec extends AnyFunSuite {
  import SparkTestBase._

  /** Copy the six star source tables into a fresh dir we are allowed to
    * mutate (the shared testdata is read-only by contract).
    */
  private def stageSources(): String = {
    val dst = tmpDir("graft_wh_src").toString
    Seq("lineitem", "orders", "customer", "supplier", "nation", "region")
      .foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet")
          .write.parquet(s"$dst/$t.parquet")
      }
    dst
  }

  test("ensure is idempotent: a second call serves the same tables without a rebuild") {
    val src = stageSources()
    val star1 = Warehouse.ensure(spark, src, numBuckets = 4)
    val n = star1.factTrips.count()
    // capture the physical files backing the fact table; an idempotent
    // second ensure must not rewrite them.
    def factFiles = {
      val loc = spark.sql(s"DESCRIBE FORMATTED `${Warehouse.tableName("fact_trips", src, 4)}`")
        .where(col("col_name") === "Location").select("data_type").head().getString(0)
      val dir = new java.io.File(new java.net.URI(loc))
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before = factFiles
    val star2 = Warehouse.ensure(spark, src, numBuckets = 4)
    assert(star2.factTrips.count() === n)
    assert(factFiles === before, "unchanged sources must not trigger a rebuild")
  }

  test("a mutated source dir behind the same path triggers a rebuild, not stale buckets") {
    val src = stageSources()
    val full = Warehouse.ensure(spark, src, numBuckets = 4)
    val fullRows = full.lineitem.count()
    assert(fullRows > 0)
    // halve lineitem IN PLACE (same path, new files) — the failure mode
    // the fingerprint exists for: catalog says the table exists, but the
    // buckets were built from bytes that are no longer on disk.
    val half = spark.read.parquet(s"$src/lineitem.parquet")
      .limit((fullRows / 2).toInt)
    val tmp = s"$src/lineitem_new.parquet"
    half.write.parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(s"$src/lineitem.parquet")
    fs.delete(old, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), old)
    val rebuilt = Warehouse.ensure(spark, src, numBuckets = 4)
    assert(rebuilt.lineitem.count() === fullRows / 2,
      "ensure must rebuild from the mutated source, not serve stale buckets")
  }

  test("routes mart off the star: bucket-aligned groupBy runs with zero pre-agg exchange") {
    val star = Warehouse.ensure(spark, sfDir, numBuckets = 8)
    val mart = gold.Gold.popularRoutesFromStar(star.factTrips, star.dimStation)
    val plan = mart.queryExecution.executedPlan.toString
    // grouping keys (start_station_key, end_station_key) ⊇ the bucket
    // column start_station_key ⇒ the scan's hash partitioning already
    // satisfies the aggregation's required distribution. The only
    // exchanges left are the two BROADCAST dim joins.
    assert(plan.contains("Bucketed: true"), s"expected a bucketed fact scan:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucket-aligned aggregation must not shuffle the fact:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"dims must broadcast:\n$plan")
    // and the star form agrees with the recompute-from-source form.
    val fromStar = SparkEntry.queries("gold_popular_routes_warehouse")(spark, sfDir)
    val fromSource = SparkEntry.queries("gold_popular_routes")(spark, sfDir)
    assert(fromStar.exceptAll(fromSource).count() === 0)
    assert(fromSource.exceptAll(fromStar).count() === 0)
  }
}
