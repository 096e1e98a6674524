package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.bronze.Bronze
import graft.enrich.Enrich

/** The P2 protocol invariants: incremental ≡ full, and upsert idempotency
  * (reference silver_load.sql:219,273-275 and ON CONFLICT DO NOTHING).
  */
class IncrementalUpsertSpec extends AnyFunSuite {
  import SparkTestBase._

  private def events = Tables.events(spark, sfDir)

  test("incremental-equals-full: newSince(w) ∪ upTo(w) ≡ full, for several watermarks") {
    val full = events
    for (w <- Seq("2024-01-05 00:00:00", "2024-01-15 12:34:56", "2024-01-29 23:59:59")) {
      val newer = Bronze.newSince(full, "ts", w)
      val older = full.filter(col("ts") <= to_timestamp(lit(w)))
      assert(newer.count() + older.count() === full.count(), s"partition at $w")
      // re-assembled content is exactly the full set
      assert(newer.union(older).exceptAll(full).count() === 0)
      assert(full.exceptAll(newer.union(older)).count() === 0)
    }
  }

  test("insert-if-absent is idempotent and conflict-free") {
    val existing = events.filter(col("event_type") === "signup")
      .select(col("user_id"))
    val incoming = events.select(col("user_id"))
    val first = Enrich.insertIfAbsent(incoming, existing, Seq("user_id"))
    val merged = existing.select("user_id").distinct().union(first)
    // applying the upsert again against the merged state inserts nothing
    assert(Enrich.insertIfAbsent(incoming, merged, Seq("user_id")).count() === 0)
    // merged state is unique on the key
    assert(merged.count() === merged.distinct().count())
  }

  test("cleanEvents null semantics: sentinels nulled, defaults filled, range-violations nulled") {
    val cleaned = Bronze.cleanEvents(events).cache()
    assert(cleaned.filter(col("event_type_clean") === "error").count() === 0)
    assert(cleaned.filter(col("event_type_filled").isNull).count() === 0)
    assert(cleaned.filter(col("value_valid") > 400 || col("value_valid") < 0).count() === 0)
    cleaned.unpersist()
  }

  test("geocode JSON parses through the declared StructType (from_json showcase)") {
    import spark.implicits._
    val raw = Seq(
      """{"place_id": 42, "display_name": "Main St, Emeryville",
        | "address": {"road": "Main St", "city": "Emeryville",
        |             "state": "California", "postcode": "94608",
        |             "country": "USA"}}""".stripMargin.replace("\n", ""),
      """{"place_id": 7, "display_name": "Elsewhere", "address": {"state": "Nevada"}}"""
    ).toDF("json")
    val parsed = raw.select(
      from_json(col("json"), Enrich.geocodeJsonSchema).as("g"))
      .select(col("g.place_id"), col("g.address.city").as("city"),
        col("g.address.state").as("state"))
    val rows = parsed.collect()
    assert(rows.map(_.getLong(0)).toSet === Set(42L, 7L))
    assert(rows.find(_.getLong(0) == 42L).get.getString(1) === "Emeryville")
    assert(rows.find(_.getLong(0) == 7L).get.getString(2) === "Nevada")
    // P4 default path: null city coalesces to the reference default
    val filled = parsed.select(coalesce(col("city"), lit("Emeryville")).as("c"))
    assert(filled.filter(col("c").isNull).count() === 0)
  }

  test("append sink accumulates batches with an ingest audit column") {
    val dir = tmpDir("graft_sink").toString + "/bronze"
    val batch = events.limit(100)
    Bronze.appendSink(batch, dir)
    Bronze.appendSink(batch, dir)
    val out = spark.read.parquet(dir)
    assert(out.count() === 200)
    assert(out.columns.contains("created_at"))
  }

  test("partitioned sink enables partition pruning on read") {
    val dir = tmpDir("graft_part").toString + "/bronze"
    Bronze.appendSink(events.select("event_id", "event_type", "value"), dir,
      partitionCols = Seq("event_type"))
    val pruned = spark.read.parquet(dir).filter(col("event_type") === "purchase")
    val scan = pruned.queryExecution.executedPlan.toString
    // the filter must prune partitions at the scan, not post-filter rows
    assert(scan.contains("PartitionFilters") &&
      scan.contains("isnotnull(event_type") || scan.contains("event_type#"),
      s"expected partition filters in:\n$scan")
    val expected = events.filter(col("event_type") === "purchase").count()
    assert(pruned.count() === expected)
    // directory layout is hive-partitioned
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("event_type=")))
  }

  test("csv scan derives the period column from the file name") {
    val dir = tmpDir("graft_csv").toFile
    val f = new java.io.File(dir, "201801-trips.csv")
    val pw = new java.io.PrintWriter(f)
    pw.println("id,name"); pw.println("1,a"); pw.println("2,b"); pw.close()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType)))
    val df = Bronze.scanCsvWithPeriod(spark, schema, dir.getAbsolutePath)
    val rows = df.collect()
    assert(rows.length === 2)
    assert(rows.forall(_.getAs[String]("period") === "201801-trips"))
  }
}
