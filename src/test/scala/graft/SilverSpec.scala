package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.silver.Silver

class SilverSpec extends AnyFunSuite {
  import SparkTestBase._

  private def orders = Tables.orders(spark, sfDir)
  private def lineitem = Tables.lineitem(spark, sfDir)
  private def customer = Tables.customer(spark, sfDir)
  private def supplier = Tables.supplier(spark, sfDir)
  private def nation = Tables.nation(spark, sfDir)
  private def region = Tables.region(spark, sfDir)

  test("dim_date covers every day of the span exactly once") {
    val dd = Silver.dimDate(orders, lineitem).cache()
    val n = dd.count()
    val b = dd.agg(min("cal_date").as("lo"), max("cal_date").as("hi"),
      countDistinct("date_id").as("d")).head()
    val span = b.getDate(1).toLocalDate.toEpochDay - b.getDate(0).toLocalDate.toEpochDay + 1
    assert(n === span)
    assert(b.getLong(2) === n)
    dd.unpersist()
  }

  test("day_of_week follows the Postgres convention (0=Sunday) and matches java.time") {
    Silver.dimDate(orders, lineitem)
      .select("cal_date", "day_of_week", "is_weekend").limit(400)
      .collect().foreach { r =>
        val expected = r.getDate(0).toLocalDate.getDayOfWeek.getValue % 7 // ISO Mon=1..Sun=7 → Sun=0
        assert(r.getInt(1) === expected, s"on ${r.getDate(0)}")
        assert(r.getBoolean(2) === (expected == 0 || expected == 6))
      }
  }

  test("dim_user is the full domain cross-product plus the null row") {
    val du = Silver.dimUser(customer, orders).cache()
    val segs = customer.select("c_mktsegment").distinct().count()
    val stats = orders.select("o_orderstatus").distinct().count()
    val pr = orders.select(substring(col("o_orderpriority"), 1, 1).cast("int").as("p"))
      .agg(min("p"), max("p")).head()
    val ranks = pr.getInt(1) - pr.getInt(0) + 1 + 1 // series + null row
    assert(du.count() === segs * stats * ranks)
    assert(du.filter(col("priority_rank").isNull).count() === segs * stats)
    du.unpersist()
  }

  test("fact FK integrity: every station/user key resolves in its dim") {
    val fact = Silver.factTrips(lineitem, orders, customer, supplier)
    val dimS = Silver.dimStation(nation, region, customer, supplier)
    val dimU = Silver.dimUser(customer, orders)
    assert(fact.join(dimS, fact("start_station_key") === dimS("station_key"), "left_anti").count() === 0)
    assert(fact.join(dimS, fact("end_station_key") === dimS("station_key"), "left_anti").count() === 0)
    assert(fact.join(dimU, fact("user_type_key") === dimU("user_type_key"), "left_anti").count() === 0)
  }

  /** `factTrips` as it was when it hashed both station keys per line
    * item after the joins — the reference the dim-side keys are held to.
    */
  private def perRowFact(lineitem: DataFrame, orders: DataFrame,
                         customer: DataFrame, supplier: DataFrame): DataFrame =
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"), "left")
      .join(supplier, col("l_suppkey") === col("s_suppkey"), "left")
      .select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("trip_id"),
        Silver.surrogateKey(lit("station"), col("c_nationkey")).as("start_station_key"),
        Silver.surrogateKey(lit("station"), col("s_nationkey")).as("end_station_key"),
        (year(col("o_orderdate")) * 10000 + month(col("o_orderdate")) * 100 +
          dayofmonth(col("o_orderdate"))).as("start_date_id"),
        (year(col("l_shipdate")) * 10000 + month(col("l_shipdate")) * 100 +
          dayofmonth(col("l_shipdate"))).as("end_date_id"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("duration_days"),
        round(col("l_extendedprice") / 60.0).cast("int").as("duration_min"),
        col("l_partkey").as("bike_id"),
        col("l_quantity").as("quantity"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
        Silver.surrogateKey(col("c_mktsegment"), col("o_orderstatus"),
          substring(col("o_orderpriority"), 1, 1).cast("int")).as("user_type_key"))

  test("fact station keys hashed once per dim row equal the per-row keys, orphans included") {
    val dir = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath
    val (li, o, c, s) = (Tables.lineitem(spark, dir), Tables.orders(spark, dir),
      Tables.customer(spark, dir), Tables.supplier(spark, dir))
    assertSameRows(Silver.factTrips(li, o, c, s), perRowFact(li, o, c, s), "sf0.01")
    // one customer and one supplier removed (their line items are
    // orphans on that side) and one customer with a NULL nationkey
    val gone = o.agg(min("o_custkey")).head().getLong(0)
    val nulled = o.filter(col("o_custkey") =!= gone).agg(min("o_custkey")).head().getLong(0)
    val goneSupp = li.agg(min("l_suppkey")).head().getLong(0)
    val c2 = c.filter(col("c_custkey") =!= gone).withColumn("c_nationkey",
      when(col("c_custkey") === nulled, lit(null).cast("int")).otherwise(col("c_nationkey")))
    val s2 = s.filter(col("s_suppkey") =!= goneSupp)
    val fact = Silver.factTrips(li, o, c2, s2).cache()
    try {
      assertSameRows(fact, perRowFact(li, o, c2, s2), "orphan fixture")
      val none = md5(lit("station|"))
      val orphans = fact.agg(
        sum(when(col("start_station_key") === none, 1).otherwise(0)),
        sum(when(col("end_station_key") === none, 1).otherwise(0))).head()
      assert(orphans.getLong(0) > 0 && orphans.getLong(1) > 0,
        s"the fixture made no orphan start or end key: $orphans")
    } finally fact.unpersist()
  }

  test("surrogate keys are deterministic across recomputation") {
    val a = Silver.dimStation(nation, region, customer, supplier)
      .select("station_key").collect().map(_.getString(0)).sorted
    val b = Silver.dimStation(nation, region, customer, supplier)
      .select("station_key").collect().map(_.getString(0)).sorted
    assert(a.sameElements(b))
  }
}
