package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.gold.Gold
import graft.silver.Silver

/** The daily mart, which aggregates on the date key before it joins the
  * calendar, against the forms that joined the calendar first and
  * grouped on its five attributes. The reference forms below are those
  * forms verbatim.
  */
class GoldSpec extends AnyFunSuite {
  import SparkTestBase._

  private val dir001 =
    new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath

  /** `dailySummaryFromStar` as it grouped by the calendar attributes. */
  private def byCalendarFromStar(fact: DataFrame, dimDate: DataFrame): DataFrame =
    fact
      .join(broadcast(dimDate), col("start_date_id") === col("date_id"))
      .groupBy(col("cal_date"), col("year"), col("month_name"),
        col("day_name"), col("is_weekend"))
      .agg(
        count(lit(1)).as("total_trips"),
        sum(col("quantity")).cast("long").as("total_qty"),
        (sum(col("quantity")) / count(lit(1))).as("avg_qty"),
        countDistinct(col("bike_id")).as("unique_bikes"),
        ((sum(col("price_cents")).cast("double") / lit(100.0)) /
          count(lit(1)).cast("double")).as("avg_price"))

  /** `dailyTripSummary` as it joined the raw sources to the calendar. */
  private def byCalendarRaw(lineitem: DataFrame, orders: DataFrame,
                            dimDate: DataFrame): DataFrame =
    lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      .withColumn("start_date_id",
        year(col("o_orderdate")) * 10000 + month(col("o_orderdate")) * 100 +
          dayofmonth(col("o_orderdate")))
      .join(broadcast(dimDate), col("start_date_id") === col("date_id"))
      .groupBy(col("cal_date"), col("year"), col("month_name"),
        col("day_name"), col("is_weekend"))
      .agg(
        count(lit(1)).as("total_trips"),
        sum(col("l_quantity")).cast("long").as("total_qty"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        countDistinct(col("l_partkey")).as("unique_bikes"),
        ((sum(round(col("l_extendedprice") * 100).cast("long")).cast("double") /
          lit(100.0)) / count(lit(1)).cast("double")).as("avg_price"))

  test("the daily mart rolled up on the date key equals the group-by-calendar forms") {
    val (li, o) = (Tables.lineitem(spark, dir001), Tables.orders(spark, dir001))
    val dd = Silver.dimDate(o, li).cache()
    val fact = Silver.factTrips(li, o, Tables.customer(spark, dir001),
      Tables.supplier(spark, dir001)).cache()
    try {
      val star = Gold.dailySummaryFromStar(fact, dd)
      assertSameRows(star, byCalendarFromStar(fact, dd), "star vs calendar-first star")
      assertSameRows(star, byCalendarRaw(li, o, dd), "star vs calendar-first raw")
      assertSameRows(Gold.dailyTripSummary(li, o, dd), byCalendarRaw(li, o, dd),
        "raw vs calendar-first raw")
      assert(star.count() > 100, "the sf0.01 mart should span many days")
    } finally { fact.unpersist(); dd.unpersist() }
  }

  test("the date-key rollup drops uncovered and NULL dates and counts a bike once per day") {
    import spark.implicits._
    val dd = Silver.dimDate(Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir))
    val days = dd.orderBy("date_id").select("date_id").as[Int].take(3)
    // (start_date_id, quantity, bike_id, price_cents): bike 7 rides on
    // three days and twice on the first; one trip on a date the
    // calendar lacks, one with no date
    val fact = (Seq[(Option[Int], Double, Long, Long)](
      (Some(days(0)), 2.0, 7L, 1050L), (Some(days(0)), 3.0, 7L, 999L),
      (Some(days(0)), 1.0, 8L, 1L), (Some(days(1)), 4.0, 7L, 12345L),
      (Some(days(2)), 5.0, 7L, 7L), (Some(99991231), 6.0, 7L, 100L),
      (None, 7.0, 9L, 200L)))
      .toDF("start_date_id", "quantity", "bike_id", "price_cents")
    val star = Gold.dailySummaryFromStar(fact, dd)
    assertSameRows(star, byCalendarFromStar(fact, dd), "fixture")
    val got = star.orderBy("cal_date")
      .select("total_trips", "total_qty", "unique_bikes").as[(Long, Long, Long)].collect()
    assert(got.toSeq === Seq((3L, 6L, 2L), (1L, 4L, 1L), (1L, 5L, 1L)))
  }
}
