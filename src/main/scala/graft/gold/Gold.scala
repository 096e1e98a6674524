package graft.gold

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.silver.Silver

/** Gold data marts — the reference's four materialized views
  * (/root/reference include/sql/gold/gold_ddl.sql:11-132) re-expressed as
  * DataFrame programs over the silver star. Spark has no incremental MV;
  * full recompute matches `REFRESH MATERIALIZED VIEW` semantics exactly
  * (gold_ddl.sql:201-244), so each mart is a pure function meant for
  * overwrite-mode writes.
  *
  * Determinism discipline for the DuckDB oracle (SURVEY §7): fractional
  * aggregates are computed from exact integer partials (whole-valued
  * quantities, cents-scaled prices) followed by a single IEEE division —
  * bit-identical across engines regardless of partial-aggregation order.
  *
  * Scale notes: every mart is fact-scan → partial agg (map-side combine) →
  * final agg on few keys. A mart aggregates on the narrowest key that
  * determines its groups and joins display attributes afterwards: the
  * daily summary groups on the integer date key and only then joins the
  * calendar. Bounded dims (nation, the calendar) carry explicit broadcast
  * hints; data-scaled relations don't (AQE decides at runtime). No
  * fact-fact shuffle except the deliberate starts⟗ends full-outer in
  * station popularity, which aggregates BEFORE joining (two small
  * aggregates joined, never the raw fact rows).
  */
object Gold {

  /** Cents-exact sum of a 2-decimal double column → BIGINT (order-stable). */
  private def centsSum(c: String) =
    sum(round(col(c) * 100).cast("long"))

  /** dm_daily_trip_summary (gold_ddl.sql:11-26) from the raw sources:
    * [[dailySummaryFromStar]] over lineitem⋈orders projected to the
    * fact's columns (`price_cents` as the fact computes it).
    */
  def dailyTripSummary(lineitem: DataFrame, orders: DataFrame,
                       dimDate: DataFrame): DataFrame =
    dailySummaryFromStar(lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(
        (year(col("o_orderdate")) * 10000 + month(col("o_orderdate")) * 100 +
          dayofmonth(col("o_orderdate"))).as("start_date_id"),
        col("l_quantity").as("quantity"), col("l_partkey").as("bike_id"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents")),
      dimDate)

  /** dm_station_popularity (gold_ddl.sql:29-91): two pre-aggregations
    * full-outer-joined on the station key (J6) with COALESCE zero-fill,
    * derived net-flow arithmetic (A9), MAX-as-any detail collapse (A5),
    * and a left back-join for display attributes (J9).
    */
  def stationPopularity(lineitem: DataFrame, orders: DataFrame,
                        customer: DataFrame, supplier: DataFrame,
                        nation: DataFrame): DataFrame = {
    // aggregate BEFORE joining: each side collapses the fact to ≤ |stations| rows.
    val starts = orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("trips_started"))
    val ends = lineitem
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("trips_ended"))
    // A5: collapse per-station detail rows with MAX-as-any-value.
    val details = customer.groupBy(col("c_nationkey").as("nationkey"))
      .agg(max(col("c_mktsegment")).as("top_segment"))
    // J6: Seq-form full outer join coalesces the key, mirroring
    // COALESCE(s.station_name, e.station_name) at gold_ddl.sql:73.
    starts.join(ends, Seq("nationkey"), "full_outer")
      .join(broadcast(nation), col("nationkey") === col("n_nationkey"), "left") // J9
      .join(broadcast(details), Seq("nationkey"), "left")
      .filter(col("n_name").isNotNull)                                   // P6
      .select(
        col("nationkey"),
        col("n_name").as("station_name"),
        coalesce(col("trips_started"), lit(0L)).as("trips_started"),
        coalesce(col("trips_ended"), lit(0L)).as("trips_ended"),
        (coalesce(col("trips_started"), lit(0L)) -
          coalesce(col("trips_ended"), lit(0L))).as("net_flow"),         // A9
        (coalesce(col("trips_started"), lit(0L)) +
          coalesce(col("trips_ended"), lit(0L))).as("total_trips"),
        col("top_segment"))
  }

  /** dm_daily_trip_summary off the PERSISTED fact (`start_date_id`,
    * `quantity`, `bike_id`, `price_cents`), the one definition of the
    * daily mart: COUNT/SUM/AVG (A1) and COUNT(DISTINCT bike) (A2) per
    * calendar day (A4), inner-joined to the broadcast calendar (J4). It
    * aggregates on the integer `start_date_id` first and joins the
    * calendar after: `date_id` → calendar row is 1:1, so the inner join
    * drops the same groups (a NULL or uncovered date) as joining first
    * would, and every measure is an integer or a whole-valued double
    * sum, exact in any order. No join beyond the calendar: the
    * lineitem⋈orders shuffle was paid once when the fact was persisted.
    */
  def dailySummaryFromStar(factTrips: DataFrame, dimDate: DataFrame): DataFrame =
    factTrips
      .groupBy(col("start_date_id"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("quantity")).as("qty"),            // whole-valued → exact
        countDistinct(col("bike_id")).as("bikes"),
        sum(col("price_cents")).as("cents"))
      .join(broadcast(dimDate), col("start_date_id") === col("date_id"))
      .select(
        col("cal_date"), col("year"), col("month_name"), col("day_name"),
        col("is_weekend"),
        col("n").as("total_trips"),
        col("qty").cast("long").as("total_qty"),
        (col("qty") / col("n")).as("avg_qty"),
        col("bikes").as("unique_bikes"),
        ((col("cents").cast("double") / lit(100.0)) /
          col("n").cast("double")).as("avg_price"))

  /** dm_popular_routes (gold_ddl.sql:94-113): fact grouped by the two
    * station endpoints, double left join to the dim + null filter (J7),
    * route label concat (F12), exact-int average duration.
    */
  def popularRoutes(lineitem: DataFrame, orders: DataFrame,
                    customer: DataFrame, supplier: DataFrame,
                    nation: DataFrame): DataFrame = {
    val n1 = nation.select(col("n_nationkey").as("sk"), col("n_name").as("start_station"))
    val n2 = nation.select(col("n_nationkey").as("ek"), col("n_name").as("end_station"))
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("c_nationkey") === col("sk"), "left")     // J7
      .join(broadcast(n2), col("s_nationkey") === col("ek"), "left")
      .filter(col("start_station").isNotNull && col("end_station").isNotNull) // P6
      .withColumn("duration_days", datediff(col("l_shipdate"), col("o_orderdate")))
      .groupBy(col("start_station"), col("end_station"))
      .agg(count(lit(1)).as("trip_count"),
        (sum(col("duration_days")).cast("double") /
          count(lit(1)).cast("double")).as("avg_duration_days"))
      .select(
        concat_ws(" -> ", col("start_station"), col("end_station")).as("route_id"), // F12
        col("start_station"), col("end_station"),
        col("trip_count"), col("avg_duration_days"))
  }

  /** dm_popular_routes computed OFF THE STAR instead of the raw sources:
    * the fact is already joined, so the only joins left are two
    * broadcasts of the tiny station dim for display names. Over the
    * warehouse's fact ([[graft.plans.Warehouse]] persists it bucketed on
    * `start_station_key`) the aggregation below — whose grouping keys
    * include the bucket column — runs with ZERO exchange before the
    * partial agg; over the unbucketed fact `Pipeline.runFullEtl` stages
    * it pays one exchange on the grouping keys. The raw-source form
    * ([[popularRoutes]]) re-pays lineitem⋈orders plus two fact-side dim
    * joins on every refresh; at 100 TB this form moves nothing but the
    * ≤|stations|² aggregate.
    *
    * Parity with [[popularRoutes]] holds because every station key in the
    * fact resolves in the dim (both derive the key from the same
    * nationkey expression) and the testdata's nation table is total — a
    * nationkey missing from `nation` would surface here as the dim's
    * 'UNKNOWN' name where the raw form's null-name filter drops the row.
    */
  def popularRoutesFromStar(factTrips: DataFrame, dimStation: DataFrame): DataFrame = {
    val s1 = dimStation.select(col("station_key").as("start_station_key"),
      col("station_name").as("start_station"))
    val s2 = dimStation.select(col("station_key").as("end_station_key"),
      col("station_name").as("end_station"))
    factTrips
      // over a fact bucketed on start_station_key (the warehouse's), the
      // grouping keys ⊇ the bucket column ⇒ no shuffle before this aggregate
      .groupBy(col("start_station_key"), col("end_station_key"))
      .agg(count(lit(1)).as("trip_count"),
        sum(col("duration_days")).as("sum_duration"))
      .join(broadcast(s1), Seq("start_station_key"))
      .join(broadcast(s2), Seq("end_station_key"))
      .filter(col("start_station") =!= "UNKNOWN" && col("end_station") =!= "UNKNOWN")
      .select(
        concat_ws(" -> ", col("start_station"), col("end_station")).as("route_id"),
        col("start_station"), col("end_station"),
        col("trip_count"),
        (col("sum_duration").cast("double") /
          col("trip_count").cast("double")).as("avg_duration_days"))
  }

  /** dm_user_behavior_summary (gold_ddl.sql:116-132): chained inner dim
    * joins (J8), computed age-style group key (F13), COUNT/SUM/AVG.
    */
  def userBehavior(orders: DataFrame, customer: DataFrame): DataFrame = {
    orders
      .join(customer, col("o_custkey") === col("c_custkey")) // J8
      // F13 analog: arithmetic age-style key from the event year.
      .withColumn("order_age_years", lit(2002) - year(col("o_orderdate")))
      .groupBy(col("c_mktsegment"), col("o_orderstatus"), col("order_age_years"))
      .agg(
        count(lit(1)).as("total_orders"),
        (centsSum("o_totalprice").cast("double") / lit(100.0)).as("total_price"),
        ((centsSum("o_totalprice").cast("double") / lit(100.0)) /
          count(lit(1)).cast("double")).as("avg_price"))
  }

  /** Rename views (S9/P7, gold_ddl.sql:135-193): the reference exposes
    * each mart through a pure column-alias view; all four mirrored here.
    */
  def stationPopularityView(mart: DataFrame): DataFrame =
    mart.select(
      col("nationkey").as("station_code"),
      col("station_name").as("station"),
      col("trips_started").as("departures"),
      col("trips_ended").as("arrivals"),
      col("net_flow").as("flow"),
      col("total_trips").as("traffic"))

  def dailySummaryView(mart: DataFrame): DataFrame =
    mart.select(
      col("cal_date").as("trip_date"),
      col("year").as("trip_year"),
      col("month_name").as("month"),
      col("day_name").as("weekday"),
      col("is_weekend").as("weekend"),
      col("total_trips").as("trips"),
      col("total_qty").as("quantity"),
      col("avg_qty").as("avg_quantity"),
      col("unique_bikes").as("distinct_bikes"),
      col("avg_price").as("avg_trip_price"))

  def popularRoutesView(mart: DataFrame): DataFrame =
    mart.select(
      col("route_id").as("route"),
      col("start_station").as("origin"),
      col("end_station").as("destination"),
      col("trip_count").as("trips"),
      col("avg_duration_days").as("avg_days"))

  def userBehaviorView(mart: DataFrame): DataFrame =
    mart.select(
      col("c_mktsegment").as("segment"),
      col("o_orderstatus").as("status"),
      col("order_age_years").as("age_years"),
      col("total_orders").as("orders"),
      col("total_price").as("revenue"),
      col("avg_price").as("avg_order_value"))
}
