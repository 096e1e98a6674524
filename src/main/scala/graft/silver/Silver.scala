package graft.silver

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Silver star-schema build — the reference's five plpgsql ETL procedures
  * (/root/reference include/sql/silver/silver_load.sql:4-310) re-expressed
  * as pure DataFrame functions over the driver testdata roles
  * (FIXTURES.md §B): nation/region/customer/supplier = station dims,
  * lineitem+orders = trips fact.
  *
  * Scale notes (100 TB design):
  *  - Explicit `broadcast()` only on relations bounded by construction
  *    (nation/region, per-key representatives). Anything that grows with
  *    the data (customer, supplier) carries no hint — AQE converts those
  *    joins to broadcast at runtime when actual sizes allow.
  *  - The only big-big join is lineitem⋈orders on the order key — a
  *    shuffle hash/sort-merge join on a single equi-key, the canonical
  *    co-partitionable join (bucket both sides by orderkey when persisted).
  *  - Surrogate keys are codegen'd built-ins (`md5`/`concat_ws`) — no
  *    lookups, no driver round-trips — computed where the fewest rows
  *    are: the fact's station keys once per customer/supplier row before
  *    its joins, not twice per line item after them.
  */
object Silver {

  /** Surrogate key (reference F1/F2, silver_load.sql:48,114-119):
    * md5 over a '|'-joined, null-coalesced column list. The reference's
    * `::bit(64)::bigint` signed reinterpretation is provided separately by
    * [[graft.functions.KeyFunctions.md5SignedLong]]; the hex-string form
    * is used in oracle-checked queries because it is bit-identical across
    * engines. `concat_ws` skips nulls, so every argument is wrapped in
    * `coalesce(_, "")` to keep the field count stable (SURVEY §7 gotcha).
    */
  def surrogateKey(parts: Column*): Column =
    md5(concat_ws("|", parts.map(c => coalesce(c.cast("string"), lit(""))): _*))

  /** dim_station — reference `load_dim_locations` (silver_load.sql:4-66):
    * dedup-union of start/end keys (A7), DISTINCT-ON representative with an
    * explicit deterministic order (A6), left-join enrichment (J1),
    * COALESCE default (P4), md5 surrogate key (F1).
    */
  def dimStation(nation: DataFrame, region: DataFrame,
                 customer: DataFrame, supplier: DataFrame): DataFrame = {
    // A7: union-distinct of the two key populations (start=customer nation,
    // end=supplier nation), mirroring silver_load.sql:24-36.
    val keys = customer.select(col("c_nationkey").as("nationkey"))
      .union(supplier.select(col("s_nationkey").as("nationkey")))
      .distinct()
    // A6: DISTINCT ON (key) — one representative customer per nation, with
    // an explicit tie-breaking sort so the survivor is deterministic
    // (SURVEY §7: never rely on arbitrary-survivor in oracle-checked output).
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    val rep = customer
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("c_nationkey").as("nationkey"),
        col("c_custkey").as("rep_custkey"), col("c_acctbal").as("rep_acctbal"))
    // J1: left-join enrichment; dims are tiny → broadcast, zero shuffle.
    keys
      .join(broadcast(nation), keys("nationkey") === nation("n_nationkey"), "left")
      .join(broadcast(region), col("n_regionkey") === region("r_regionkey"), "left")
      .join(broadcast(rep), Seq("nationkey"), "left")
      .select(
        surrogateKey(lit("station"), col("nationkey")).as("station_key"),
        col("nationkey"),
        coalesce(col("n_name"), lit("UNKNOWN")).as("station_name"), // P4
        col("r_name").as("region_name"),
        col("rep_custkey"), col("rep_acctbal"))
  }

  /** dim_user — reference `load_dim_user_types` (silver_load.sql:71-132):
    * cross-join of attribute domains (J10), a generated integer series with
    * data-derived bounds (G1 ≈ birth-year generate_series,
    * silver_load.sql:84-91), plus a UNION ALL null row (A8,
    * silver_load.sql:90-95), keyed by the coalesced-concat md5 (F2).
    */
  def dimUser(customer: DataFrame, orders: DataFrame): DataFrame = {
    val segs  = customer.select(col("c_mktsegment").as("mktsegment")).distinct()
    val stats = orders.select(col("o_orderstatus").as("orderstatus")).distinct()
    // G1: generate_series(min,max) with bounds aggregated from the data.
    val prio = substring(col("o_orderpriority"), 1, 1).cast("int")
    val ranks = orders
      .agg(min(prio).as("lo"), max(prio).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("priority_rank"))
      .union(orders.limit(1).select(lit(null).cast("int").as("priority_rank"))) // A8
    // J10: cartesian of the small domains — intentionally a cross join of
    // broadcast-sized inputs (≤ tens of rows each side).
    segs.crossJoin(stats).crossJoin(ranks)
      .select(
        surrogateKey(col("mktsegment"), col("orderstatus"), col("priority_rank"))
          .as("user_type_key"),
        col("mktsegment"), col("orderstatus"), col("priority_rank"))
  }

  /** dim_date — reference `load_dim_date` (silver_load.sql:137-183):
    * global min/max bounds with LEAST/GREATEST across two tables (A3),
    * one row per calendar day via sequence+explode (G2), smart date key
    * (F6), month/day names (F5), Postgres-convention day-of-week 0=Sunday
    * (F4 shift: Spark dayofweek is 1=Sunday), weekend flag (F11).
    */
  def dimDate(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val ob = orders.agg(to_date(min(col("o_orderdate"))).as("omin"),
                        to_date(max(col("o_orderdate"))).as("omax"))
    val lb = lineitem.agg(to_date(min(col("l_shipdate"))).as("lmin"),
                          to_date(max(col("l_shipdate"))).as("lmax"))
    val bounds = ob.crossJoin(lb).select(
      least(col("omin"), col("lmin")).as("lo"),
      greatest(col("omax"), col("lmax")).as("hi"))
    val days = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("cal_date"))
    days.select(
      (year(col("cal_date")) * 10000 + month(col("cal_date")) * 100 +
        dayofmonth(col("cal_date"))).as("date_id"),            // F6
      col("cal_date"),
      year(col("cal_date")).as("year"),
      month(col("cal_date")).as("month"),
      date_format(col("cal_date"), "MMMM").as("month_name"),   // F5
      dayofmonth(col("cal_date")).as("day"),
      quarter(col("cal_date")).as("quarter"),
      (dayofweek(col("cal_date")) - 1).as("day_of_week"),      // F4 DOW shift
      date_format(col("cal_date"), "EEEE").as("day_name"),
      dayofweek(col("cal_date")).isin(1, 7).as("is_weekend"))  // F11
  }

  /** fact_trips — reference `load_fact_trips` (silver_load.sql:188-263):
    * the big-big equi-join (lineitem⋈orders), the same dim joined twice
    * under aliases (J2/J3 via customer→start station, supplier→end
    * station), smart date keys (F6), ROUND(x/60.0)::INT (F8), and the
    * recomputed surrogate FKs (F1) — identical expressions to the dims, so
    * FK integrity holds by construction, as in the reference.
    *
    * The station keys are hashed on the customer/supplier side, once per
    * dim row; a line item with no matching customer or supplier takes the
    * key of a NULL nationkey, `md5("station|")`, as the per-row form did.
    */
  def factTrips(lineitem: DataFrame, orders: DataFrame,
                customer: DataFrame, supplier: DataFrame): DataFrame = {
    val noStation = surrogateKey(lit("station"), lit(null))
    lineitem
      // the one genuine shuffle join: both sides large, single equi-key.
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      // J2/J3: the station dim source joined twice (start via customer,
      // end via supplier). No static broadcast hints — customer/supplier
      // scale with the data; AQE picks broadcast at runtime when small.
      .join(customer.withColumn("_sk", surrogateKey(lit("station"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"), "left")
      .join(supplier.withColumn("_ek", surrogateKey(lit("station"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"), "left")
      .select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("trip_id"),
        coalesce(col("_sk"), noStation).as("start_station_key"),
        coalesce(col("_ek"), noStation).as("end_station_key"),
        (year(col("o_orderdate")) * 10000 + month(col("o_orderdate")) * 100 +
          dayofmonth(col("o_orderdate"))).as("start_date_id"),  // F6
        (year(col("l_shipdate")) * 10000 + month(col("l_shipdate")) * 100 +
          dayofmonth(col("l_shipdate"))).as("end_date_id"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("duration_days"),
        round(col("l_extendedprice") / 60.0).cast("int").as("duration_min"), // F8
        col("l_partkey").as("bike_id"),
        col("l_quantity").as("quantity"),
        // exact-cents price so gold marts (avg_price) roll up from the
        // PERSISTED fact bit-exactly — no raw-source re-join at refresh.
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
        surrogateKey(col("c_mktsegment"), col("o_orderstatus"),
          substring(col("o_orderpriority"), 1, 1).cast("int")).as("user_type_key"))
  }
}
