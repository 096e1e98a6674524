package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality expectation gate — the admission control a training-data
  * pipeline runs before a batch is allowed into the corpus (schema-level
  * cousin of the reference's NOT NULL / ON CONFLICT constraints, which
  * Postgres enforced per-row; an immutable-files warehouse validates per
  * BATCH instead and quarantines on failure).
  *
  * All checks evaluate in ONE distributed pass: each check is an
  * aggregate column (conditional counts, count-minus-distinct, …), so the
  * whole gate is a single partial+final aggregation over the input — no
  * per-check scans, no driver-side row handling. The wide 1-row aggregate
  * is then unpivoted to one row per check on the driver side of the agg
  * (an O(#checks) projection).
  */
object Quality {

  /** Run `checks` (name → aggregate expression counting violations) in
    * one pass. Returns (check_name, n_violations, pass) per check.
    */
  def expectations(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty, "at least one check required")
    val aggs = checks.zipWithIndex.map { case ((_, c), i) =>
      // an EMPTY batch must read as zero violations (pass), not NULL:
      // sum() over no rows is NULL, and a NULL pass flag would neither
      // pass nor fail the gate.
      coalesce(c.cast("long"), lit(0L)).as(s"_v$i")
    }
    val agged = df.agg(aggs.head, aggs.tail: _*)
    val rows = checks.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(name).as("check_name"), col(s"_v$i").as("n_violations"))
    }
    agged.select(explode(array(rows: _*)).as("c"))
      .select(col("c.check_name"), col("c.n_violations"),
        (col("c.n_violations") === 0L).as("pass"))
  }

  /** Conditional violation count for row-level predicates. */
  def countWhere(pred: Column): Column = count_if(pred)

  /** The standard gate for the events feed: key uniqueness, required
    * fields, domain membership, and value sanity.
    */
  def eventsGate(events: DataFrame): DataFrame =
    expectations(events, Seq(
      "event_id_unique" -> (count(lit(1)) - countDistinct(col("event_id"))),
      "event_type_in_domain" -> countWhere(col("event_type").isNull ||
        !col("event_type").isin("click", "error", "purchase", "signup", "view")),
      "ts_not_null" -> countWhere(col("ts").isNull),
      "user_id_not_null" -> countWhere(col("user_id").isNull),
      "value_non_negative" -> countWhere(col("value") < 0)))

  /** DISTRIBUTION-DRIFT monitor between two slices of one feed (day N
    * vs day N+1, source A vs source B, train vs eval) — the check a
    * training-data pipeline runs before admitting a batch whose schema
    * passes but whose VALUES shifted. Fixed-width histograms of the two
    * slices are full-outer joined on bin; each per-bin row carries the
    * exact counts, the IEEE-exact shares, and the per-bin L1 and
    * symmetric-χ² terms; one summary row carries total-variation
    * distance. TVD is computed EXACTLY from integer counts —
    * Σ|n_a·tot_b − n_b·tot_a| summed as decimal(38,0) (exact, order-
    * independent), one final division — never as a float Σ over |p−q|,
    * whose rounding would depend on partition order and break the
    * bit-exact oracle. PSI/KL variants are deliberately absent: ln() is
    * not correctly-rounded across libm implementations, so their sums
    * cannot be oracle-checked bit-for-bit; TVD and χ² carry the same
    * decision signal on rational arithmetic.
    *
    * Scale shape: two partial-aggregated histograms (bins ≪ data), a
    * bin-sized full-outer join, a broadcast 1-row totals frame — no
    * data-sized shuffle beyond the two groupBys, no windows. The
    * decimal(19,0) cast before the cross-product keeps the TVD
    * numerator exact up to ~1e14 rows per slice (past that, widen the
    * cast — the sum itself is decimal(38,0)).
    * Output: section='bin' rows (bin, n_a, n_b, p_a, p_b, l1_term,
    * chi2_term) + one section='total' row (bin NULL, totals, l1_term =
    * TVD ∈ [0,1], chi2_term NULL — a float Σ would be order-dependent).
    */
  def drift(a: DataFrame, b: DataFrame, valueCol: String,
            binWidth: Double): DataFrame =
    driftFromHists(histBuild(a, valueCol, binWidth),
      histBuild(b, valueCol, binWidth))

  /** THE fixed-width binning expression — the single definition every
    * equi-width histogram in the engine derives from (round-10
    * unification): the drift monitor's [[histBuild]] uses origin 0 and a
    * declared width; the bounds-derived 20-bucket profile
    * (`SparkEntry.histogram20`, oracle `stats_histogram`) uses origin =
    * data min and width = range/20 with a clamp on top. One formula, so
    * the two families cannot round differently at bin edges. (The
    * equi-depth histogram is rank-based by definition — ntile has no
    * width and deliberately does NOT route through this.)
    */
  def binExpr(value: Column, width: Column, origin: Column): Column =
    floor((value - origin) / width).cast("long")

  /** Fixed-width histogram as PIPELINE state: (bin, n). Bin counts are
    * the simplest mergeable sketch of all — build(A) ⊕ build(B) ==
    * build(A∪B) by additivity — so a baseline histogram persists on
    * day 1 and folds daily batches forever; [[drift]] then compares any
    * two states. Bins ≪ data: one partial-aggregated groupBy, nothing
    * data-sized moves afterward.
    */
  def histBuild(df: DataFrame, valueCol: String, binWidth: Double): DataFrame = {
    require(binWidth > 0, s"histBuild: binWidth must be positive, got $binWidth")
    df.filter(col(valueCol).isNotNull)
      .groupBy(binExpr(col(valueCol), lit(binWidth), lit(0.0)).as("bin"))
      .agg(count(lit(1)).as("n"))
  }

  /** Persist a histogram with its bin width STAMPED — the same state
    * discipline as the sketch family's geometry stamps: two histograms
    * of different bin width join bin-for-bin without error and yield
    * silently meaningless drift numbers, the exact failure mode the
    * stamp closes. The stamp is a constant column (RLE-compresses to
    * nothing); [[histMerge]] and [[driftStated]] cross-validate it.
    */
  def histWrite(hist: DataFrame, dir: String, binWidth: Double): Unit =
    Sketches.writeStamped(hist, dir, "histWrite", Hist,
      Seq("bin_width" -> binWidth), bounds = Nil)

  private val Hist = Sketches.Shape("histogram", Seq("bin", "n"), "histBuild")

  /** Additive histogram merge: sum counts per bin — exactly the
    * single-pass histogram of the union stream. Stamped (persisted)
    * inputs are cross-validated against the declared width.
    */
  def histMerge(binWidth: Double, parts: DataFrame*): DataFrame = {
    Sketches.mergeChecked("histMerge", Hist, parts, Seq("bin_width"),
      Seq("bin_width" -> binWidth))
    Sketches.unionOf(parts, Seq("bin", "n"))
      .groupBy(col("bin")).agg(sum(col("n")).as("n"))
  }

  /** EXACT DELETION from additive histogram state — the
    * right-to-be-forgotten path for the one sketch family whose algebra
    * is invertible: bin counts are plain integers, so removing a cohort
    * is `state − histBuild(cohort)` per bin, bit-identical to rebuilding
    * the histogram over the retained rows (the property the oracle
    * checks) without rescanning the retained 99.99% of the corpus.
    * KMV (bottom-k of a union) and Bloom (saturating bitmap) are NOT
    * invertible — deletion there is a rebuild from the retained corpus,
    * and pretending otherwise would silently under-remove. CMS counters
    * are linear and could subtract the same way (the turnstile model),
    * but the family keeps rebuild semantics: this engine's CMS contract
    * is "never undercounts", which subtraction preserves only under an
    * all-net-counts-nonnegative invariant the sketch alone cannot
    * witness.
    *
    * Fails loudly if any bin would go negative (the "removed" rows were
    * never fully in the state — subtracting anyway would corrupt every
    * later drift read); bins reaching zero are dropped so the result is
    * exactly [[histBuild]] of the retained rows. Stamped inputs are
    * cross-validated against the declared width.
    */
  def histSubtract(binWidth: Double, state: DataFrame,
                   removed: DataFrame): DataFrame = {
    Seq(state -> "histSubtract state", removed -> "histSubtract removed")
      .foreach { case (p, what) =>
        Hist.require(p, what)
        Stamp.require(p, what, Seq("bin_width" -> binWidth))
      }
    // materialized ONCE (histograms are bins-bounded, not corpus-sized):
    // the negative-bin validation and the returned frame must read the
    // SAME data — two lazy evaluations could diverge if the state path
    // is rewritten between the validating action and the caller's
    val joined = state.select(col("bin"), col("n"))
      .join(removed.select(col("bin"), col("n").as("rn")), Seq("bin"), "full_outer")
      .select(col("bin"), coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("rn"), lit(0L)).as("rn"))
      .localCheckpoint(eager = true)
    val bad = joined.filter(col("rn") > col("n")).limit(1).collect()
    require(bad.isEmpty,
      s"histSubtract: bin ${bad.headOption.map(_.get(0)).orNull} removes " +
        "more rows than the state holds — the cohort was never (fully) " +
        "folded into this state; subtracting would corrupt it")
    joined.select(col("bin"), (col("n") - col("rn")).as("n"))
      .filter(col("n") > 0)
  }

  /** [[drift]] over two STAMPED (persisted) histogram states — widths
    * are read from both stamps and must agree; the day-30 baseline
    * comparison a pipeline actually runs.
    */
  def driftStated(a: DataFrame, b: DataFrame): DataFrame = {
    val Seq(wa, wb) = Seq(a -> "left", b -> "right").map { case (df, side) =>
      require(df.columns.contains("bin_width"),
        s"driftStated: $side histogram carries no bin_width stamp — " +
          "persist it with histWrite, or use drift() on raw slices")
      val w = Stamp.read(df, Seq("bin_width"))
      require(w.nonEmpty, s"driftStated: $side histogram is empty — no stamp to read")
      w
    }
    Stamp.require(wb, "driftStated right histogram (against the left's)",
      wa.get.toSeq)
    driftFromHists(a.select(col("bin"), col("n")), b.select(col("bin"), col("n")))
  }

  private def driftFromHists(ha: DataFrame, hb: DataFrame): DataFrame = {
    val joined = ha.withColumnRenamed("n", "n_a")
      .join(hb.withColumnRenamed("n", "n_b"), Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val tot = joined.agg(sum(col("n_a")).as("tot_a"), sum(col("n_b")).as("tot_b"))
    val withTot = joined.crossJoin(broadcast(tot))
    val perBin = withTot
      .withColumn("p_a", col("n_a").cast("double") / col("tot_a").cast("double"))
      .withColumn("p_b", col("n_b").cast("double") / col("tot_b").cast("double"))
      .select(lit("bin").as("section"), col("bin"), col("n_a"), col("n_b"),
        col("p_a"), col("p_b"),
        abs(col("p_a") - col("p_b")).as("l1_term"),
        when(col("p_a") + col("p_b") > 0,
          (col("p_a") - col("p_b")) * (col("p_a") - col("p_b")) * lit(2.0) /
            (col("p_a") + col("p_b")))
          .otherwise(lit(0.0)).as("chi2_term"))
    val total = withTot
      .select(col("tot_a"), col("tot_b"),
        abs(col("n_a").cast("decimal(19,0)") * col("tot_b").cast("decimal(19,0)") -
          col("n_b").cast("decimal(19,0)") * col("tot_a").cast("decimal(19,0)"))
          .as("num"))
      .groupBy(col("tot_a"), col("tot_b"))
      .agg(sum(col("num")).as("num_sum"))
      .select(lit("total").as("section"), lit(null).cast("long").as("bin"),
        col("tot_a").as("n_a"), col("tot_b").as("n_b"),
        lit(null).cast("double").as("p_a"), lit(null).cast("double").as("p_b"),
        (col("num_sum").cast("double") /
          (lit(2.0) * col("tot_a").cast("double") * col("tot_b").cast("double")))
          .as("l1_term"),
        lit(null).cast("double").as("chi2_term"))
    perBin.unionByName(total)
  }
}
