package graft.ext

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sketch aggregations — the sublinear-state summaries a 100 TB profile
  * pass runs where exact answers would shuffle the world:
  *
  *  - `approx_count_distinct` is HyperLogLog++: fixed kilobytes of state
  *    per group vs a full distinct shuffle; mergeable across partitions,
  *    so the aggregation stays one pass with map-side partials.
  *  - `percentile_approx` is a mergeable quantile sketch (KLL-family):
  *    rank queries without a global sort.
  *
  * Sketch outputs are engine-specific (no DuckDB oracle can bit-match
  * them); correctness is bounded-error agreement with the exact answers,
  * asserted in SketchesSpec, and the driver's rows-only check covers the
  * query shape.
  */
object Sketches {

  // ===== persisted sketch state =====
  //
  // The deterministic sketch family (Count-Min / Bloom / KMV / quantile
  // sample) is PIPELINE state: built per day/shard, persisted, merged
  // with later batches, estimated/probed from the merged state.
  // Persisted sketch tables carry their geometry as stamp columns, and
  // every merge/estimate/probe checks it through [[Stamp]] before
  // computing. Each operation the family shares has ONE implementation:
  //
  //  - ONE bottom-k selection ([[bottomK]]) builds and merges every KMV
  //    sketch, keyed or not, and every quantile sample, and re-ranks the
  //    overlap matrix's per-pair union sketch. An unkeyed form is the
  //    keyed code at zero keys, and every input partition is pruned to
  //    at most k distinct rows per key before the one exchange.
  //  - ONE KMV estimator ([[kmvEst]]); [[kmvSetOps]] is the
  //    [[kmvOverlapMatrix]] estimate block ([[setOpsBy]]) at zero keys.
  //  - ONE stamped-state writer ([[writeStamped]]) behind every `*Write`
  //    here and [[graft.ext.Quality.histWrite]]: shape check, stamp
  //    check, one range probe over the declared bounds, then stamp and
  //    write.
  //  - ONE merge preamble ([[mergeChecked]]) in front of every merge:
  //    at least one input, each of the family's shape, stamps agreeing.

  /** The rows of one sketch family as a refusal names them: the family,
    * the columns an operation needs and the build that emits them.
    */
  private[ext] final case class Shape(family: String, cols: Seq[String],
                                      builtBy: String) {
    def require(df: DataFrame, what: String): Unit =
      Predef.require(cols.forall(df.columns.contains),
        s"$what: not a $family — need (${cols.mkString(", ")}) as built by $builtBy")
  }

  private val CountMin = Shape("Count-Min sketch", Seq("j", "bucket", "total"), "countMinBuild")
  private val BloomBits = Shape("Bloom filter", Seq("pos"), "bloomBuild")
  private val KmvHashes = Shape("KMV sketch", Seq("h"), "kmvBuild")

  /** The stamped-state writer: the `shape` check, [[Stamp.require]]
    * against the declared `stamp`, ONE max probe over `bounds` (column →
    * the largest value the declared geometry holds — a 4×4096 sketch
    * written as 4×1024 would corrupt every later estimate), then the
    * shape's columns with the stamp attached, overwritten into `dir`.
    */
  private[ext] def writeStamped(state: DataFrame, dir: String, what: String,
                                shape: Shape, stamp: Seq[(String, Any)],
                                bounds: Seq[(String, Long)]): Unit = {
    shape.require(state, what)
    Stamp.require(state, s"$what input", stamp)
    if (bounds.nonEmpty) {
      val mx = state.agg(max(col(bounds.head._1)),
        bounds.tail.map(b => max(col(b._1))): _*).collect()(0)
      require(bounds.indices.forall(i =>
          mx.isNullAt(i) || mx.getAs[Number](i).longValue <= bounds(i)._2),
        s"$what: sketch has rows up to " +
          Stamp.show(bounds.indices.map(i => bounds(i)._1 -> mx.get(i))) +
          s" — outside the declared ${Stamp.show(stamp)} geometry")
    }
    Stamp.restamp(state.select(shape.cols.map(col): _*), Some(ListMap(stamp: _*)))
      .write.mode("overwrite").parquet(dir)
  }

  /** The merge preamble: at least one input, each of `shape`, their
    * `stampCols` stamps agreeing ([[Stamp.agreeing]], one probe per
    * input), and the common stamp equal to the geometry the merge
    * declares (`declared`; none where the merge takes its geometry from
    * the inputs).
    */
  private[ext] def mergeChecked(what: String, shape: Shape, parts: Seq[DataFrame],
                                stampCols: Seq[String],
                                declared: Seq[(String, Any)] = Nil): Unit = {
    require(parts.nonEmpty, s"$what: at least one ${shape.family}")
    parts.foreach(shape.require(_, what))
    Stamp.require(Stamp.agreeing(parts, what, stampCols), s"$what input", declared)
  }

  /** The inputs' `cols`, unioned by name. */
  private[ext] def unionOf(parts: Seq[DataFrame], cols: Seq[String]): DataFrame =
    parts.map(_.select(cols.map(col): _*)).reduce(_ unionByName _)

  /** The bottom-k selection: per group of `keys`, the k smallest
    * DISTINCT rows in `order` (Long, Int or Double columns, ascending),
    * ranked 1..min(k, distinct rows) — `(keys…, order…, rank)`. With no
    * key the whole frame is one group.
    *
    * Bounded by construction: each input partition first keeps at most
    * k distinct rows per group (a k-bounded TreeSet per group), so the
    * one exchange carries at most partitions × groups × k rows — never
    * the item stream. A row in a group's global bottom-k is in its own
    * partition's bottom-k, the argument that also makes every merge law
    * exact. The prune compares as Spark sorts (NULL first, -0.0 equal to
    * 0.0, NaN equal to NaN and above every number), so it keeps exactly
    * the rows the final ordering keeps; the final dense rank runs over
    * the pruned rows, and the distinct over it folds rows that sort
    * equal (Spark writes -0.0 as 0.0) inside the ranked partitions.
    */
  private def bottomK(rows: DataFrame, keys: Seq[String], order: Seq[String],
                      k: Int): DataFrame = {
    val in = rows.select((keys ++ order).map(col): _*)
    val nk = keys.length
    val ord = new SqlOrder(nk, nk + order.length)
    val pruned = in.mapPartitions { it =>
      val groups = scala.collection.mutable.HashMap
        .empty[Row, scala.collection.mutable.TreeSet[Row]]
      it.foreach { r =>
        val g = groups.getOrElseUpdate(Row.fromSeq((0 until nk).map(r.get)),
          scala.collection.mutable.TreeSet.empty[Row](ord))
        if (g.size < k) g += r
        else if (ord.lt(r, g.last) && g.add(r)) g -= g.last
      }
      groups.valuesIterator.flatMap(_.iterator)
    }(Encoders.row(in.schema))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(col): _*)
    pruned.withColumn("rank", dense_rank().over(w))
      .filter(col("rank") <= k)
      .distinct()
  }

  /** Row order over the columns `from until until` as Spark sorts them
    * ascending: NULL first; doubles equal when `==` (so -0.0 is 0.0),
    * else by `java.lang.Double.compare` (NaN equals NaN, above all).
    */
  private final class SqlOrder(from: Int, until: Int) extends Ordering[Row] {
    def compare(a: Row, b: Row): Int = {
      var i = from
      var c = 0
      while (c == 0 && i < until) {
        c = (a.get(i), b.get(i)) match {
          case (null, null) => 0
          case (null, _) => -1
          case (_, null) => 1
          case (x: Double, y: Double) =>
            if (x == y) 0 else java.lang.Double.compare(x, y)
          case (x: Long, y: Long) => java.lang.Long.compare(x, y)
          case (x: Int, y: Int) => Integer.compare(x, y)
        }
        i += 1
      }
      c
    }
  }

  /** The KMV distinct-count estimator (Beyer et al., SIGMOD 2007):
    * (k−1)·2³²/h_k over a full sketch, h_k its k-th smallest hash — one
    * IEEE division of exact integers, bit-identical across engines — and
    * the sketch size itself under k, where the sketch IS the exact
    * distinct hash set.
    */
  private def kmvEst(n: Column, hK: Column, k: Int): Column =
    when(n < k, n.cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(4294967296.0) / hK.cast("double"))

  /** Persist a Count-Min sketch with its geometry stamped, after the
    * probe that it FITS the declared geometry.
    */
  def countMinWrite(cms: DataFrame, dir: String,
                    depth: Int = 4, width: Int = 1024): Unit =
    writeStamped(cms, dir, "countMinWrite", CountMin,
      Seq("depth" -> depth, "width" -> width),
      Seq("j" -> (depth - 1).toLong, "bucket" -> (width - 1).toLong))

  /** Persist a Bloom filter with its geometry stamped. Positions are
    * range-checked against the declared numBits — the failure
    * [[bloomGateColumn]] would otherwise hit as an opaque
    * ArrayIndexOutOfBounds on the driver.
    */
  def bloomWrite(bloom: DataFrame, dir: String,
                 numBits: Int = 8192, numHashes: Int = 4): Unit =
    writeStamped(bloom, dir, "bloomWrite", BloomBits,
      Seq("num_bits" -> numBits, "num_hashes" -> numHashes),
      Seq("pos" -> (numBits - 1).toLong))

  /** Persist a KMV sketch with k stamped — the estimator's (k−1)
    * numerator and under-full cutoff ride WITH the state instead of
    * being re-supplied (possibly wrong, silently skewing the estimate)
    * at read time; [[kmvEstimateStated]] reads them back. A sketch
    * holding more than k ranks was built with a larger k and refuses.
    */
  def kmvWrite(sketch: DataFrame, dir: String, k: Int = 256): Unit =
    writeStamped(sketch, dir, "kmvWrite", Shape("KMV sketch", Seq("rank", "h"), "kmvBuild"),
      Seq("k" -> k), Seq("rank" -> k.toLong))

  /** Distinct-count estimate from a STAMPED (persisted) KMV sketch: k
    * comes from the state itself, so a caller cannot skew the estimate
    * by re-supplying the wrong k — the gap [[kmvEstimate]]'s free
    * parameter leaves open.
    */
  def kmvEstimateStated(sketch: DataFrame): DataFrame = {
    require(sketch.columns.contains("k"),
      "kmvEstimateStated: sketch carries no k stamp — persist it with " +
        "kmvWrite, or pass k explicitly to kmvEstimate")
    val s = Stamp.read(sketch, Seq("k"))
    require(s.nonEmpty, "kmvEstimateStated: sketch is empty — no layout to read")
    kmvEstimate(sketch.select(col("rank"), col("h")), Stamp.int(s.get, "k"))
  }

  /** Per-event-type profile: approximate distinct users (2% target rsd)
    * and approximate value quantiles, next to the exact row count.
    */
  def eventTypeProfile(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
        percentile_approx(col("value"), lit(0.5), lit(2000)).as("p50_value"),
        percentile_approx(col("value"), lit(0.95), lit(2000)).as("p95_value"))

  /** Sketch-vs-exact bounds, shaped for the ORACLE: the sketch values
    * themselves are engine-specific state (no DuckDB bit-match exists),
    * but the EXACT companions and the bounded-error verdicts are not —
    * DuckDB reproduces the exact columns and expects every `*_ok` flag
    * TRUE, so a sketch drifting out of its error bound fails the hash
    * check. Error budgets: HLL++ at 2% target rsd is held to ±5%
    * (≈2.5σ); the rank-error quantile sketch at accuracy 2000 must land
    * within the exact inter-quartile / p90–max brackets — generous for
    * n/2000 rank error, tight enough to catch a broken sketch.
    */
  def profileBounds(events: DataFrame): DataFrame = {
    // The sketch columns come from the RAW profile itself — the exact
    // function users call — not from a parallel restatement of its agg
    // expressions, so the driver's hash check covers eventTypeProfile:
    // a regression in the raw profile (changed rsd, accuracy, column)
    // fails THIS query, not only a ScalaTest bound (VERDICT r10 item 5).
    val raw = eventTypeProfile(events)
    val exact = events.groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        expr("percentile(value, 0.25)").as("ep25"),
        expr("percentile(value, 0.75)").as("ep75"),
        expr("percentile(value, 0.90)").as("ep90"),
        max(col("value")).as("emax"))
    raw.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_events"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")).cast("double") <=
          col("exact_users").cast("double") * 0.05).as("hll_ok"),
        (col("p50_value") >= col("ep25") && col("p50_value") <= col("ep75")).as("p50_ok"),
        (col("p95_value") >= col("ep90") && col("p95_value") <= col("emax")).as("p95_ok"))
  }

  /** Row j's bucket for an item: md5-derived 32-bit hash mod `width` —
    * the same engine-portable hash family as [[graft.ext.Dedup.hash32]],
    * salted per row, so the DuckDB oracle computes the identical sketch.
    */
  private def cmBucket(item: Column, j: Int, width: Int): Column =
    // native md5_first32 (round 17): same value as the conv(substring)
    // form, no hex-string round-trip per (row, depth) pair.
    pmod(graft.functions.KeyColumns.md5_first32(
      concat(lit(s"$j|"), item)), lit(width))

  /** Count-Min sketch of an item stream — the heavy-hitter counting
    * sketch: `depth`×`width` counters, item counted once per row at its
    * salted-hash bucket. Unlike HLL/KLL state, the construction here is
    * fully DETERMINISTIC (md5 buckets, integer sums), so the sketch —
    * and every estimate read from it — is bit-exact reproducible across
    * engines, partitionings and re-runs, and gets a real DuckDB oracle.
    *
    * Scale shape: the per-depth explode is map-side only — the
    * aggregation combines partially to at most depth×width rows, so only
    * the FIXED-SIZE sketch crosses the shuffle no matter how many
    * trillions of tokens stream in (contrast an exact token count, which
    * shuffles one row per distinct token).
    */
  def countMinBuild(items: DataFrame, itemCol: String,
                    depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 2)
    // null items carry no information and are DROPPED — the one null
    // policy shared by every build in the sketch family (counting nulls
    // into a null bucket here while kmv/bloom crashed on them was a
    // three-way inconsistency).
    items.filter(col(itemCol).isNotNull)
      .select(explode(array((0 until depth).map(j =>
        struct(lit(j).as("j"), cmBucket(col(itemCol), j, width).as("bucket"))): _*))
        .as("jb"))
      .groupBy(col("jb.j").as("j"), col("jb.bucket").as("bucket"))
      .agg(count(lit(1)).as("total"))
  }

  /** MERGE of Count-Min sketches: cell-wise sum over (row, bucket) —
    * the property that makes CM a PIPELINE operator rather than a
    * query-local one: batch sketches built independently (per day, per
    * shard, per source) combine into exactly the sketch a single pass
    * over the union would build, because counting commutes with
    * addition cell by cell. With this engine's deterministic md5
    * buckets the equivalence is BIT-exact, not just error-bound —
    * `stats_cms_merge` oracle-checks build(A) ⊕ build(B) == build(A∪B)
    * cell for cell. A bucket present in only one input keeps its count
    * (the union is the outer form of the cell-wise sum).
    *
    * All inputs MUST be built with the same (depth, width) — the same
    * caller contract [[countMinEstimate]] carries. Sketches persisted as
    * long-lived state ride their layout alongside ([[countMinWrite]]'s
    * stamp), and any stamped input here is cross-validated before the
    * union. Scale shape: each input is at most
    * depth×width rows, so the merge aggregation is sketch-sized no
    * matter how many trillions of items the inputs summarize.
    */
  def countMinMerge(parts: DataFrame*): DataFrame = {
    mergeChecked("countMinMerge", CountMin, parts, Seq("depth", "width"))
    unionOf(parts, Seq("j", "bucket", "total"))
      .groupBy(col("j"), col("bucket"))
      .agg(sum(col("total")).as("total"))
  }

  /** Bit position `j` of an item in a Bloom filter: md5-derived 32-bit
    * hash mod `numBits` — the same engine-portable salted family as
    * [[cmBucket]] (distinct salt prefix), so the filter is bit-exact
    * reproducible and the DuckDB oracle computes the identical one.
    */
  private def bloomPos(item: Column, j: Int, numBits: Int): Column =
    // native md5_first32 (round 17): same salted-md5 32-bit value as the
    // conv(substring(md5(...), 1, 8), 16, 10) form, codegen'd, no
    // hex-string round-trip — this runs k times per probed item.
    pmod(graft.functions.KeyColumns.md5_first32(
      concat(lit(s"b$j|"), item)), lit(numBits))

  /** DETERMINISTIC Bloom filter over an item stream — the membership
    * prefilter a decontamination / blocklist pass runs before paying an
    * exact join: each item sets `numHashes` salted-md5 bit positions;
    * state is the SET-BIT LIST (≤ numBits rows of one long — fixed size
    * no matter how many trillions of items stream in, and the distinct
    * aggregation map-side combines to at most numBits rows per
    * partition before the exchange). Mergeable by construction: the
    * union of two filters' set bits IS the filter of the union stream
    * (bitwise OR), same argument as [[countMinMerge]].
    */
  def bloomBuild(items: DataFrame, itemCol: String, numBits: Int = 8192,
                 numHashes: Int = 4): DataFrame = {
    require(numBits >= 2 && numHashes >= 1)
    // family-wide null policy: null items dropped (a null pos row would
    // NPE the packed-bitmap gate's driver-side collect)
    items.filter(col(itemCol).isNotNull)
      .select(explode(array((0 until numHashes).map(j =>
        bloomPos(col(itemCol), j, numBits)): _*)).as("pos"))
      .distinct()
  }

  /** KMV (k-minimum-values) DISTINCT-CARDINALITY sketch — the third leg
    * of the deterministic sketch family (counts = Count-Min, membership
    * = Bloom, cardinality = this): the k smallest distinct md5-derived
    * hashes of the item stream. Unlike HLL state (engine-specific,
    * no bit-match possible), KMV state is a plain sorted hash list the
    * DuckDB oracle reproduces EXACTLY, and it is mergeable by
    * construction: the k smallest of (A's sketch ∪ B's sketch) are the
    * k smallest of A∪B, because any hash in the true global bottom-k is
    * in its own batch's bottom-k ([[kmvMerge]]).
    *
    * Scale shape: the bottom-k selection ([[bottomK]]) caps each
    * partition's in-flight state at k hashes no matter how many
    * trillions of items stream through; only partitions×k rows reach
    * the one exchange and the final rank, which is sketch-sized. The
    * estimator is the standard unbiased KMV form
    * (k−1)·2³²/h_k ([[kmvEstimate]]) — one IEEE division of exact
    * integers, bit-identical across engines.
    * Output: (rank, h), rank 1..min(k, distinct).
    */
  def kmvBuild(items: DataFrame, itemCol: String, k: Int = 256): DataFrame =
    kmvSketch(items, None, itemCol, k).select(col("rank"), col("h"))

  /** Per-key KMV sketches in ONE frame — `(key, rank, h)`, rank
    * 1..min(k, distinct items of that key). The grouped form of
    * [[kmvBuild]] for partitioned audits (one sketch per source /
    * shard / release): the same bounded selection with the key, so the
    * exchange carries at most partitions × keys × k rows, never the
    * item stream.
    */
  def kmvBuildBy(items: DataFrame, keyCol: String, itemCol: String,
                 k: Int = 256): DataFrame =
    kmvSketch(items, Some(keyCol), itemCol, k)

  /** `(key, h, rank)` KMV sketches of `itemCol` per `keyCol` (renamed
    * `key`), or `(h, rank)` of the whole frame with no key.
    */
  private def kmvSketch(items: DataFrame, keyCol: Option[String], itemCol: String,
                        k: Int): DataFrame = {
    require(k >= 2, "KMV sketch: need k >= 2 for the estimator")
    // family-wide null policy: null items (and keys) dropped
    val kept = (keyCol.toSeq :+ itemCol).map(col(_).isNotNull).reduce(_ && _)
    bottomK(items.filter(kept).select(
        keyCol.toSeq.map(col(_).as("key")) :+ Dedup.hash32(col(itemCol)).as("h"): _*),
      keyCol.toSeq.map(_ => "key"), Seq("h"), k)
  }

  /** Merge grouped KMV sketch frames per key: each key's merged sketch
    * is the bottom-k of the union of its hash lists — BIT-IDENTICAL to
    * [[kmvBuildBy]] over the concatenated item stream (the KMV merge
    * law, per key). Like all KMV algebra the merge is IDEMPOTENT (a
    * re-merged sketch changes nothing), so persisted per-source
    * sketches fold new corpus in release after release without ever
    * rescanning old data — the overlap audit ([[kmvOverlapMatrix]])
    * stays a sketch-algebra read at every release. Keys present in
    * only one input keep their sketch unchanged.
    */
  def kmvMergeBy(k: Int, parts: DataFrame*): DataFrame = {
    mergeChecked("kmvMergeBy", Shape("grouped KMV sketch", Seq("key", "h"), "kmvBuildBy"),
      parts, Seq("k"), Seq("k" -> k))
    bottomK(unionOf(parts, Seq("key", "h")), Seq("key"), Seq("h"), k)
  }

  /** ALL-PAIRS overlap estimates from [[kmvBuildBy]] sketches — the
    * source-to-source duplication audit a curation team reads before
    * weighting a mixture: for every key pair (s1 < s2), the
    * [[kmvSetOps]] estimators (union size, Jaccard, intersection) read
    * off the two bottom-k sketches. The whole matrix costs
    * sketch-algebra only: keys are bounded (sources/shards, never
    * documents), so the pair grid, the per-pair union re-rank and the
    * final aggregates all run over ≤ keys²·k rows — the corpus itself
    * is touched once, by the sketch build. (The crossJoin below is a
    * keys×keys grid of a DISTINCT key list — bounded by construction,
    * not a data-sized cartesian.)
    */
  def kmvOverlapMatrix(sketches: DataFrame, k: Int = 256): DataFrame = {
    Shape("grouped KMV sketch frame", Seq("key", "rank", "h"), "kmvBuildBy")
      .require(sketches, "kmvOverlapMatrix")
    Stamp.require(sketches, "kmvOverlapMatrix input", Seq("k" -> k))
    // materialized ONCE (≤ keys×k rows — bounded by the scaladoc's
    // keys-are-sources contract): the matrix reads the sketch frame
    // THREE times (key list, left side, right side), and a live
    // kmvBuildBy input re-runs its corpus-scale shingle pipeline per
    // read (round 18, guide §5; bench-neutral at sf0.1 — the win is
    // the two corpus scans this saves at scale, priced by
    // stats_overlap_incremental's improvement).
    val sk = sketches.select(col("key"), col("h"))
      .localCheckpoint(eager = true)
    val keys = sk.select(col("key")).distinct()
    val pairs = keys.select(col("key").as("s1"))
      .crossJoin(keys.select(col("key").as("s2")))
      .filter(col("s1") < col("s2"))
    val left = pairs.join(sk.withColumnRenamed("key", "s1"), Seq("s1"))
      .select(col("s1"), col("s2"), col("h"))
    val right = pairs.join(sk.withColumnRenamed("key", "s2"), Seq("s2"))
      .select(col("s1"), col("s2"), col("h"))
    setOpsBy(left, right, Seq("s1", "s2"), k)
  }

  /** The [[kmvSetOps]] estimates per group of `keys`, from two sketch
    * sides `(keys…, h)`: the union sketch is the bottom-k of both sides'
    * hashes, each flagged by the sides that hold it, and `n_common`
    * counts the union hashes both sides hold. Output `(keys…,
    * n_union_sketch, h_k, n_common, union_est, jaccard, inter_est)`; at
    * zero keys the one row of [[kmvSetOps]].
    */
  private def setOpsBy(a: DataFrame, b: DataFrame, keys: Seq[String],
                       k: Int): DataFrame = {
    val kc = keys.map(col)
    def side(df: DataFrame, inA: Int) = df.select(kc ++ Seq(col("h"),
      lit(inA).as("in_a"), lit(1 - inA).as("in_b")): _*)
    val flagged = side(a, 1).unionByName(side(b, 0))
      .groupBy(kc :+ col("h"): _*)
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
    val unionEst = kmvEst(col("n_union_sketch"), col("h_k"), k)
    val jaccard = col("n_common").cast("double") / col("n_union_sketch").cast("double")
    bottomK(flagged, keys, Seq("h", "in_a", "in_b"), k)
      .groupBy(kc: _*)
      .agg(count(lit(1)).as("n_union_sketch"), max(col("h")).as("h_k"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
          .as("n_common"))
      .select(kc ++ Seq(col("n_union_sketch"), col("h_k"), col("n_common"),
        unionEst.as("union_est"), jaccard.as("jaccard"),
        (jaccard * unionEst).as("inter_est")): _*)
  }

  /** Merge KMV sketches: k smallest distinct hashes of the union of the
    * inputs' hash lists == the single-pass sketch of the union stream,
    * bit for bit. All inputs must share k (the family's caller
    * contract); pass the same k used at build time.
    */
  def kmvMerge(k: Int, parts: DataFrame*): DataFrame = {
    mergeChecked("kmvMerge", KmvHashes, parts, Seq("k"), Seq("k" -> k))
    bottomK(unionOf(parts, Seq("h")), Nil, Seq("h"), k).select(col("rank"), col("h"))
  }

  /** Distinct-count estimate from a KMV sketch: (k−1)·2³²/h_k when the
    * sketch is full (h_k = the k-th smallest hash), or the sketch size
    * itself when fewer than k distinct hashes exist (the sketch IS the
    * exact distinct hash set then). One row: (n_sketch, h_k, n_est).
    */
  def kmvEstimate(sketch: DataFrame, k: Int = 256): DataFrame = {
    Stamp.require(sketch, "kmvEstimate sketch", Seq("k" -> k))
    sketch.agg(count(lit(1)).as("n_sketch"), max(col("h")).as("h_k"))
      .select(col("n_sketch"), col("h_k"),
        kmvEst(col("n_sketch"), col("h_k"), k).as("n_est"))
  }

  /** SET ALGEBRA on two KMV sketches — the estimator family's reason to
    * exist beyond single-set counting: |A∪B|, Jaccard(A, B) and |A∩B|
    * from two k-hash lists, WITHOUT touching the underlying sets. The
    * union sketch is the bottom-k of both hash lists (exact by the
    * [[kmvMerge]] law); the
    * standard KMV set-op estimator (Beyer et al., SIGMOD'07) then reads
    * Jaccard off the union sketch directly: the union's k hashes are a
    * uniform sample of A∪B, so the fraction of them present in BOTH
    * input sketches estimates |A∩B|/|A∪B|, and |A∩B| ≈ ρ·|A∪B|.
    *
    * Every step is deterministic — set membership of exact integers,
    * one integer ratio and two IEEE multiplications/divisions — so the
    * whole row is bit-reproducible by the DuckDB oracle (contrast theta
    * /HLL intersections, which no second engine can re-derive). The
    * membership flags ride the sketch-sized union (≤ 2k rows) — the
    * driver never sees the data, and the same row works on day-30
    * persisted sketches ([[kmvWrite]] stamps are checked against k).
    * This is the [[kmvOverlapMatrix]] estimate block at zero keys.
    *
    * When the union holds fewer than k distinct hashes the sketches ARE
    * the exact sets, so n_common/ρ/estimates all turn exact — the same
    * under-full degeneracy [[kmvEstimate]] handles.
    * One row: (n_union_sketch, h_k, n_common, union_est, jaccard,
    * inter_est).
    */
  def kmvSetOps(a: DataFrame, b: DataFrame, k: Int = 256): DataFrame = {
    mergeChecked("kmvSetOps", KmvHashes, Seq(a, b), Seq("k"), Seq("k" -> k))
    setOpsBy(a, b, Nil, k)
  }

  /** Per-row Bloom membership GATE — the no-shuffle form of
    * [[bloomMightContain]] for use as a predicate inside a larger plan:
    * the filter's set bits are collected once (≤ numBits rows — the
    * broadcast-sized artifact itself, ~2 MB at 2¹⁸ bits) and PACKED
    * into a 64-bit-word bitmap literal; membership is then a pure
    * projection — k md5s and k bit tests per row — adding NO shuffle,
    * NO join, and no repartitioning to the gated side. (The join-based
    * [[bloomMightContain]] shuffles the probe stream twice to produce
    * its verdict TABLE; as an inline prefilter that would cost the same
    * order as the exact join it gates, which defeats the point — this
    * column is the shape a 100 TB prefilter actually ships.)
    * ONE job reads the filter: the stamp columns it carries ride along
    * with `pos` and are checked on the collected rows, so a lazy filter
    * frame is evaluated once, not once for the stamp and again for the
    * bits.
    */
  def bloomGateColumn(bloom: DataFrame, item: Column, numBits: Int = 8192,
                      numHashes: Int = 4): Column = {
    val expected = Seq("num_bits" -> numBits, "num_hashes" -> numHashes)
    val carried = expected.map(_._1).filter(bloom.columns.contains)
    val rows = bloom.select((col("pos") +: carried.map(col)): _*).collect()
    Stamp.require(rows.headOption.map(r => ListMap(carried.zip(r.toSeq.tail): _*)),
      "bloomGateColumn filter", expected)
    val words = new Array[Long]((numBits + 63) / 64)
    rows.foreach { r =>
      val p = r.getLong(0)
      // an un-stamped filter built with a larger geometry would
      // otherwise surface as an opaque ArrayIndexOutOfBounds here
      require(p >= 0 && p < numBits,
        s"bloom position $p exceeds numBits=$numBits — the filter was " +
          "built with a different geometry")
      words((p >> 6).toInt) |= (1L << (p & 63).toInt)
    }
    val arr = typedLit(words.toSeq)
    (0 until numHashes).map { j =>
      val pos = bloomPos(item, j, numBits)
      val word = element_at(arr,
        call_function("shiftright", pos, lit(6)).cast("int") + 1)
      word.bitwiseAND(
        call_function("shiftleft", lit(1L),
          pos.bitwiseAND(lit(63L)).cast("int"))) =!= lit(0L)
    }.reduce(_ && _)
  }

  /** MERGE of Bloom filters: the union of set bits — build(A) ∪ build(B)
    * == build(A∪B) exactly (bitwise OR), the same accumulable-state
    * argument as [[countMinMerge]]. Inputs must share (numBits,
    * numHashes) — the caller contract the whole family carries.
    */
  def bloomMerge(parts: DataFrame*): DataFrame = {
    mergeChecked("bloomMerge", BloomBits, parts, Seq("num_bits", "num_hashes"))
    unionOf(parts, Seq("pos")).distinct()
  }

  /** Membership probe: an item MIGHT be in the set iff every one of its
    * bit positions is set (no false negatives, by construction — the
    * guarantee `stats_bloom` hash-checks); a false positive needs all
    * `numHashes` positions collided. The filter is ≤ numBits rows, so
    * the probe join broadcasts; per-item positions are deduplicated
    * before counting (two hash functions can collide on one position).
    */
  def bloomMightContain(bloom: DataFrame, queries: DataFrame, itemCol: String,
                        numBits: Int = 8192, numHashes: Int = 4): DataFrame = {
    Stamp.require(bloom, "bloomMightContain filter",
      Seq("num_bits" -> numBits, "num_hashes" -> numHashes))
    val positions = queries.select(col(itemCol),
        explode(array((0 until numHashes).map(j =>
          bloomPos(col(itemCol), j, numBits)): _*)).as("pos"))
      .distinct()
    val counts = positions
      .join(broadcast(bloom.select(col("pos")).withColumn("_set", lit(1))),
        Seq("pos"), "left")
      .groupBy(col(itemCol))
      .agg(count(lit(1)).as("_need"), count(col("_set")).as("_have"))
    queries.join(counts, Seq(itemCol), "left")
      .withColumn("might_contain",
        coalesce(col("_need") === col("_have"), lit(false)))
      .drop("_need", "_have")
  }

  /** QUANTILE sample sketch — the fourth leg of the deterministic
    * family (counts = Count-Min, membership = Bloom, cardinality = KMV,
    * quantiles = this): a uniform k-row sample selected as the k
    * lexicographically smallest (h, v) pairs, h = the md5-derived
    * 32-bit hash of the row's UNIQUE key. Hash-rank selection makes the
    * sample a pure function of the data — no RNG, no seed plumbing, no
    * partition-order dependence — so the DuckDB oracle reproduces the
    * state bit for bit (contrast KLL/t-digest/GK, whose compactor state
    * no second engine can re-derive), and the merge law is exact by the
    * same bottom-k argument as [[kmvMerge]]: the k smallest pairs of
    * (A's sample ∪ B's sample) ARE the k smallest of A∪B, because any
    * pair in the global bottom-k is in its own batch's bottom-k.
    * Replayed batches collapse under distinct — re-merging the same
    * batch is a no-op, the same exactly-once-by-algebra argument the
    * streamed KMV maintenance rides.
    *
    * Scale shape: the bottom-k selection ([[bottomK]], the one KMV
    * runs) caps each partition's in-flight state at k pairs no matter
    * how many rows stream through; only partitions×k pairs reach the
    * final rank — never data. CDF rank error of the
    * q-quantile read is the standard uniform-sample binomial bound
    * O(√(q(1−q)/k)).
    * Output: (rank, h, v), rank 1..min(k, rows) in (h, v) order.
    */
  def quantileSampleBuild(items: DataFrame, keyCol: String, valueCol: String,
                          k: Int = 512): DataFrame = {
    require(k >= 2, "quantileSampleBuild: need k >= 2")
    // family-wide null policy: null keys/values dropped up front
    bottomK(items.filter(col(keyCol).isNotNull && col(valueCol).isNotNull)
        .select(Dedup.hash32(col(keyCol).cast("string")).as("h"),
          col(valueCol).cast("double").as("v")),
      Nil, Seq("h", "v"), k)
      .select(col("rank"), col("h"), col("v"))
  }

  /** Merge quantile samples: bottom-k of the union of the inputs' pair
    * lists == the single-pass sample of the union stream, bit for bit
    * (the [[kmvMerge]] argument on (h, v) pairs). Stamped (persisted)
    * inputs are cross-validated against the declared k.
    */
  def quantileSampleMerge(k: Int, parts: DataFrame*): DataFrame = {
    mergeChecked("quantileSampleMerge",
      Shape("quantile sample", Seq("h", "v"), "quantileSampleBuild"),
      parts, Seq("k"), Seq("k" -> k))
    bottomK(unionOf(parts, Seq("h", "v")), Nil, Seq("h", "v"), k)
      .select(col("rank"), col("h"), col("v"))
  }

  /** Persist a quantile sample with k stamped — same state discipline
    * as [[kmvWrite]]: the selection cutoff rides WITH the state, so a
    * day-30 merge against day-1 state cannot silently re-truncate at
    * the wrong k.
    */
  def quantileSampleWrite(sketch: DataFrame, dir: String, k: Int = 512): Unit =
    writeStamped(sketch, dir, "quantileSampleWrite",
      Shape("quantile sample", Seq("rank", "h", "v"), "quantileSampleBuild"),
      Seq("k" -> k), Seq("rank" -> k.toLong))

  /** Quantile reads from a STAMPED (persisted) sample: for each q, the
    * value at rank clamp(⌊q·(n_s+1)⌋, 1, n_s) of the sample in (v, h)
    * order — the SAME rank definition `stats_exact_quantiles` applies
    * to full data, so estimate and exact answer are comparable
    * rank-for-rank. Every window here runs over ≤ k post-limit rows;
    * an under-full sample (fewer than k rows survived) IS the exact
    * dataset, so the reads turn exact — the [[kmvEstimate]] degeneracy.
    * One row per q: (q, n_s, rank_s, v_est).
    */
  def quantileEstimateStated(sketch: DataFrame, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty, "quantileEstimateStated: need at least one q")
    qs.foreach(q => require(q > 0 && q < 1,
      s"quantileEstimateStated: q=$q outside (0, 1)"))
    require(sketch.columns.contains("k"),
      "quantileEstimateStated: sample carries no k stamp — persist it " +
        "with quantileSampleWrite")
    val spark = sketch.sparkSession
    import spark.implicits._
    val wv = Window.orderBy(col("v"), col("h"))
    val ranked = sketch.select(col("h"), col("v"))
      .withColumn("rv", row_number().over(wv))
    qs.toDF("q")
      .crossJoin(broadcast(ranked.agg(count(lit(1)).as("n_s"))))
      .withColumn("rank_s",
        least(greatest(floor(col("q") * (col("n_s") + 1)).cast("long"),
          lit(1L)), col("n_s")))
      .join(broadcast(ranked), col("rank_s") === col("rv"))
      .select(col("q"), col("n_s"), col("rank_s"), col("v").as("v_est"))
  }

  /** Point estimates from a Count-Min sketch: for each queried item, the
    * MIN of its `depth` bucket counters — an upper bound on the true
    * count (CM never undercounts; collisions only inflate). The sketch
    * side is at most depth×width rows, so the join broadcasts.
    */
  def countMinEstimate(cms0: DataFrame, queries: DataFrame, itemCol: String,
                       depth: Int = 4, width: Int = 1024): DataFrame = {
    Stamp.require(cms0, "countMinEstimate sketch",
      Seq("depth" -> depth, "width" -> width))
    val cms = cms0.select(col("j"), col("bucket"), col("total"))
    // explode, not a per-depth union: a union would re-evaluate the
    // queries frame (often itself an aggregation) once per depth row.
    val expanded = queries.select(col(itemCol),
        explode(array((0 until depth).map(j =>
          struct(lit(j).as("j"), cmBucket(col(itemCol), j, width).as("bucket"))): _*)).as("jb"))
      .select(col(itemCol), col("jb.j").as("j"), col("jb.bucket").as("bucket"))
    val est = expanded
      .join(broadcast(cms), Seq("j", "bucket"))
      .groupBy(col(itemCol))
      .agg(min(col("total")).as("n_est"))
    queries.join(est, itemCol)
  }

  // ===== windowed sketch state: the age/TTL retention layout =====
  //
  // A MERGED KMV/Bloom/CMS cannot subtract an expired cohort (bottom-k
  // of a union, saturating bitmap, never-undercount counters — none
  // invertible; see Quality.histSubtract's contrast). The lifecycle that
  // buys age-based retention anyway is WINDOWED PARTIALS: persist one
  // sketch partial per event-time window (`window_ts=` partition dirs),
  // serve the MERGE of surviving partials, and expire by deleting whole
  // window directories — metadata-cheap at any scale, no rewrite of
  // surviving data (the expireBatches discipline), and EXACT: dropping a
  // window's partial removes precisely that window's contribution, so by
  // each family's merge law the served sketch is bit-identical to a
  // fresh build over the surviving windows' rows (the
  // `stats_expire_windows` oracle's contract).

  /** Append one window's sketch partial under `window_ts=<ts>`. The
    * partial is whatever the family's build emits (stamped rows);
    * partials are geometry-bounded small, so one file per window.
    */
  def writeWindowPartial(partial: DataFrame, dir: String,
                         windowTs: Long): Unit =
    partial.withColumn("window_ts", lit(windowTs))
      .repartition(1)
      .write.partitionBy("window_ts").mode("append").parquet(dir)

  /** Delete every window partial with window_ts < `watermark`; returns
    * the expired window stamps. Non-window directories are ignored, a
    * failed delete is not reported as expired.
    */
  def expireWindows(spark: org.apache.spark.sql.SparkSession, dir: String,
                    watermark: Long): Seq[Long] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return Nil
    fs.listStatus(path).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("window_ts=-?\\d+"))
      .map(s => s.getPath.getName.stripPrefix("window_ts=").toLong -> s.getPath)
      .filter(_._1 < watermark)
      .sortBy(_._1)
      .collect { case (ts, p) if fs.delete(p, true) => ts }
  }

  /** Read the surviving window partials (with their `window_ts` stamp).
    * Callers merge with the family's own law — [[kmvMerge]],
    * [[bloomMerge]], [[countMinMerge]], [[graft.ext.Quality.histMerge]] —
    * one partial frame per surviving window.
    */
  def readWindowPartials(spark: org.apache.spark.sql.SparkSession,
                         dir: String): DataFrame =
    spark.read.parquet(dir)
}
