package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, mirroring production vector-search systems:
  *  - [[bruteForceTopK]]: exact cosine top-k. At scale this is the
  *    verification/re-rank kernel: broadcast the (small) query set,
  *    stream the corpus once, keep a per-partition top-k, merge — no
  *    shuffle of the corpus, one narrow pass.
  *  - [[lshTopK]]: random-hyperplane LSH (SimHash for vectors) — the
  *    scale path. Sign-bit signatures against a fixed ±1 hyperplane
  *    matrix bucket the corpus; only same-band candidates are scored.
  *    The hyperplane matrix is derived deterministically from md5 bits,
  *    so signatures are reproducible across engines and runs (the DuckDB
  *    oracle embeds the identical matrix).
  *
  * Dot products use double accumulation in index order via the
  * `zip_with`+`aggregate` higher-order functions — sequential and
  * deterministic, matching the oracle's list_transform+list_sum shape.
  */
object Similarity {

  /** Cosine similarity of two array<float> columns in double precision —
    * the native codegen'd expression (one fused primitive loop, no
    * intermediate arrays). Bit-identical to [[cosineHof]] (see
    * ExpressionsSpec), which documents the pure-DataFrame formulation.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.KeyColumns.cosine_native(a, b)

  /** Higher-order-function formulation (zip_with + aggregate): portable
    * to any Spark without custom expressions; kept as the cross-check
    * and the shape the DuckDB oracle mirrors.
    */
  def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Exact top-k neighbors for each query vector (rank output — ranks are
    * stable because neighbor gaps dwarf float noise; similarity values
    * stay internal).
    */
  def bruteForceTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    rankTopK(c.crossJoin(broadcast(q)).filter(col("qid") =!= col("cid")), k)
  }

  /** Shared exact-cosine re-rank tail of all three search paths: score a
    * (qid, qe, cid, ce) candidate frame, keep each query's top k.
    * ONE definition so the (sim desc, cid asc) tie-break — which every
    * DuckDB oracle mirrors — cannot drift between paths.
    */
  private[ext] def rankTopK(cands: DataFrame, k: Int): DataFrame = {
    val scored = cands.withColumn("sim", cosine(col("qe"), col("ce")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid"))
  }

  /** Deterministic ±1 hyperplane matrix: component (p, d) is +1 iff the
    * last hex digit of md5("p_d") is even. Pure function of constants —
    * computed once on the driver, embedded as literals in both the Spark
    * plan and the oracle SQL.
    */
  def planeMatrix(numPlanes: Int, dim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(numPlanes, dim) { (p, d) =>
      val hex = md.digest(s"${p}_$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if ("02468ace".contains(hex.last)) 1.0 else -1.0
    }
  }

  /** LSH signature bits for one embedding column against the planes —
    * one fused native dot product per plane (array lambdas are
    * interpreted, and 8–16 of them per row dominated the banding
    * profile). Index-ordered double accumulation, so the sign decisions
    * are bit-identical to the oracle's list_sum formulation.
    */
  private def signBits(ce: Column, planes: Array[Array[Double]]): Seq[Column] =
    planes.toSeq.map { row =>
      val w = array(row.toSeq.map(v => lit(v.toFloat)): _*)
      val dotp = graft.functions.KeyColumns.dot_native(ce, w)
      when(dotp >= 0, lit(1)).otherwise(lit(0))
    }

  /** ANN top-k: candidates share at least one signature band with the
    * query; exact cosine re-rank within candidates. Recall < 1 by design
    * — that is the LSH trade; the oracle runs the identical pipeline.
    */
  /** dim must equal the actual embedding length: a short plane row makes
    * zip_with pad with nulls, every dot product null, every signature bit
    * 0 — all vectors collapse into ONE bucket and the join silently
    * degenerates to O(n²). Checked against the data (one-row probe), not
    * left to a comment.
    */
  private[ext] def requireDim(df: DataFrame, dim: Int): Unit = {
    // one-row probe; an EMPTY side is fine (downstream result is empty),
    // and a null embedding is reported as such instead of an opaque NPE.
    val probe = df.select(size(col("embedding")).as("d")).limit(1).collect()
    probe.headOption.foreach { r =>
      require(!r.isNullAt(0) && r.getInt(0) >= 0,
        "first embedding is null — cannot derive the LSH dimension")
      val actual = r.getInt(0)
      require(actual == dim,
        s"embedding length is $actual but the plane matrix is built for $dim " +
          "— pass dim=<actual length> or the LSH signature degenerates")
    }
  }

  /** Band the rows of an embedding table: one output row per (vector,
    * band) with the band's signature key — the shared bucketing step of
    * [[lshTopK]] and [[graft.ext.Dedup.embeddingCosinePairsLsh]].
    * Output columns: (<idCol>, embedding, band, bkey).
    */
  def withBandKeys(df: DataFrame, idCol: String, numPlanes: Int,
                   bandWidth: Int, dim: Int): DataFrame = {
    requireDim(df, dim)
    val bandStructs = bandKeyExprs(col("embedding"), numPlanes, bandWidth, dim)
      .zipWithIndex.map { case (key, b) =>
        struct(lit(b).as("band"), key.as("bkey"))
      }
    df.select(col("vec_id").as(idCol), col("embedding"),
      explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("embedding"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** Per-band signature-key expressions of an embedding COLUMN — the
    * column form of [[withBandKeys]] for callers that need a doc's keys
    * WITHOUT exploding rows (the streaming semantic gate chains one
    * stream-static anti-join per band). Same deterministic planes, same
    * key text — co-bucketing with every banded table is exact. A null
    * embedding yields EMPTY keys (concat_ws skips null bits), which
    * match no real band key — every real key carries bandWidth bits.
    */
  private[graft] def bandKeyExprs(emb: Column, numPlanes: Int,
                                  bandWidth: Int, dim: Int): Seq[Column] = {
    require(numPlanes % bandWidth == 0, "bands must tile the signature")
    val planes = planeMatrix(numPlanes, dim)
    val bits = signBits(emb, planes)
    (0 until numPlanes / bandWidth).map { b =>
      concat_ws(",", (0 until bandWidth).map(r => bits(b * bandWidth + r)): _*)
    }
  }

  /** IVF (inverted-file) ANN — the cell-partitioned scale path used by
    * production vector stores, alongside [[lshTopK]]:
    *
    *  1. BUILD: every corpus vector is assigned to its nearest of
    *     `numCells` centroids — one narrow pass over the corpus against a
    *     broadcast centroid table (K rows), shuffle only on the cell id.
    *     At warehouse scale the cell assignment is persisted (bucketed by
    *     cell), not recomputed per query — that lifecycle is
    *     [[VectorIndex]] (build / searchFlat / searchAdc / append).
    *  2. PROBE: each query scores the same centroids, takes its `nprobe`
    *     nearest cells, and exact-cosine re-ranks ONLY those cells'
    *     members — the corpus fraction touched is ~nprobe/numCells.
    *
    * Centroid choice is pluggable; here it is the first `numCells`
    * corpus vectors, deterministically (production IVF refines centroids
    * with k-means — an assign+mean loop over this same kernel — but
    * FLOAT MEANS accumulate in partition order, which is not
    * reproducible across engines or runs, so the oracle-checked form
    * stays with sampled centroids). Recall < 1 by design: a true
    * neighbor in an unprobed cell is missed — the standard IVF trade.
    */
  /** Above this centroid count the literal-projection assignment falls
    * back to the crossJoin+argmax shape: a greatest() over thousands of
    * literal-centroid cosines would blow the generated method past
    * codegen limits, and at production cell counts (√N) the broadcast
    * join is the scalable plan anyway.
    */
  private[graft] val LiteralAssignCap = 64

  /** Corpus-side nearest-cell assignment. Precondition: `id` is unique
    * in `df` — the small-K path emits one row per input row, so a
    * duplicated id yields duplicate assignment rows (the large-K path
    * would collapse them to one); callers dedup their input first.
    *
    * SMALL-K fast path (round 18, guide §2.4 — remove shuffles
    * outright): the centroid table is bounded (≤ [[LiteralAssignCap]]
    * on every registered path: numCells = 16), so collect it (at most
    * `LiteralAssignCap + 1` rows: a large table never reaches the
    * driver) and compute the argmax as ONE PROJECTION — `greatest()`
    * over K `struct(csim, -cell)` literals. The crossJoin+agg form expanded
    * every vector K×, carried a copy of its EMBEDDING in each expanded
    * row, and shuffled that through the arg-max exchange; the
    * projection form touches each vector once and shuffles NOTHING.
    * Ordering semantics are identical by construction: struct
    * comparison orders by (csim, -cell) exactly as `max(struct(csim,
    * neg_cell, e))` did — highest csim, ties to the lowest cell — and
    * greatest() uses the same NaN-greatest double ordering as max().
    *
    * LARGE-K path: a broadcast crossJoin into the original PARTIAL-AGG
    * ARGMAX — `max(struct(csim, -cell, emb))` per vector — NOT a
    * window: map-side combine collapses the K-expanded scored rows back
    * to one row per vector BEFORE the exchange (no Sort of the K×
    * expansion). Same tie-break (the idiom shared with
    * `keepBestPerCluster` and `silver_nearest`).
    * Output columns: (<id>, <embCol>, cell).
    *
    * Callers pass the centroid frame without a broadcast hint: the
    * small-K path only collects it, and a hint that reaches no join is
    * dropped with a HintErrorLogger warning.
    */
  private[graft] def assignCells(df: DataFrame, id: String, embCol: String,
                                 centroids: DataFrame): DataFrame = {
    // the cosine kernel reads float or double elements: the literal
    // path needs one of them without NULLs, and the join path widens any
    // other element type (array<int> from a hand-built table) to double
    val elem = centroids.schema("centroid").dataType match {
      case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
      case _ => None
    }
    val rows = centroids.select(col("cell"), col("centroid"))
      .limit(LiteralAssignCap + 1).collect()
    val literalOk = elem.isDefined && rows.nonEmpty &&
      rows.length <= LiteralAssignCap &&
      rows.forall(r => !r.isNullAt(0) && r.get(0).isInstanceOf[Long] &&
        !r.isNullAt(1) && !r.getSeq[Any](1).contains(null))
    if (literalOk) {
      val scored = rows
        .map(r => (r.getLong(0), r.getSeq[Any](1)))
        .sortBy(_._1)
        .map { case (cell, cent) =>
          // preserve the centroid column's ELEMENT TYPE (float corpus
          // slices vs the k-means loop's double centroids) so the
          // cosine evaluates on exactly the values the join form saw
          val centLit = elem match {
            case Some(FloatType) => typedLit(cent.map(_.asInstanceOf[Float]))
            case _ => typedLit(cent.map(_.asInstanceOf[Double]))
          }
          struct(cosine(col(embCol), centLit).as("csim"),
            lit(-cell).as("neg_cell"))
        }
      val best =
        if (scored.length == 1) scored.head else greatest(scored: _*)
      df.select(col(id), col(embCol),
        (-best.getField("neg_cell")).as("cell"))
    } else
      df.crossJoin(broadcast(centroids))
        .withColumn("csim", cosine(col(embCol),
          if (elem.isDefined) col("centroid")
          else col("centroid").cast("array<double>")))
        .groupBy(col(id))
        .agg(max(struct(col("csim"), (-col("cell")).as("neg_cell"),
          col(embCol).as("e"))).as("best"))
        .select(col(id), col("best.e").as(embCol),
          (-col("best.neg_cell")).as("cell"))
  }

  def ivfTopK(emb: DataFrame, queries: DataFrame, k: Int,
              numCells: Int = 16, nprobe: Int = 4): DataFrame = {
    // lowest vec_ids by GLOBAL ORDER, not `vec_id < numCells` — sparse or
    // offset id spaces would otherwise yield zero centroids and a silently
    // empty result. TakeOrdered on K rows, then broadcast.
    val centroidSet = emb.orderBy(col("vec_id")).limit(numCells)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    // guard is a one-row probe (limit-1 job), not a full count — the same
    // cheap-probe pattern as requireDim; an empty corpus fails with a
    // clear message instead of silently returning an empty result.
    require(!centroidSet.isEmpty, "ivfTopK: corpus has no vectors to use as centroids")
    ivfSearch(emb, queries, k, centroidSet, nprobe)
  }

  /** [[ivfTopK]] against an EXPLICIT centroid table (cell, centroid) —
    * e.g. [[ivfKMeans]]-refined centroids via [[centroidsFromRefinement]].
    * Production IVF persists refined centroids and searches with them;
    * this is that search path.
    */
  def ivfTopKWith(emb: DataFrame, queries: DataFrame, k: Int,
                  centroids: DataFrame, nprobe: Int = 4): DataFrame = {
    require(Seq("cell", "centroid").forall(centroids.columns.contains),
      "centroid table needs (cell, centroid) columns")
    ivfSearch(emb, queries, k, centroids.select(col("cell"), col("centroid")), nprobe)
  }

  /** Query-side probe step shared by every IVF search (in-memory and
    * persisted-index): each query's `nprobe` nearest cells by the same
    * (csim desc, cell asc) window the oracles mirror. The window is on
    * the SMALL query side — its sort never touches corpus rows.
    * Input (qid, qe); output (qid, qe, cell).
    */
  private[ext] def probeCells(queries: DataFrame, centroids: DataFrame,
                              nprobe: Int): DataFrame = {
    val scored = queries.crossJoin(broadcast(centroids))
      .withColumn("csim", cosine(col("qe"), col("centroid")))
    val w = Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("cell").asc)
    scored.withColumn("crn", row_number().over(w))
      .filter(col("crn") <= nprobe)
      .select(col("qid"), col("qe"), col("cell"))
  }

  private def ivfSearch(emb: DataFrame, queries: DataFrame, k: Int,
                        centroidSet: DataFrame, nprobe: Int): DataFrame = {
    val cells = assignCells(
      emb.select(col("vec_id").as("cid"), col("embedding").as("ce")),
      "cid", "ce", centroidSet)
    val probes = probeCells(
      queries.select(col("vec_id").as("qid"), col("embedding").as("qe")),
      centroidSet, nprobe)
    rankTopK(
      probes.join(cells, Seq("cell"))
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("qe"), col("cid"), col("ce")),
      k)
  }

  /** One Lloyd (k-means) refinement iteration over the IVF coarse
    * centroids, in FIXED POINT so it is oracle-checkable: the assignment
    * pass is [[ivfTopK]]'s build step (broadcast-K centroid scoring, one
    * narrow pass over the corpus); the new per-(cell, dim) mean sums
    * `round(x·10⁶)` longs — exact and order-insensitive, the trick
    * proven by `corpus_embedding_centroids` — and divides ONCE at the
    * end, so the result is bit-identical across engines, partitionings,
    * and runs (a raw float mean accumulates in partition order and is
    * none of those). This is the production IVF centroid-refinement loop
    * body: iterate assign→mean to convergence, then build the cell
    * layout with the refined centroids.
    *
    * Output: one row per (cell, pos): member count and the refined
    * centroid component. A cell that lost every member emits no rows —
    * the caller reseeds or drops it (standard k-means practice).
    */
  def ivfRefineStep(emb: DataFrame, numCells: Int = 16): DataFrame = {
    val centroidSet = emb.orderBy(col("vec_id")).limit(numCells)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    require(!centroidSet.isEmpty, "ivfRefineStep: corpus has no vectors")
    ivfRefineWith(emb, centroidSet)
  }

  /** The Lloyd-step body against an EXPLICIT centroid table — shared by
    * [[ivfRefineStep]] (sampled seeds) and [[ivfKMeans]] (the loop).
    * `centroids` must have (cell, centroid) and be broadcast-sized.
    */
  private def ivfRefineWith(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val assigned = assignCells(
      emb.select(col("vec_id").as("cid"), col("embedding").as("ce")),
      "cid", "ce", centroids)
      .select(col("cell"), col("ce"))
    assigned.select(col("cell"), posexplode(col("ce")).as(Seq("p0", "x")))
      .groupBy(col("cell"), (col("p0") + 1).as("pos"))
      .agg(count(lit(1)).as("n_members"),
        sum(round(col("x").cast("double") * 1000000).cast("long")).as("fx"))
      .select(col("cell"), col("pos"), col("n_members"),
        (col("fx").cast("double") /
          (col("n_members").cast("double") * lit(1000000.0))).as("c_val"))
  }

  /** K-means refinement of the IVF coarse centroids TO CONVERGENCE —
    * the production composition of [[ivfRefineStep]] kernels
    * (reference analog: the notebook's nearest-station argmin taken to
    * its real use). Deterministic and oracle-checkable end to end:
    *
    *  - seeds = the first `numCells` corpus vectors by global vec_id
    *    order (as [[ivfTopK]]), widened to double;
    *  - each iteration = argmax cell assignment (one broadcast-K narrow
    *    pass over the corpus + one partial-agg exchange of corpus-sized
    *    rows) followed by the FIXED-POINT mean — exact longs, one
    *    division, bit-identical across engines and partitionings;
    *  - a cell that loses every member is RESEEDED deterministically
    *    with the farthest corpus point: the vector minimizing its max
    *    cosine to the surviving centroids (tie-break: lowest vec_id);
    *    multiple empty cells take the m farthest points in ascending
    *    cell order. Reseeds feed the NEXT assignment;
    *  - stops after `iters` iterations, or earlier when no reseed
    *    happened and no centroid component moved by `tol` or more.
    *    `tol = 0` DISABLES early stop so the iteration count is a
    *    constant an oracle can unroll (`sim_ivf_kmeans` runs exactly 3).
    *
    * Only K×dim doubles ever reach the driver per iteration — the
    * per-iteration collect is the same centroid-sized driver hop every
    * distributed k-means (including Spark MLlib's) makes; the corpus
    * itself never leaves the executors. Output: the FINAL iteration's
    * refinement table (cell, pos, n_members, c_val) — one row per
    * surviving (cell, dim); a cell reseeded in the last iteration has no
    * members yet and is absent, as in [[ivfRefineStep]].
    */
  def ivfKMeans(emb: DataFrame, numCells: Int = 16, iters: Int = 3,
                tol: Double = 0.0): DataFrame = {
    require(iters >= 1, "ivfKMeans: at least one Lloyd iteration")
    val spark = emb.sparkSession
    val seedRows = emb.orderBy(col("vec_id")).limit(numCells)
      .select(col("vec_id"), col("embedding")).collect()
    require(seedRows.nonEmpty, "ivfKMeans: corpus has no vectors")
    var centroids: Map[Long, Array[Double]] = seedRows.map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray
    }.toMap
    var lastRefined: Array[org.apache.spark.sql.Row] = Array.empty
    var outSchema: org.apache.spark.sql.types.StructType = null
    var done = false
    var it = 0
    while (it < iters && !done) {
      val refinedDf = ivfRefineWith(emb, centroidTable(spark, centroids))
      outSchema = refinedDf.schema
      lastRefined = refinedDf.collect()
      val next: Map[Long, Array[Double]] = lastRefined.groupBy(_.getLong(0))
        .map { case (c, rows) =>
          c -> rows.sortBy(_.getInt(1)).map(_.getDouble(3))
        }
      val empty = centroids.keySet.diff(next.keySet).toSeq.sorted
      val moved = centroids.keySet.intersect(next.keySet).map { c =>
        centroids(c).lazyZip(next(c)).map((o, n) => math.abs(n - o)).max
      }.maxOption.getOrElse(0.0)
      done = empty.isEmpty && tol > 0.0 && moved < tol
      centroids = next ++ (if (empty.nonEmpty)
        reseedFarthest(emb, next, empty) else Map.empty)
      it += 1
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(lastRefined.toIndexedSeq), outSchema)
  }

  /** Deterministic empty-cell reseeding: the `emptyCells.size` corpus
    * vectors FARTHEST from every surviving centroid (smallest max
    * cosine; tie-break lowest vec_id), assigned to the empty cells in
    * ascending cell order. One broadcast-K pass + a partial-agg argmin —
    * the same plan shape as the assignment itself.
    */
  private def reseedFarthest(emb: DataFrame, surviving: Map[Long, Array[Double]],
                             emptyCells: Seq[Long]): Map[Long, Array[Double]] = {
    val far = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centroidTable(emb.sparkSession, surviving)))
      .withColumn("csim", cosine(col("embedding"), col("centroid")))
      .groupBy(col("vec_id"))
      .agg(max(col("csim")).as("maxsim"), first(col("embedding")).as("e"))
      .orderBy(col("maxsim").asc, col("vec_id").asc)
      .limit(emptyCells.size)
      .collect()
    // a corpus smaller than the empty-cell count reseeds what it can
    emptyCells.zip(far).map { case (cell, r) =>
      cell -> r.getSeq[Float](2).map(_.toDouble).toArray
    }.toMap
  }

  private def centroidTable(spark: org.apache.spark.sql.SparkSession,
                            cents: Map[Long, Array[Double]]): DataFrame = {
    import spark.implicits._
    cents.toSeq.sortBy(_._1).map { case (c, a) => (c, a.toSeq) }
      .toDF("cell", "centroid")
  }

  /** Collapse a refinement table (cell, pos, n_members, c_val) back into
    * (cell, centroid array<double>) — the layout [[ivfTopKWith]] searches
    * with. Sorted by pos inside the aggregation, so the array order never
    * depends on collect_list's arrival order.
    */
  def centroidsFromRefinement(refined: DataFrame): DataFrame =
    refined.groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c_val")))).as("pc"))
      .select(col("cell"),
        transform(col("pc"), x => x.getField("c_val")).as("centroid"))

  /** Symmetric per-vector int8 quantization — the 4× memory/IO lever a
    * billion-vector ANN index pulls before anything else: scale =
    * 127 / max|xᵢ| (row-local — no global pass, no clipping), qᵢ =
    * round(xᵢ·scale) ∈ [−127, 127]; dequantize as qᵢ/scale. Per-row
    * projection only — no shuffle, no state. Emitted in
    * EXPLODED form (vec_id, pos, q, scale): element rows hash-compare
    * engine-neutrally and the layout is what a columnar int8 index
    * stores anyway. The dequantization error is ≤ 0.5/scale per
    * component; the spec bounds the induced cosine error.
    * All-zero vectors (scale undefined) quantize to q = 0 with scale 0 —
    * callers treat scale 0 as "dequantizes to the zero vector".
    */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val amax = array_max(transform(col("embedding"),
      x => abs(x.cast("double"))))
    emb.select(col("vec_id"), col("embedding"),
        when(amax > 0, lit(127.0) / amax).otherwise(lit(0.0)).as("scale"))
      .select(col("vec_id"), col("scale"),
        posexplode(col("embedding")).as(Seq("p0", "x")))
      .select(col("vec_id"), (col("p0") + 1).as("pos"),
        round(col("x").cast("double") * col("scale")).cast("int").as("q"),
        col("scale"))
  }

  /** One row per (id, subspace): the `sub`-th length-`subDim` slice of
    * the embedding — the shared decomposition step of the PQ operators.
    */
  private def subvectors(df: DataFrame, id: String, m: Int,
                         subDim: Int): DataFrame =
    df.select(col(id), explode(array((0 until m).map(mm =>
        struct(lit(mm).as("sub"),
          slice(col("embedding"), mm * subDim + 1, subDim).as("sv"))): _*)).as("s"))
      .select(col(id), col("s.sub").as("sub"), col("s.sv").as("sv"))

  /** Squared L2 distance via three fused native dot products — each an
    * index-ordered double accumulation, composed in a fixed expression
    * order, so the value (and therefore every argmin that consumes it)
    * is bit-identical across engines.
    */
  private def l2sq(a: Column, b: Column): Column = {
    val dot = graft.functions.KeyColumns.dot_native _
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)
  }

  /** Product-quantization codebooks, SAMPLED deterministically: subspace
    * `sub`'s codewords are the corresponding slices of the first
    * `numCodes` corpus vectors in global vec_id order (code ids 0..k−1 in
    * that order) — the same sampled-seed convention as [[ivfTopK]], so
    * the DuckDB oracle reproduces the codebook exactly. Production PQ
    * refines each subspace codebook with k-means — the [[ivfKMeans]]
    * fixed-point machinery applied per subspace (SimilaritySpec runs that
    * composition); search is codebook-agnostic.
    * Output: (sub, code, codeword).
    */
  def pqCodebooks(emb: DataFrame, m: Int = 4, numCodes: Int = 16,
                  dim: Int = 64): DataFrame = {
    require(dim % m == 0, "subspaces must tile the dimension")
    requireDim(emb, dim)
    // the window runs over numCodes rows post-limit — not the corpus.
    val w = Window.orderBy(col("vec_id"))
    val base = emb.orderBy(col("vec_id")).limit(numCodes)
      .select(col("vec_id"), col("embedding"))
      .withColumn("code", row_number().over(w) - 1)
    subvectors(base, "code", m, dim / m)
      .select(col("sub"), col("code"), col("sv").as("codeword"))
  }

  /** TRAINED PQ codebooks — per-subspace k-means over the sampled seeds,
    * in the same FIXED POINT as [[ivfKMeans]] so the shipped path (not
    * just a spec) carries refined codebooks and stays oracle-checkable:
    *
    *  - seeds = [[pqCodebooks]] widened to double (exact float→double);
    *  - each iteration assigns every (vector, subspace) slice to its
    *    nearest codeword by exact squared-L2 — ALL m subspaces in ONE
    *    job (the (id, sub)-grain argmin partial agg [[pqEncode]] runs),
    *    not m driver loops — then recomputes each codeword as the
    *    fixed-point mean of its members per (sub, code, pos): exact
    *    `round(x·10⁶)` longs, ONE division, bit-identical across
    *    engines and partitionings;
    *  - a codeword that lost every member keeps its previous value
    *    (deterministic; the oracle mirrors with an anti-join).
    *
    * The whole refinement is a chained declarative plan — no per-
    * iteration driver hop at all (unlike [[ivfKMeans]], which reseeds
    * from collected centroids): `iters` is small and constant, so the
    * oracle unrolls it. Scale shape per iteration: one broadcast join of
    * (corpus × m) slice rows against the m×k codebook, one partial-agg
    * argmin, one partial-agg mean of (m × k × dim) cells.
    * Output: (sub, code, codeword array<double>).
    */
  def pqCodebooksTrained(emb: DataFrame, m: Int = 4, numCodes: Int = 16,
                         dim: Int = 64, iters: Int = 2): DataFrame = {
    require(iters >= 0, "pqCodebooksTrained: iters must be non-negative")
    // sv is referenced three times per iteration (assignment, then twice
    // in the mean join's two lineages); persisted so the corpus explode
    // runs once, not 3×iters times. Each iteration's jobs run eagerly
    // (the codebook localCheckpoint below), so the cache is exercised
    // inside this call and released before returning.
    val sv = subvectors(emb.select(col("vec_id"), col("embedding")),
      "vec_id", m, dim / m)
    if (iters >= 1) sv.persist()
    var cb = pqCodebooks(emb, m, numCodes, dim)
      .select(col("sub"), col("code"),
        transform(col("codeword"), x => x.cast("double")).as("codeword"))
    try for (_ <- 1 to iters) {
      val enc = sv.join(broadcast(cb), Seq("sub"))
        .withColumn("d2", l2sq(col("sv"), col("codeword")))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("d2"), col("code"))).as("b"))
        .select(col("vec_id"), col("sub"), col("b.code").as("code"))
      val means = enc.join(sv, Seq("vec_id", "sub"))
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("p0", "x")))
        .groupBy(col("sub"), col("code"), (col("p0") + 1).as("pos"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("x").cast("double") * 1000000).cast("long")).as("fx"))
        .select(col("sub"), col("code"), col("pos"),
          (col("fx").cast("double") /
            (col("n").cast("double") * lit(1000000.0))).as("c_val"))
      val refreshed = means.groupBy(col("sub"), col("code"))
        .agg(array_sort(collect_list(struct(col("pos"), col("c_val")))).as("pc"))
        .select(col("sub"), col("code"),
          transform(col("pc"), x => x.getField("c_val")).as("codeword"))
      // the codebook is m×k rows; checkpointing it each iteration keeps
      // the chained plan linear (each cb is referenced 3× downstream —
      // assignment broadcast, mean join, carry-forward anti-join — and
      // without the cut the recompute tree doubles per iteration).
      cb = refreshed.unionByName(
        cb.join(refreshed.select(col("sub"), col("code")),
          Seq("sub", "code"), "left_anti"))
        .localCheckpoint(eager = true)
    } finally if (iters >= 1) sv.unpersist(blocking = false)
    cb
  }

  /** PQ encoding: each vector compresses to `m` small code ids — nearest
    * codeword per subspace by exact squared-L2 (argmin as the
    * `min(struct(d2, code))` partial agg; ties to the lowest code id).
    * This is the 100 TB lever: a 64-float embedding becomes m bytes
    * (here 4×4 bits), a 64× reduction the index scan pays instead of
    * reading raw vectors. One narrow pass against the broadcast
    * codebooks; the only exchange carries (id, sub)-grain rows.
    * Output: (<idCol>, sub, code).
    */
  def pqEncode(emb: DataFrame, codebooks: DataFrame, m: Int = 4,
               dim: Int = 64): DataFrame = {
    require(dim % m == 0, "subspaces must tile the dimension")
    subvectors(emb.select(col("vec_id"), col("embedding")), "vec_id", m, dim / m)
      .join(broadcast(codebooks), Seq("sub"))
      .withColumn("d2", l2sq(col("sv"), col("codeword")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("d2"), col("code"))).as("b"))
      .select(col("vec_id"), col("sub"), col("b.code").as("code"))
  }

  /** PQ ANN top-k by ASYMMETRIC distance computation (ADC): the query
    * stays full-precision; each corpus vector is scored through its
    * codes via a per-query lookup table of partial dot products —
    * est(q,c) = Σ_sub dot(q_sub, codeword(sub, code(c,sub))). The LUT
    * (queries × m × numCodes rows) broadcasts; corpus codes join it on
    * (sub, code) and the per-(query, vector) estimate sums the m
    * partials in FIXED column order (a pivot, not a float sum aggregate
    * — bit-stable across partitionings and engines). Approximation
    * error comes from quantization only; recall is measured against
    * brute force in SimilaritySpec.
    */
  def pqTopK(emb: DataFrame, queries: DataFrame, k: Int, m: Int = 4,
             numCodes: Int = 16, dim: Int = 64): DataFrame =
    pqTopKWith(emb, queries, k, pqCodebooks(emb, m, numCodes, dim), m, dim)

  /** [[pqTopK]] against an EXPLICIT codebook table (sub, code, codeword)
    * — e.g. [[pqCodebooksTrained]]. The search is codebook-agnostic;
    * this is the path a deployment with trained codebooks ships.
    */
  def pqTopKWith(emb: DataFrame, queries: DataFrame, k: Int,
                 codebooks: DataFrame, m: Int = 4, dim: Int = 64): DataFrame = {
    val codes = pqEncode(emb, codebooks, m, dim)
      .select(col("vec_id").as("cid"), col("sub"), col("code"))
    val lut = adcLut(
      queries.select(col("vec_id").as("qid"), col("embedding")),
      codebooks, m, dim)
    val partials = (0 until m).map(mm =>
      max(when(col("sub") === mm, col("pdot"))).as(s"s$mm"))
    val est = codes.join(broadcast(lut), Seq("sub", "code"))
      .groupBy(col("qid"), col("cid"))
      .agg(partials.head, partials.tail: _*)
      .withColumn("est", (0 until m).map(mm => col(s"s$mm")).reduce(_ + _))
    val w = Window.partitionBy(col("qid")).orderBy(col("est").desc, col("cid").asc)
    est.filter(col("qid") =!= col("cid"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid"))
  }

  /** Per-query ADC lookup table: partial dot products of each query's
    * subvectors against every codeword — (queries × m × numCodes) rows,
    * broadcast-sized. Shared by [[ivfPqTopK]] and the persisted-index
    * search ([[VectorIndex.searchAdc]]). Input queries: (qid, embedding).
    * Output: (qid, sub, code, pdot).
    */
  private[ext] def adcLut(queries: DataFrame, codebooks: DataFrame,
                          m: Int, dim: Int): DataFrame =
    subvectors(queries.select(col("qid"), col("embedding")), "qid", m, dim / m)
      .join(broadcast(codebooks), Seq("sub"))
      .select(col("qid"), col("sub"), col("code"),
        graft.functions.KeyColumns.dot_native(col("sv"), col("codeword")).as("pdot"))

  /** ADC scoring + ranking tail shared by the IVF-PQ compositions:
    * candidate (qid, cid) pairs score through their codes joined to the
    * broadcast LUT; the per-pair estimate sums the m partials in FIXED
    * column order (a pivot, not a float sum aggregate — bit-stable
    * across partitionings and engines); ranking is the query-partitioned
    * window over candidate-sized rows. `codes`: (cid, sub, code).
    */
  /** ADC ranking of a candidate frame. `cands` must carry (qid, cid);
    * any EXTRA columns (e.g. the candidate's `cell` — functionally
    * dependent on cid, so grouping by it costs nothing) ride through the
    * aggregation and come back after (qid, rank, cid) in the output —
    * [[VectorIndex.searchRefined]] uses that to keep the partition
    * column available for its pruned exact re-rank.
    */
  private[ext] def adcRank(cands: DataFrame, codes: DataFrame,
                           lut: DataFrame, m: Int, k: Int): DataFrame = {
    val keyCols = cands.columns.toSeq
    val partials = (0 until m).map(mm =>
      max(when(col("sub") === mm, col("pdot"))).as(s"s$mm"))
    val est = cands.join(codes, Seq("cid"))
      .join(broadcast(lut), Seq("qid", "sub", "code"))
      .groupBy(keyCols.map(col): _*)
      .agg(partials.head, partials.tail: _*)
      .withColumn("est", (0 until m).map(mm => col(s"s$mm")).reduce(_ + _))
    val w = Window.partitionBy(col("qid")).orderBy(col("est").desc, col("cid").asc)
    est.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select((Seq("qid", "rank") ++ keyCols.filterNot(_ == "qid")).map(col): _*)
  }

  /** IVF-PQ ANN — the composition production vector stores actually
    * ship: the IVF coarse quantizer restricts candidates to the query's
    * `nprobe` nearest cells (corpus fraction touched ≈ nprobe/numCells),
    * and PQ codes score those candidates through the broadcast ADC
    * lookup table instead of reading raw vectors — so the scan cost is
    * (probed fraction) × (m-byte codes), the shape that serves
    * billion-vector indexes from RAM. Candidates join codes on cid, the
    * LUT on (qid, sub, code); the per-pair estimate is the same
    * fixed-order pivot sum as [[pqTopK]], so the whole pipeline stays
    * bit-exact and oracle-checkable.
    */
  def ivfPqTopK(emb: DataFrame, queries: DataFrame, k: Int,
                numCells: Int = 16, nprobe: Int = 4, m: Int = 4,
                numCodes: Int = 16, dim: Int = 64): DataFrame = {
    // the IVF cell machinery inline: assignment by argmax partial agg,
    // query probes by the small-side window.
    val centroids = emb.orderBy(col("vec_id")).limit(numCells)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    require(!centroids.isEmpty, "ivfPqTopK: corpus has no vectors")
    val cells = assignCells(
      emb.select(col("vec_id").as("cid"), col("embedding").as("ce")),
      "cid", "ce", centroids)
      .select(col("cid"), col("cell"))
    val probes = probeCells(
      queries.select(col("vec_id").as("qid"), col("embedding").as("qe")),
      centroids, nprobe)
      .select(col("qid"), col("cell"))
    val cands = probes.join(cells, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"))
    val cw = pqCodebooks(emb, m, numCodes, dim)
    val codes = pqEncode(emb, cw, m, dim)
      .select(col("vec_id").as("cid"), col("sub"), col("code"))
    val lut = adcLut(
      queries.select(col("vec_id").as("qid"), col("embedding")), cw, m, dim)
    adcRank(cands, codes, lut, m, k)
  }

  def lshTopK(emb: DataFrame, queries: DataFrame, k: Int,
              numPlanes: Int = 8, bandWidth: Int = 4, dim: Int = 64): DataFrame = {
    val qb = withBandKeys(queries, "qid", numPlanes, bandWidth, dim)
      .withColumnRenamed("embedding", "qe")
    val cb = withBandKeys(emb, "cid", numPlanes, bandWidth, dim)
      .withColumnRenamed("embedding", "ce")
    rankTopK(
      qb.join(cb, Seq("band", "bkey"))
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("qe"), col("cid"), col("ce"))
        .dropDuplicates("qid", "cid"),
      k)
  }
}
