package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED ANN index lifecycle — the on-disk form of the IVF-PQ
  * machinery in [[Similarity]], completing the promise its build step
  * documents ("at warehouse scale the cell assignment is persisted, not
  * recomputed per query"): build once, search many, append deltas —
  * the vector-side analog of the dedup band/signature state lifecycle
  * (`Dedup.appendBandState` / `ScaleOps.retainRows`). Reference analog:
  * the persisted enrichment table + insert-if-absent idiom
  * (/root/reference/include/scripts/init_db.py:90-104,
  * get_locations.py:101-107) — state lives in the warehouse, new keys
  * extend it, queries read it.
  *
  * Index layout under `dir/` (all parquet):
  *  - `centroids/`  (cell, centroid)            — FROZEN at build
  *  - `codebooks/`  (sub, code, codeword)       — FROZEN at build
  *  - `cells/`      (vec_id, embedding, cell)   — grows by append
  *  - `codes/`      (vec_id, sub, code, cell)   — grows by append
  * `cells` and `codes` are PARTITIONED BY cell, so a search that probes
  * `nprobe` of `numCells` cells prunes to that fraction of the files —
  * the IO shape that serves billion-vector indexes (codes are the
  * m-byte compressed form; raw vectors are touched only by the flat
  * re-rank path). Every table carries the layout as its [[Stamp]]
  * (num_cells, m, num_codes, dim), and every lifecycle operation checks
  * it before touching the index: an index built with a different
  * layout fails LOUDLY instead of silently searching wrong buckets.
  *
  * Append encodes the delta against the FROZEN centroids/codebooks —
  * one narrow pass over the delta plus a file append; no rewrite of
  * existing state, no retraining. (The standard production trade:
  * recall decays as the appended distribution drifts from the frozen
  * quantizers; the rebuild that re-trains them is `build` again.)
  * Determinism end to end: sampled seeds, argmax/argmin partial aggs,
  * fixed-order ADC pivot sums — so build → persist → search → append →
  * search is bit-reproducible and oracle-checkable
  * (`sim_index_roundtrip`).
  */
object VectorIndex {

  /** The frozen geometry of a persisted index. */
  final case class Layout(numCells: Int, m: Int, numCodes: Int, dim: Int)

  private val layoutCols = Seq("num_cells", "m", "num_codes", "dim")

  private def stamp(df: DataFrame, l: Layout): DataFrame =
    df.withColumn("num_cells", lit(l.numCells))
      .withColumn("m", lit(l.m))
      .withColumn("num_codes", lit(l.numCodes))
      .withColumn("dim", lit(l.dim))

  /** The stamp of a persisted index table. [[build]] and [[append]]
    * write every table stamped and non-empty, so a table without the
    * layout columns or without rows is refused.
    */
  private def readStamp(df: DataFrame, what: String): Stamp.Values = {
    require(layoutCols.forall(df.columns.contains),
      s"$what lacks layout columns ${layoutCols.mkString("(", ", ", ")")} — " +
        "not a VectorIndex table; build the index with VectorIndex.build")
    val s = Stamp.read(df, layoutCols)
    require(s.nonEmpty, s"$what is empty — cannot read its layout")
    s.get
  }

  /** Fail loudly on an index table whose layout differs from the
    * centroids': searching it would probe wrong buckets.
    */
  private def requireTable(df: DataFrame, what: String, l: Layout): Unit =
    Stamp.require(Some(readStamp(df, what)), what,
      layoutCols.zip(Seq(l.numCells, l.m, l.numCodes, l.dim)))

  private def centroidsOf(spark: SparkSession, dir: String): (DataFrame, Layout) = {
    val c = spark.read.parquet(s"$dir/centroids")
    val s = readStamp(c, "index centroid table")
    (c, Layout(Stamp.int(s, "num_cells"), Stamp.int(s, "m"),
      Stamp.int(s, "num_codes"), Stamp.int(s, "dim")))
  }

  /** BUILD: freeze centroids (first `numCells` vectors by global id
    * order — the [[Similarity.ivfTopK]] convention; pass k-means-refined
    * centroids through [[buildWith]] for the trained form) and sampled
    * PQ codebooks, then assign + encode the whole corpus and persist all
    * four tables. One broadcast-K narrow pass over the corpus for the
    * assignment (argmax partial agg — corpus-sized exchange), one for
    * the encoding ((id, sub)-grain exchange); the writes are bucketed by
    * cell via partitionBy.
    */
  def build(emb: DataFrame, dir: String, numCells: Int = 16, m: Int = 4,
            numCodes: Int = 16, dim: Int = 64): Unit = {
    val centroids = emb.orderBy(col("vec_id")).limit(numCells)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    require(!centroids.isEmpty, "VectorIndex.build: corpus has no vectors")
    buildWith(emb, dir, centroids, numCells, m, numCodes, dim)
  }

  /** [[build]] against an EXPLICIT centroid table (cell, centroid) —
    * e.g. [[Similarity.ivfKMeans]]-refined centroids via
    * [[Similarity.centroidsFromRefinement]].
    */
  def buildWith(emb: DataFrame, dir: String, centroids: DataFrame,
                numCells: Int, m: Int = 4, numCodes: Int = 16,
                dim: Int = 64): Unit = {
    require(Seq("cell", "centroid").forall(centroids.columns.contains),
      "centroid table needs (cell, centroid) columns")
    require(dim % m == 0, "subspaces must tile the dimension")
    Similarity.requireDim(emb, dim)
    val l = Layout(numCells, m, numCodes, dim)
    val cw = Similarity.pqCodebooks(emb, m, numCodes, dim)
    // project to exactly (cell, centroid): a caller frame carrying extra
    // columns (e.g. vec_id/embedding from its derivation) would make
    // assignCells' cross join ambiguous.
    val cent = centroids.select(col("cell"), col("centroid"))
    stamp(cent, l).write.mode("overwrite").parquet(s"$dir/centroids")
    stamp(cw, l).write.mode("overwrite").parquet(s"$dir/codebooks")
    writeVectors(emb, dir, cent, cw, l, overwrite = true)
  }

  /** APPEND: extend a persisted index with new vectors, assigned and
    * encoded against the FROZEN centroids and codebooks read back from
    * the index itself — never retrained, so existing cells/codes stay
    * valid and the write is a plain file append into the per-cell
    * directories. Validates the delta's dimension and the index layout
    * first (a mismatched append would poison every later search).
    *
    * INSERT-IF-ABSENT, like its reference analog: vec_ids already in
    * the index are anti-joined away, so retrying a failed/timed-out
    * append is idempotent instead of duplicating candidates (a
    * duplicated cid would occupy two top-k slots). Crash safety comes
    * from the write ORDER: codes first, cells second. Candidates are
    * drawn from the cells table on both search paths, so a crash
    * between the writes leaves orphan code rows that are invisible to
    * search, while the moment cells commits, both tables are complete.
    * The insert-if-absent check runs PER TABLE (the cells delta
    * anti-joins cells' ids, the codes delta anti-joins codes' ids), so
    * the retry after that crash appends only the missing cells rows and
    * skips the already-written codes — restoring the exact
    * m-rows-per-vector invariant instead of leaving permanent duplicate
    * (cid, sub, code) rows that every later codes scan would pay for.
    */
  def append(spark: SparkSession, dir: String, delta: DataFrame): Unit = {
    val (cent, l) = centroidsOf(spark, dir)
    val cw = spark.read.parquet(s"$dir/codebooks")
    requireTable(cw, "index codebook table", l)
    Similarity.requireDim(delta, l.dim)
    val existing = spark.read.parquet(s"$dir/cells").select(col("vec_id"))
    val fresh = delta.join(existing, Seq("vec_id"), "left_anti")
    writeVectors(fresh, dir, cent.select(col("cell"), col("centroid")),
      cw.select(col("sub"), col("code"), col("codeword")), l,
      overwrite = false)
  }

  private def writeVectors(vecs: DataFrame, dir: String, centroids: DataFrame,
                           codebooks: DataFrame, l: Layout,
                           overwrite: Boolean): Unit = {
    val mode = if (overwrite) "overwrite" else "append"
    graft.Stage.scoped { st =>
      val assigned = st.cache(Similarity.assignCells(
        vecs.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", centroids))
      // cluster by cell before the partitioned write: each write batch
      // lands ~one file per cell directory instead of one per (task ×
      // cell) — the small-file blowup a partitioned sink otherwise pays.
      // CODES before CELLS: candidates come from cells, so a crash
      // between the two writes leaves only search-invisible code rows
      // (see [[append]]'s crash-safety note).
      val codesDelta = Similarity.pqEncode(vecs, codebooks, l.m, l.dim)
        .join(assigned.select(col("vec_id"), col("cell")), Seq("vec_id"))
      // per-table insert-if-absent: on the retry after a crash between
      // the two writes, the codes rows already committed — anti-join
      // them away so the retry cannot double them (the caller's cells
      // anti-join can't see them; see [[append]]).
      val codes =
        if (overwrite) codesDelta
        else codesDelta.join(
          vecs.sparkSession.read.parquet(s"$dir/codes").select(col("vec_id")),
          Seq("vec_id"), "left_anti")
      stamp(codes.select(col("vec_id"), col("sub"), col("code"), col("cell")), l)
        .repartition(l.numCells, col("cell"))
        .write.mode(mode).partitionBy("cell").parquet(s"$dir/codes")
      stamp(assigned.select(col("vec_id"), col("embedding"), col("cell")), l)
        .repartition(l.numCells, col("cell"))
        .write.mode(mode).partitionBy("cell").parquet(s"$dir/cells")
    }
  }

  /** RETENTION — the delete half of the lifecycle ([[append]]'s dual,
    * and the vector-side analog of dedup-state retention via
    * [[graft.operators.ScaleOps.retainRows]], which it reuses): rewrite
    * cells and codes keeping only vectors whose `vec_id` appears in
    * `keep`, compacting files in the same staged pass. Centroids and
    * codebooks stay FROZEN — quantizers are trained artifacts, not
    * per-vector state, so a removed vector that seeded a centroid keeps
    * its (now empty-able) cell; re-training them is [[build]] again.
    * Without retention, deleted/re-licensed vectors remain searchable
    * ghosts — the exact failure mode dedup-state retention exists for.
    * Uses the in-place [[graft.operators.ScaleOps.RenameSwap]]
    * promotion so the searches' plain directory reads stay valid.
    */
  def retain(spark: SparkSession, dir: String, keep: DataFrame): Unit = {
    require(keep.columns.contains("vec_id"),
      "retain: keep frame needs a vec_id column")
    centroidsOf(spark, dir) // validates this IS an index before rewriting
    val keys = keep.select(col("vec_id"))
    graft.operators.ScaleOps.retainRows(spark, s"$dir/cells", keys, Seq("vec_id"))
    graft.operators.ScaleOps.retainRows(spark, s"$dir/codes", keys, Seq("vec_id"))
  }

  /** COMPACTION — the maintenance pass a long-lived appended index
    * needs: every [[append]] (and every micro-batch of
    * [[graft.streaming.Streams.indexMaintainPipeline]]) lands ~one new
    * file per touched cell directory, so per-cell file counts grow ∝
    * appends and scans pay per-file open/footer cost that eventually
    * dominates the probed-cell reads. Rewrites cells and codes through
    * the staged compaction pass ([[graft.operators.ScaleOps.compact]]:
    * partition layout preserved, concurrent writers abort the swap,
    * promotion pluggable); content and quantizers are untouched, so
    * every search answer is byte-identical before and after — only the
    * file count changes.
    */
  def compact(spark: SparkSession, dir: String,
              targetBytes: Long = 128L * 1024 * 1024): Unit = {
    centroidsOf(spark, dir) // validates this IS an index before rewriting
    graft.operators.ScaleOps.compact(spark, s"$dir/cells", targetBytes)
    graft.operators.ScaleOps.compact(spark, s"$dir/codes", targetBytes)
  }

  /** RE-CENTERING — the quantizer-maintenance pass a long-lived
    * appended index eventually needs: [[append]] encodes deltas against
    * the FROZEN build-time quantizers, so as the appended distribution
    * drifts the cell histogram skews (hot cells balloon, probes miss)
    * and nprobe recall decays. This op RE-TRAINS both quantizers over
    * the CURRENTLY INDEXED vectors (centroids by the same deterministic
    * convention [[build]] uses — or an explicit, e.g. k-means-refined,
    * table via `centroids` — and PQ codebooks re-sampled from the
    * indexed set), re-assigns and re-encodes every vector, and promotes
    * the result ATOMICALLY as a whole: the four tables change
    * COHERENTLY or not at all, because a mixed-generation read (new
    * centroids, old cells) would probe wrong buckets with no layout
    * mismatch to catch it. Bit-identical to [[build]] run fresh on the
    * indexed vectors — the oracle's contract.
    *
    * Promotion discipline: the new index is built COMPLETELY into a
    * staging directory next to the root (`<dir>.recentering`, marked
    * `_complete` only after all four tables land), then swapped in via
    * the two-rename [[graft.operators.ScaleOps.RenameSwap]] shape.
    * Crash anywhere resumes: an unmarked staging is a stray partial
    * build (superseded, rebuilt); a marked staging finishes its swap; a
    * root missing mid-swap is restored from `.previous` or completed
    * from the staging. Writers must be QUIESCED (the compaction
    * contract): the indexed file set is snapshotted before the
    * re-cluster and the promote REFUSES if it changed — an append
    * racing the rebuild would otherwise vanish silently.
    */
  def recenter(spark: SparkSession, dir: String,
               centroids: Option[DataFrame] = None): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = new org.apache.hadoop.fs.Path(dir + ".recentering")
    val marker = new org.apache.hadoop.fs.Path(staged, "_complete")
    val prev = new org.apache.hadoop.fs.Path(dir + ".previous")
    def finishSwap(): Unit = {
      if (fs.exists(root)) {
        if (fs.exists(prev)) fs.delete(prev, true)
        require(fs.rename(root, prev),
          s"recenter: cannot move $root aside")
      }
      require(fs.rename(staged, root),
        s"recenter: cannot promote $staged over $root" +
          (if (fs.exists(prev)) s" — data is intact at $prev" else ""))
      fs.delete(prev, true)
    }
    if (fs.exists(marker)) { finishSwap(); return } // crashed mid-swap
    if (fs.exists(staged)) fs.delete(staged, true)  // stray partial build
    if (!fs.exists(root) && fs.exists(prev))
      // crashed between the swap's renames with no marked staging left:
      // the original is whole in .previous — restore it
      require(fs.rename(prev, root), s"recenter: cannot restore $root")
    val (_, l) = centroidsOf(spark, dir)
    def fileSet() = spark.read.parquet(s"$dir/cells")
      .select(input_file_name()).distinct().collect()
      .map(_.getString(0)).toSet
    val before = fileSet()
    val emb = spark.read.parquet(s"$dir/cells")
      .select(col("vec_id"), col("embedding"))
    val cent = centroids.getOrElse(
      emb.orderBy(col("vec_id")).limit(l.numCells)
        .select(col("vec_id").as("cell"), col("embedding").as("centroid")))
    buildWith(emb, staged.toString, cent, l.numCells, l.m, l.numCodes, l.dim)
    require(fileSet() == before,
      s"recenter: $dir changed during the re-cluster — writers must be " +
        "quiesced (the staged rebuild would silently drop their appends)")
    val out = fs.create(marker, false)
    try out.write("recentered".getBytes("UTF-8")) finally out.close()
    finishSwap()
  }

  /** FLAT search of the persisted index: probe the frozen centroids,
    * read ONLY the probed cells' raw vectors (partition pruning on the
    * bucketed cells table), exact-cosine re-rank — IVF-Flat, the
    * high-recall path. Output: (qid, rank, cid).
    */
  def searchFlat(spark: SparkSession, dir: String, queries: DataFrame,
                 k: Int, nprobe: Int = 4): DataFrame =
    searchFlatCore(spark, dir, queries, k, nprobe, allowed = None)

  /** The id set a filtered search restricts candidates to. The frame
    * must be EXACTLY one column: silently taking `columns.head` of a
    * wider frame (e.g. (doc_id, lang)) would filter on whichever column
    * happens to be first — fail fast instead.
    */
  private def allowedIds(a: DataFrame): DataFrame = {
    require(a.columns.length == 1,
      "filtered search: `allowed` must be a single-column id frame, " +
        s"got (${a.columns.mkString(", ")}) — project the id column first")
    a.select(col(a.columns.head).cast("long").as("cid")).distinct()
  }

  /** Shared flat-search pipeline: validated cell table, query probes,
    * optional candidate-side id restriction, exact-cosine top-k. The
    * filtered and unfiltered reads MUST stay one code path — the
    * spec-proven "identity filter == searchFlat" equivalence is this
    * delegation, not a coincidence of two copies.
    */
  private def searchFlatCore(spark: SparkSession, dir: String,
                             queries: DataFrame, k: Int, nprobe: Int,
                             allowed: Option[DataFrame]): DataFrame = {
    val (cent, l) = centroidsOf(spark, dir)
    val cells = spark.read.parquet(s"$dir/cells")
    requireTable(cells, "index cell table", l)
    val probes = Similarity.probeCells(
      queries.select(col("vec_id").as("qid"), col("embedding").as("qe")),
      cent.select(col("cell"), col("centroid")), nprobe)
    val cand0 = cells.select(col("cell"),
      col("vec_id").as("cid"), col("embedding").as("ce"))
    // filter the CELL side before the probe join: disallowed vectors
    // never reach the scoring join at all
    val cand = allowed.fold(cand0)(a => cand0.join(
      allowedIds(a), Seq("cid"), "left_semi"))
    Similarity.rankTopK(
      probes.join(cand, Seq("cell"))
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("qe"), col("cid"), col("ce")),
      k)
  }

  /** Metadata-FILTERED flat search — ANN with a predicate, the shape a
    * retrieval deployment actually serves ("nearest English documents",
    * "same-tenant vectors only"): candidates are restricted to
    * `allowed` ids BEFORE any cosine is computed, so the filter prunes
    * the scoring join rather than post-filtering a top-k that could
    * then come up short. Single-column `allowed` frame (the id set the
    * predicate selects — at warehouse scale the result of a metadata
    * scan, joined here rather than collected).
    *
    * Recall note, stated because it is the filtered-ANN trade: probing
    * stays geometric (nprobe nearest cells of the QUERY), so a highly
    * selective filter thins probed cells and the caller should raise
    * `nprobe` accordingly — the standard pre-filter IVF discipline.
    * With `allowed` = the whole corpus this is exactly [[searchFlat]]
    * (spec-proven).
    */
  def searchFlatFiltered(spark: SparkSession, dir: String,
                         queries: DataFrame, allowed: DataFrame,
                         k: Int, nprobe: Int = 4): DataFrame =
    searchFlatCore(spark, dir, queries, k, nprobe, Some(allowed))

  /** ADC search of the persisted index: probe the frozen centroids,
    * score ONLY the probed cells' PQ codes (partition pruning on the
    * bucketed codes table — the scan side is the m-byte compressed
    * form, raw vectors never read) through the broadcast per-query
    * lookup table built from the frozen codebooks. The production
    * IVF-PQ read path. Output: (qid, rank, cid).
    */
  def searchAdc(spark: SparkSession, dir: String, queries: DataFrame,
                k: Int, nprobe: Int = 4): DataFrame = {
    val s = adcSetup(spark, dir, queries, nprobe)
    Similarity.adcRank(s.cands.select(col("qid"), col("cid")),
      s.prunedCodes, s.lut, s.layout.m, k)
  }

  /** Everything the compressed-domain search paths share: validated
    * index tables, query probes, candidate ids (WITH their cell — the
    * partition column the refined re-rank prunes on), DPP-pruned codes,
    * and the broadcast ADC lookup table.
    */
  private final case class AdcSetup(q: DataFrame, cands: DataFrame,
                                    prunedCodes: DataFrame, lut: DataFrame,
                                    cells: DataFrame, layout: Layout)

  private def adcSetup(spark: SparkSession, dir: String, queries: DataFrame,
                       nprobe: Int,
                       allowed: Option[DataFrame] = None): AdcSetup = {
    val (cent, l) = centroidsOf(spark, dir)
    val cw = spark.read.parquet(s"$dir/codebooks")
    requireTable(cw, "index codebook table", l)
    val codes = spark.read.parquet(s"$dir/codes")
    requireTable(codes, "index code table", l)
    val cells = spark.read.parquet(s"$dir/cells")
    requireTable(cells, "index cell table", l)
    val q = queries.select(col("vec_id").as("qid"), col("embedding"))
    val probes = Similarity.probeCells(
      q.select(col("qid"), col("embedding").as("qe")),
      cent.select(col("cell"), col("centroid")), nprobe)
      .select(col("qid"), col("cell"))
    // candidate ids from the bucketed cells table (column pruning keeps
    // the raw vectors unread; the join on the partition column prunes to
    // probed cells) — one row per candidate, vs m rows in codes.
    val cands0 = probes
      .join(cells.select(col("cell"), col("vec_id").as("cid")), Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("cell"))
    // metadata filter applied at CANDIDATE level, before any ADC work:
    // the shortlist is cut over allowed vectors only (pre-filter
    // semantics — a post-filtered shortlist could starve the re-rank)
    val cands = allowed.fold(cands0)(a => cands0.join(
      allowedIds(a), Seq("cid"), "left_semi"))
    // restrict the CODES scan to probed cells the same way (broadcast
    // semi-join on the partition column → dynamic partition pruning):
    // adcRank's join on cid would drop unprobed cells' codes anyway,
    // but only after scanning them — this stops them at the file level.
    val probedCells = probes.select(col("cell")).distinct()
    val prunedCodes = codes
      .join(broadcast(probedCells), Seq("cell"), "left_semi")
      .select(col("vec_id").as("cid"), col("sub"), col("code"))
    val lut = Similarity.adcLut(q,
      cw.select(col("sub"), col("code"), col("codeword")), l.m, l.dim)
    AdcSetup(q, cands, prunedCodes, lut, cells, l)
  }

  /** TWO-STAGE REFINED search — the production read path of a persisted
    * IVF-PQ index: an ADC pass over the DPP-pruned compressed codes
    * shortlists each query's top `shortlist` candidates, then ONLY those
    * rows' raw vectors are re-read from the bucketed cells table
    * (broadcast shortlist joined on (cell, cid) — the partition column
    * keeps the re-read file-pruned, the id narrows it to shortlist rows)
    * for an exact-cosine re-rank to top `k`. IO shape: (probed
    * fraction) × m-byte codes + (queries × shortlist) raw vectors —
    * neither the recall cap of compressed-only [[searchAdc]] nor the
    * probed-cells-worth of raw-vector reads [[searchFlat]] pays.
    * Deterministic at both stages (est desc/cid asc shortlist cut, sim
    * desc/cid asc final cut), so the whole composition is
    * oracle-checkable. Output: (qid, rank, cid).
    */
  def searchRefined(spark: SparkSession, dir: String, queries: DataFrame,
                    k: Int, shortlist: Int = 20, nprobe: Int = 4): DataFrame =
    searchRefinedCore(spark, dir, queries, k, shortlist, nprobe, None)

  /** [[searchRefined]] with a metadata predicate — the filtered form of
    * the production compressed read path: the allowed-id set restricts
    * the candidate list BEFORE the ADC estimate, so the shortlist is
    * cut over allowed vectors only and the exact re-rank never reads a
    * disallowed raw vector. Same pre-filter semantics (top-k among
    * allowed) and the same recall/nprobe trade as
    * [[searchFlatFiltered]]; with `allowed` = the whole corpus this is
    * exactly [[searchRefined]] (one code path, spec-proven).
    */
  def searchRefinedFiltered(spark: SparkSession, dir: String,
                            queries: DataFrame, allowed: DataFrame,
                            k: Int, shortlist: Int = 20,
                            nprobe: Int = 4): DataFrame =
    searchRefinedCore(spark, dir, queries, k, shortlist, nprobe, Some(allowed))

  private def searchRefinedCore(spark: SparkSession, dir: String,
                                queries: DataFrame, k: Int, shortlist: Int,
                                nprobe: Int,
                                allowed: Option[DataFrame]): DataFrame = {
    require(shortlist >= k,
      s"searchRefined: shortlist ($shortlist) must be >= k ($k) — " +
        "the re-rank can only return rows the ADC stage shortlisted")
    val s = adcSetup(spark, dir, queries, nprobe, allowed)
    val short = Similarity.adcRank(s.cands, s.prunedCodes, s.lut,
      s.layout.m, shortlist) // (qid, rank, cid, cell)
    val reread = broadcast(short.select(col("qid"), col("cid"), col("cell")))
      .join(s.cells.select(col("cell"), col("vec_id").as("cid"),
        col("embedding").as("ce")), Seq("cell", "cid"))
    Similarity.rankTopK(
      reread.join(broadcast(s.q.select(col("qid"), col("embedding").as("qe"))),
          Seq("qid"))
        .select(col("qid"), col("qe"), col("cid"), col("ce")),
      k)
  }
}
