package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Stage

/** Deduplication operators for a training-data pipeline: exact,
  * n-gram-Jaccard near-dup, MinHash+LSH, SimHash.
  *
  * Scale design (100 TB):
  *  - Exact dedup is a hash-groupBy on a 128-bit content hash — one
  *    shuffle on a uniformly distributed key, no skew.
  *  - Naive pairwise Jaccard is O(n²); it exists here as the
  *    verification step only. The scale path is MinHash+LSH: shingle →
  *    k min-hashes → band keys → self-join on band buckets, which
  *    shuffles only (doc, band-key) pairs and compares only same-bucket
  *    candidates. Band width trades recall for bucket size; skewed
  *    buckets (boilerplate shingles) are bounded because signatures, not
  *    raw shingles, are joined.
  *  - All hash functions are md5-derived and engine-portable (the DuckDB
  *    oracle computes the identical pipeline), which also makes
  *    signatures stable across re-runs and clusters — a requirement for
  *    incremental dedup against an existing corpus.
  *
  * Materialization note: every near-dup pipeline that reuses a
  * corpus-scale intermediate (the shingle / positional-shingle table,
  * reused 3-4× inside one job) stages it with [[graft.Stage.parquet]]:
  * distributed storage, recomputable on executor loss, zero executor
  * block memory, deleted when the operator returns or throws.
  * Batch-bounded intermediates (a batch's band or signature table,
  * label snapshots) are cached in a [[graft.Stage.scoped]] scope and
  * released the same way. Small RESULTS (pair lists, span tables) are
  * eagerly materialized with a lineage-truncating local checkpoint;
  * that checkpoint is NOT resilient to executor loss, which is the
  * priced trade for a driver-consumed, result-sized frame only —
  * anything corpus-sized is staged parquet (see PLANS.md
  * "localCheckpoint resilience" table). The rewrites' corpus-sized
  * output is a parquet table too, kept for the returned frame until
  * JVM exit.
  */
object Dedup {

  /** Tokens of the document text (single-space-delimited corpora). */
  private val toks = split(col("text"), " ")

  /** (doc_id, shingle) pairs, distinct per document.
    *
    * Implemented as a typed flatMap rather than Catalyst higher-order
    * functions: array lambdas (`transform`/`aggregate`) are interpreted,
    * not codegen'd, and per-element InternalRow overhead made them ~7×
    * slower than this plain JVM sliding window (measured at sf0.1).
    * Documents shorter than w tokens produce no shingles.
    */
  def shingles(docs: DataFrame, w: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        // limit -1 keeps trailing empty tokens — the semantics of Spark's
        // split() and DuckDB's string_split (Scala's char-split drops
        // them, which would diverge from the oracle on trailing spaces).
        val t = text.split(" ", -1)
        if (t.length < w) Iterator.empty
        else t.sliding(w).map(s => (id, s.mkString(" "))).toSet.iterator
      }
      .toDF("doc_id", "sh")
  }

  /** Exact dedup: group by content hash; keeper = min doc_id. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))

  /** Incremental exact dedup — the batch-over-batch form every growing
    * corpus needs: keep only `incoming` documents whose content hash is
    * absent from the accumulated corpus AND deduplicate within the batch
    * (first doc_id wins). One anti-join against the (small, hash-only)
    * seen-set plus one window — the seen-set is what a warehouse persists
    * between batches, never the documents themselves. Portable md5
    * hashing makes the seen-set stable across engines and re-runs.
    */
  def incrementalExact(incoming: DataFrame, seenHashes: DataFrame): DataFrame = {
    val hashed = incoming.withColumn("content_hash", md5(col("text")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("content_hash")).orderBy(col("doc_id").asc)
    hashed
      .join(seenHashes.select(col("content_hash")).dropDuplicates("content_hash"),
        Seq("content_hash"), "left_anti")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Portable 32-bit hash: first 8 hex chars of md5, as a long.
    * Engine-portable (DuckDB: CAST('0x' || substr(md5(s),1,8) AS BIGINT)).
    * Computed by the native codegen'd [[graft.functions.Md5First32]]
    * (first 4 digest bytes, unsigned) — bit-identical to the
    * conv(substring(md5, 1, 8), 16, 10) form, without the hex-string
    * materialization and base-16 parse per row (round 17).
    */
  def hash32(c: Column): Column = graft.functions.KeyColumns.md5_first32(c)

  /** Exact pairwise n-gram Jaccard with LOSSLESS prefix filtering.
    *
    * A naive inverted-index self-join explodes quadratically on frequent
    * shingles (Σ f² pair rows). Prefix filtering (standard in set-
    * similarity joins) fixes it: order each document's shingles by a
    * global canonical order (frequency asc, shingle asc — rarest first);
    * two sets with Jaccard ≥ t MUST share a shingle within their first
    * n − ⌊t·n⌋ + 1 shingles, so only those prefix rows are joined. The
    * candidate set then gets exact verification. Results are identical to
    * the exhaustive join; only the join volume shrinks (at 100 TB this is
    * the difference between a runnable job and an Σf² blow-up).
    */
  def ngramJaccard(docs: DataFrame, w: Int = 3,
                   threshold: Double = 0.8): DataFrame =
    // the staged shingle table is read back by ranking, sizing and
    // verification; the pair result is tiny, and eager materialization
    // truncates lineage before the staged files go
    Stage.parquet("graft-ngram-stage-", shingles(docs, w)) { (tri, _) =>
      ngramJaccardOn(tri, threshold).localCheckpoint(eager = true)
    }

  /** Exact-Jaccard pair detection over an ALREADY-MATERIALIZED shingle
    * table — the composite-pipeline form (round 15): a query that runs
    * several detection legs over one corpus stages `shingles(docs, w)`
    * to parquet ONCE and hands the read-back frame to every leg, so the
    * corpus is shingled once per query instead of once per leg and
    * nothing corpus-sized lands in executor block memory. `tri` must be
    * a staged read-back (or otherwise cheaply-rescannable) shingle
    * frame — passing a raw `shingles(docs, w)` lineage here re-runs the
    * tokenize+explode per consumer, the exact recompute staging exists
    * to avoid. Result is the bounded pair list, eagerly materialized
    * like [[ngramJaccard]]'s.
    */
  def ngramJaccardOnShingles(tri: DataFrame, threshold: Double): DataFrame =
    ngramJaccardOn(tri, threshold).localCheckpoint(eager = true)

  private def ngramJaccardOn(tri: DataFrame, threshold: Double): DataFrame = {
    val freq = tri.groupBy(col("sh")).agg(count(lit(1)).as("f"))
    val sizes = tri.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("f").asc, col("sh").asc)
    val prefix = tri.join(freq, "sh")
      .withColumn("rn", row_number().over(w1))
      .join(sizes, "doc_id")
      .filter(col("rn") <= col("n") - floor(lit(threshold) * col("n")) + 1)
      .select(col("doc_id"), col("sh"))
    // No broadcast hints here: prefix/cands/sizes all grow with the
    // corpus, so static hints would OOM a 100 TB run — AQE converts these
    // joins to broadcast at runtime whenever the actual size allows.
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    verifyJaccard(tri, sizes, cands, threshold)
  }

  /** Exact-Jaccard verification of candidate pairs against the full
    * shingle sets — shared by the prefix-filter and MinHash-LSH paths.
    */
  private def verifyJaccard(tri: DataFrame, sizes: DataFrame,
                            cands: DataFrame, threshold: Double): DataFrame = {
    // cands/sizes scale with the corpus — no static broadcast hints; AQE
    // picks broadcast at runtime when the actual sizes are small.
    val common = tri.select(col("doc_id").as("d1"), col("sh"))
      .join(cands, "d1")
      .join(tri.select(col("doc_id").as("d2"), col("sh")), Seq("d2", "sh"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n1") + col("n2") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** MinHash+LSH near-dup detection — the scale path.
    *
    * @param numHashes signature length (k independent 32-bit min-hashes)
    * @param bandWidth rows per band; numHashes/bandWidth bands
    * @param threshold final exact-Jaccard verification threshold
    * @param maxBucketSize skew guard: band buckets with MORE members are
    *        excluded from candidate generation entirely. A hot bucket
    *        (boilerplate headers/footers minhashing identically) grows
    *        candidates quadratically IN THAT BUCKET — at corpus scale one
    *        boilerplate key can emit more pairs than the rest of the
    *        join combined and stall its reducer. Capping bounds the
    *        per-bucket fanout at cap²; the members are still candidates
    *        through their OTHER (informative) bands, so recall loss is
    *        confined to pairs whose every collision is boilerplate —
    *        the documented trade every production near-dup pipeline
    *        makes. Default = no cap (exact LSH semantics).
    */
  def minhashLsh(docs: DataFrame, w: Int = 3, numHashes: Int = 8,
                 bandWidth: Int = 2, threshold: Double = 0.5,
                 maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(numHashes % bandWidth == 0, "bands must tile the signature")
    require(numHashes <= 8, "8 32-bit hashes per two md5 digests")
    require(maxBucketSize >= 2, "a cap below 2 suppresses every pair")
    // the ngramJaccard staging discipline: banding, sizing and
    // verification read the staged shingle table back
    Stage.parquet("graft-lsh-stage-", shingles(docs, w)) { (tri, _) =>
      minhashLshOn(tri, numHashes, bandWidth, threshold, maxBucketSize)
        .localCheckpoint(eager = true)
    }
  }

  /** Drop band-bucket memberships whose bucket exceeds `cap` members —
    * the pre-join filter that bounds LSH candidate fanout under skew.
    * One partial-agg count on the same (band, bkey) key the candidate
    * join shuffles on, then a semi-join; no corpus-sized state.
    */
  private def capBuckets(bands: DataFrame, cap: Int): DataFrame =
    if (cap == Int.MaxValue) bands
    else bands.join(
      bands.groupBy(col("band"), col("bkey"))
        .agg(count(lit(1)).as("_bsz"))
        .filter(col("_bsz") <= cap)
        .select(col("band"), col("bkey")),
      Seq("band", "bkey"), "left_semi")

  /** Split a partner table into (phase-1, overflow): the `cap` SMALLEST
    * partner_ids of each (band, bkey) bucket vs the rest — the verified-
    * admission phasing (see incrementalNearDupVerified's `maxPartners`
    * doc for why admission phases PARTNERS where pair listing excludes
    * BUCKETS). Buckets at or under the cap pass through phase 1 whole
    * with NO sort; only the (rare, skewed) overflowing buckets pay the
    * row_number window, and a hot bucket is a single-partition sort —
    * O(k log k), not k².
    */
  private def splitPartners(partners: DataFrame,
                            cap: Int): (DataFrame, DataFrame) = {
    val hot = partners.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz") > cap)
      .select(col("band"), col("bkey"))
    val cold = partners.join(hot, Seq("band", "bkey"), "left_anti")
    val byBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bkey")).orderBy(col("partner_id"))
    val ranked = partners.join(hot, Seq("band", "bkey"), "left_semi")
      .withColumn("_rn", row_number().over(byBucket))
    (cold.unionByName(ranked.filter(col("_rn") <= cap).drop("_rn")),
      ranked.filter(col("_rn") > cap).drop("_rn"))
  }

  /** MinHash band table of a document set: one row per (doc, band) with
    * the band's bucket key — the compact, md5-portable state a warehouse
    * PERSISTS between batches for incremental near-dup admission (bands
    * are O(docs × nBands), never the shingles). The layout parameters
    * ride IN the table as constant columns (they RLE-compress to nothing
    * in parquet), so admission against state built in a previous run can
    * verify it was built with the same (w, numHashes, bandWidth) — see
    * [[incrementalNearDup]].
    */
  def bandTable(docs: DataFrame, w: Int = 3, numHashes: Int = 8,
                bandWidth: Int = 2): DataFrame = {
    require(numHashes % bandWidth == 0, "bands must tile the signature")
    require(numHashes <= 8, "8 32-bit hashes per two md5 digests")
    bandsOf(shingles(docs, w), numHashes, bandWidth)
      .withColumn("w", lit(w))
      .withColumn("num_hashes", lit(numHashes))
      .withColumn("band_width", lit(bandWidth))
  }

  /** MinHash signature table (doc_id, mh0..mh{k-1}) — the companion
    * state to [[bandTable]] a warehouse persists when it wants VERIFIED
    * incremental admission ([[incrementalNearDupVerified]]): bands find
    * candidate collisions, signatures estimate Jaccard before rejecting.
    * O(docs) rows of k longs; layout params ride along as in bandTable.
    */
  def signatureTable(docs: DataFrame, w: Int = 3, numHashes: Int = 8): DataFrame =
    signatureTableFromShingles(shingles(docs, w), w, numHashes)

  /** [[signatureTable]] over an already-materialized shingle table —
    * the composite-pipeline form ([[ngramJaccardOnShingles]]'s staging
    * contract): one staged shingle scan feeds signatures, exact pairs
    * and any number of band layouts. `w` is stamped into the metadata
    * columns (the shingle frame cannot carry it), so the caller must
    * pass the width the shingles were built with — downstream layout
    * validation rides on it.
    */
  def signatureTableFromShingles(tri: DataFrame, w: Int,
                                 numHashes: Int = 8): DataFrame = {
    require(numHashes <= 8, "8 32-bit hashes per two md5 digests")
    minhashesOf(tri, numHashes)
      .withColumn("w", lit(w))
      .withColumn("num_hashes", lit(numHashes))
  }

  /** Band table DERIVED from a signature table — the cheap projection a
    * warehouse runs when it persists signatures and wants bands too
    * (never re-shingle: bands are a pure function of the signature).
    * Layout is read from the signature table's own metadata columns;
    * numHashes is cross-checked against the mh columns present.
    */
  def bandTableFromSignatures(sigs: DataFrame, bandWidth: Int): DataFrame = {
    val mhCols = sigs.columns.filter(_.matches("mh\\d+"))
    val numHashes = mhCols.length
    require(numHashes > 0, "not a signature table: no mh<k> columns")
    require((0 until numHashes).forall(i => mhCols.contains(s"mh$i")),
      s"signature table's mh columns ${mhCols.sorted.mkString("(", ", ", ")")} " +
        s"do not span mh0..mh${numHashes - 1} — a projected/renamed table " +
        "would band the wrong hash slots")
    require(numHashes % bandWidth == 0, "bands must tile the signature")
    val meta = Seq("w", "num_hashes")
    require(meta.forall(sigs.columns.contains),
      "signature table lacks layout columns — build it with Dedup.signatureTable")
    // a projected sig table with STALE num_hashes metadata would
    // otherwise yield bands built from a different hash count than the
    // layout columns claim
    Stamp.require(sigs, s"signature table with $numHashes mh columns",
      Seq("num_hashes" -> numHashes))
    bandsFromSigs(sigs, numHashes, bandWidth)
      .crossJoin(broadcast(sigs.select(col("w"), col("num_hashes")).limit(1)))
      .withColumn("band_width", lit(bandWidth))
  }

  /** k min-hashes of a shingle table in ONE aggregation pass (partial
    * min per partition). TWO md5 digests per shingle yield eight 32-bit
    * hash functions (chunked substrings) — 4× fewer digest computations
    * than one md5 per hash function, with the same independence for
    * min-hashing. The chunks come from the native codegen'd
    * [[graft.functions.Md5MinhashChunks]] (round 17): bit-identical to
    * the conv(substring(concat(md5, md5), 8k+1, 8), 16, 10) family,
    * without the 64-char hex concat and eight substring+conv parses
    * per shingle.
    */
  private def minhashesOf(tri: DataFrame, numHashes: Int): DataFrame = {
    val hashed = tri.select(col("doc_id"),
      graft.functions.KeyColumns.md5_minhash_chunks(col("sh")).as("ch"))
    hashed.groupBy(col("doc_id"))
      .agg(min(element_at(col("ch"), 1)).as("mh0"),
        (1 until numHashes).map(s =>
          min(element_at(col("ch"), s + 1)).as(s"mh$s")): _*)
  }

  /** Band keys from a signature frame: concatenate bandWidth consecutive
    * signature rows per band.
    */
  private def bandsFromSigs(minhashes: DataFrame, numHashes: Int,
                            bandWidth: Int): DataFrame = {
    val nBands = numHashes / bandWidth
    val bandStructs = (0 until nBands).map { b =>
      val cols = (0 until bandWidth).map(r => col(s"mh${b * bandWidth + r}"))
      struct(lit(b).as("band"), concat_ws(",", cols: _*).as("bkey"))
    }
    minhashes.select(col("doc_id"),
      explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  private def bandsOf(tri: DataFrame, numHashes: Int,
                      bandWidth: Int): DataFrame =
    bandsFromSigs(minhashesOf(tri, numHashes), numHashes, bandWidth)

  /** The WRITE half of the incremental-admission lifecycle: extend a
    * persisted band table with the bands of newly ADMITTED documents, so
    * the next batch is deduplicated against them too (admission without
    * state append silently stops deduplicating against everything after
    * the initial corpus). Validates the existing state's layout columns
    * against the append's parameters first — appending bands built with
    * a different (w, numHashes, bandWidth) would poison every later
    * admission. A plain parquet append: one new file set, no rewrite of
    * existing state (the retention pass, [[graft.operators.ScaleOps
    * .retainRows]], is where state files get compacted).
    */
  def appendBandState(spark: org.apache.spark.sql.SparkSession,
                      stateDir: String, admitted: DataFrame, w: Int = 3,
                      numHashes: Int = 8, bandWidth: Int = 2): Unit = {
    val h = openBandState(spark, stateDir, w, numHashes, bandWidth)
    val bands = bandTable(admitted, w, numHashes, bandWidth)
    // append IN THE STATE'S OWN LAYOUT: mixing layouts in one directory
    // would break partition discovery for every later reader
    if (h.state.columns.contains("state_prefixes"))
      writeBandState(bands, stateDir, "append",
        h.stamp.fold(defaultStatePrefixes)(Stamp.int(_, "state_prefixes")))
    else bands.write.mode("append").parquet(stateDir)
  }

  /** Default band-state partition fan-out: nBands × this many bucket-key
    * prefixes. Sized so a micro-batch's probe set underfills the cell
    * space (pruning bites) without fragmenting the state into tiny
    * files — the same trade [[VectorIndex]] makes with IVF cells.
    */
  val defaultStatePrefixes = 16

  private def bpfxOf(prefixes: Int): Column =
    pmod(hash(col("bkey")), lit(prefixes))

  /** Write a band table as PARTITIONED state: directory layout
    * `band=<b>/bpfx=<hash(bkey) mod P>/`, with the fan-out P stamped in
    * the rows (`state_prefixes`) so readers prune with the same modulus
    * the writer used — a mismatched modulus would prune away colliding
    * rows, the silent-admission failure mode the band state's layout
    * stamp ([[Stamp]]) guards the hash layout against.
    */
  def writeBandState(bands: DataFrame, stateDir: String,
                     mode: String = "append",
                     prefixes: Int = defaultStatePrefixes): Unit = {
    require(prefixes >= 1, "state needs at least one bucket-key prefix")
    bands.withColumn("state_prefixes", lit(prefixes))
      .withColumn("bpfx", bpfxOf(prefixes))
      // cluster rows by their partition cell before the partitioned
      // write: without this every task touches every cell directory and
      // one append emits up to tasks × cells files (measured 1.6× on the
      // streaming admission bench); with it, one file per non-empty cell.
      .repartition(col("band"), col("bpfx"))
      .write.partitionBy("band", "bpfx").mode(mode).parquet(stateDir)
  }

  /** Pre-resolved handle on persisted band state: the relation plus
    * its stamp — the layout and the prefix fan-out, read together.
    * Band state is IMMUTABLE for a reader's lifetime (writers append
    * new files; a frozen gate never sees them), so a long-lived
    * consumer — a streaming pipeline probing per micro-batch —
    * resolves the directory listing and the stamp ONCE here instead of
    * per batch for values that cannot change (round 16: the per-batch
    * re-resolution was the dominant fixed cost in the streamed-admission
    * restart bench).
    */
  final case class BandStateHandle private[ext] (
      state: DataFrame, stamp: Option[scala.collection.immutable.ListMap[String, Any]]) {

    /** The stamped prefix fan-out; None for flat legacy layouts and
      * empty states — nothing to prune.
      */
    def prefixes: Option[Int] =
      if (!state.columns.contains("bpfx")) None
      else stamp.filter(_.contains("state_prefixes"))
        .map(Stamp.int(_, "state_prefixes"))
  }

  /** The band state's stamp: the layout its bucket keys were built
    * under. Mismatched (w, numHashes, bandWidth) produce bucket keys
    * that can never collide, so every incoming document would be
    * silently admitted — the worst failure mode a dedup gate has.
    */
  private[graft] def bandLayout(w: Int, numHashes: Int,
                                bandWidth: Int): Seq[(String, Int)] =
    Seq("w" -> w, "num_hashes" -> numHashes, "band_width" -> bandWidth)

  /** Dedup state must carry its layout columns: a frame without them
    * (hand-built, pre-upgrade) cannot be checked, and silent admission
    * is never an acceptable default.
    */
  private[graft] def requireLayoutCols(state: DataFrame, what: String,
                                       layout: Seq[(String, Int)]): Unit =
    require(layout.forall { case (c, _) => state.columns.contains(c) },
      s"$what lacks layout columns ${layout.map(_._1).mkString("(", ", ", ")")} — " +
        s"rebuild it with Dedup.${if (what.contains("band")) "bandTable" else "signatureTable"}")

  /** Open persisted band state for a reader computing under the given
    * layout: ONE probe reads the layout stamp and the prefix fan-out
    * together, and a state stamped with a different layout refuses
    * loudly (an empty state validates trivially — admitting everything
    * against an empty corpus is correct).
    */
  def openBandState(spark: org.apache.spark.sql.SparkSession,
                    stateDir: String, w: Int, numHashes: Int,
                    bandWidth: Int): BandStateHandle = {
    val st = spark.read.parquet(stateDir)
    val layout = bandLayout(w, numHashes, bandWidth)
    val what = s"band state $stateDir"
    requireLayoutCols(st, what, layout)
    val stamp = Stamp.read(st, layout.map(_._1) :+ "state_prefixes")
    Stamp.require(stamp, what, layout)
    BandStateHandle(st, stamp)
  }

  /** Read persisted band state restricted to the cells `probe` (a band
    * table) can collide with. Partitioned layouts prune at the file
    * index via an `isin` over the partition columns — the probe's
    * distinct cell list is collected driver-side, bounded by
    * nBands × state_prefixes (the probe is cached by every caller, so
    * the collect reuses, not recomputes, the shingle work). Flat legacy
    * layouts return the full state — same semantics, no pruning. Only
    * the probe's cell collect runs per call; listing and the stamp were
    * read once at open — the per-micro-batch form.
    */
  def readBandState(handle: BandStateHandle, probe: DataFrame): DataFrame =
    handle.prefixes match {
      case None => handle.state // flat or empty: full state, same semantics
      case Some(p) =>
        val cells = probe
          .select((col("band") * p + bpfxOf(p)).cast("int").as("_cell"))
          .distinct().collect().map(_.getInt(0)).toSeq
        handle.state
          .filter((col("band") * p + col("bpfx")).cast("int").isin(cells: _*))
    }

  /** Incremental near-dup admission — the batch-over-batch form of
    * [[minhashLsh]]: an incoming document is REJECTED when any of its
    * band buckets collides with (a) the accumulated corpus's persisted
    * band table ([[bandTable]] is the state — compact and md5-stable
    * across engines and re-runs) or (b) a SMALLER-id document of its own
    * batch — without the within-batch pass, a pair of near-identical
    * incoming docs that match nothing seen would both be admitted
    * (the sibling [[incrementalExact]] makes the same two checks).
    * Rejecting against a doc that itself lost to a seen collision is
    * correct: its content is already represented in the corpus.
    * Admission is deliberately candidate-level (LSH collision, no exact
    * verification) — the aggressive-dedup trade every streaming-admission
    * pipeline makes, since verifying would need the seen corpus's
    * shingles, not its bands.
    */
  def incrementalNearDup(incoming: DataFrame, seenBands: DataFrame,
                         w: Int = 3, numHashes: Int = 8,
                         bandWidth: Int = 2): DataFrame = {
    val layout = bandLayout(w, numHashes, bandWidth)
    requireLayoutCols(seenBands, "seen band table", layout)
    Stamp.require(seenBands, "seen band table", layout)
    Stage.scoped(st => admitCore(incoming,
      st.cache(bandTable(incoming, w, numHashes, bandWidth)), seenBands))
  }

  /** The admission decision given precomputed incoming bands: reject on
    * any bucket collision with the seen state or with a smaller-id
    * sibling of the batch. `bands` is consumed three times, so the
    * caller caches it in a [[graft.Stage.scoped]] scope that outlives
    * this call (the result is eagerly materialized).
    */
  private def admitCore(incoming: DataFrame, bands: DataFrame,
                        seenBands: DataFrame): DataFrame = {
    val seenHit = bands
      .join(seenBands.select(col("band"), col("bkey")).dropDuplicates("band", "bkey"),
        Seq("band", "bkey"), "left_semi")
      .select(col("doc_id"))
    // "collides with a smaller-id sibling of its own batch" is exactly
    // `doc_id > min(doc_id)` within the bucket — a partial-agg groupBy
    // plus a 1:1 lookup join, O(n) in batch band rows. The former
    // pairwise bucket self-join enumerated all (smaller, larger) pairs
    // and went quadratic on a boilerplate-heavy increment (one hot
    // bucket of k near-identical docs → k²/2 pairs); the min-based
    // form reduces the same hot bucket to one aggregated row.
    val batchHit = bands
      .join(bands.groupBy(col("band"), col("bkey"))
          .agg(min(col("doc_id")).as("_min_id")),
        Seq("band", "bkey"))
      .filter(col("doc_id") > col("_min_id"))
      .select(col("doc_id"))
    val rejected = seenHit.unionAll(batchHit).distinct()
    incoming.join(rejected, Seq("doc_id"), "left_anti")
      .localCheckpoint(eager = true)
  }

  /** Admission against a PERSISTED, partition-pruned band state: the
    * state-directory form of [[incrementalNearDup]]. When the state was
    * written by [[writeBandState]] (partitioned by `band`/`bpfx`), the
    * read is pruned to the cells the incoming batch actually probes —
    * ≤ nBands × statePrefixes cells, typically far fewer for a
    * micro-batch — so each admission scans O(batch-cell) state files
    * instead of the whole accumulated corpus state (the
    * [[VectorIndex]] nprobe-pruning discipline applied to dedup state).
    * Pruning is exact, not approximate: a state row in a cell the batch
    * never probes shares no (band, bkey) with the batch by construction
    * and so could never collide. Legacy flat-layout states fall back to
    * a full read with identical semantics.
    *
    * @param excludeIds replay-safety subtraction for at-least-once
    *        callers (see [[graft.streaming.Streams.nearDedupPipeline]]):
    *        state rows with these doc_ids are ignored. A replayed doc's
    *        own persisted bands hash into exactly the cells it probes,
    *        so the subtraction composes correctly with pruning.
    */
  def incrementalNearDupFromState(spark: org.apache.spark.sql.SparkSession,
                                  incoming: DataFrame, stateDir: String,
                                  w: Int = 3, numHashes: Int = 8,
                                  bandWidth: Int = 2,
                                  excludeIds: Option[DataFrame] = None): DataFrame = {
    val h = openBandState(spark, stateDir, w, numHashes, bandWidth)
    Stage.scoped { st =>
      val bands = st.cache(bandTable(incoming, w, numHashes, bandWidth))
      val seen0 = readBandState(h, bands)
      val seen = excludeIds.fold(seen0)(ids =>
        seen0.join(ids.select(col("doc_id")), Seq("doc_id"), "left_anti"))
      admitCore(incoming, bands, seen)
    }
  }

  /** The per-micro-batch admission TRANSACTION for foreachBatch
    * pipelines: admit against the persisted band state, then append the
    * admitted docs' new bands to it (insert-if-absent), with every
    * shared intermediate computed ONCE — the batch's band table is
    * persisted and reused (admission probe, pruned-read cell list,
    * admitted-band derivation by semi-join: admitted docs are never
    * re-shingled), the state is probed with a SINGLE driver row (layout
    * check + partition fan-out together), and the pruned state frame
    * serves both the collision check and the delta anti-join. Correct
    * because admitted ⊆ batch: an admitted doc's existing state rows
    * (from a crashed earlier append) live in exactly the cells the
    * batch probes. Versus composing the public operators, this saves
    * three driver jobs and a shingle pass per batch — measured 1.6× on
    * the streaming-admission bench before consolidation.
    *
    * Missing state dir → partitioned state is CREATED (default
    * fan-out); legacy flat state → flat append (layout-matched). The
    * state append happens BEFORE this returns, the sink write is the
    * caller's — the replay-safe order nearDedupPipeline documents.
    * Returns the admitted rows, eagerly materialized.
    *
    * `admittedTs` stamps the appended band rows with the batch's EVENT
    * time (never wall clock — replays must restamp identically), which
    * is what the age/TTL retention leg
    * ([[graft.operators.ScaleOps.expireRowsOlderThan]],
    * [[compactNearDupState]]'s `expireBefore`) ages against. Stamping
    * is all-or-nothing per state dir: mixing stamped and unstamped
    * appends would leave files with diverging schemas (a plain read
    * then resolves an arbitrary file's schema and the stamp silently
    * disappears for some rows), so a stamped append to unstamped state
    * — or the reverse — refuses loudly.
    */
  def admitAndMaintainState(spark: org.apache.spark.sql.SparkSession,
                            batch: DataFrame, stateDir: String, w: Int = 3,
                            numHashes: Int = 8, bandWidth: Int = 2,
                            excludeIds: Option[DataFrame] = None,
                            admittedTs: Option[Long] = None): DataFrame = {
    Stage.scoped { st =>
      val bands = st.cache(bandTable(batch, w, numHashes, bandWidth))
      val stateExists =
        java.nio.file.Files.exists(java.nio.file.Paths.get(stateDir))
      val h =
        if (stateExists) openBandState(spark, stateDir, w, numHashes, bandWidth)
        else BandStateHandle(bandTable(batch.limit(0), w, numHashes, bandWidth), None)
      val seen0 = st.cache(readBandState(h, bands))
      val seen = excludeIds.fold(seen0)(ids =>
        seen0.join(ids.select(col("doc_id")), Seq("doc_id"), "left_anti"))
      val admitted = admitCore(batch, bands, seen)
      // all-or-nothing stamping per state dir (see scaladoc)
      if (stateExists) {
        val stateStamped = h.state.columns.contains("admitted_ts")
        require(stateStamped == admittedTs.isDefined,
          if (stateStamped)
            s"state $stateDir is admitted_ts-stamped but this append " +
              "carries no stamp — pass the batch's event time, or the " +
              "appended rows silently fall out of every age expiry"
          else
            s"state $stateDir is unstamped but this append carries a " +
              "stamp — mixed schemas would drop the stamp on read; " +
              "rebuild the state stamped, or append unstamped")
      }
      val delta0 = bands
        .join(admitted.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .join(seen0.select(col("doc_id"), col("band")),
          Seq("doc_id", "band"), "left_anti")
      val delta = admittedTs.fold(delta0)(ts =>
        delta0.withColumn("admitted_ts", lit(ts)))
      if (!stateExists) writeBandState(delta, stateDir, "append")
      else h.prefixes match {
        case Some(p) => writeBandState(delta, stateDir, "append", p)
        case None    => delta.write.mode("append").parquet(stateDir)
      }
      admitted
    }
  }

  /** GLOBAL near-dup compaction — the batch complement of streaming
    * admission (the reference's full-refresh MV discipline,
    * gold_ddl.sql:201-244, applied to dedup state): periodically
    * re-cluster the ACCUMULATED band state and keep one representative
    * per content cluster.
    *
    * Clustering is candidate-level (bucket collision ⇒ same cluster —
    * the admission semantics): within each band bucket every member is
    * connected to the bucket's MIN member. The star is connectivity-
    * equivalent to the within-bucket clique (all members reach each
    * other through the min) at O(members) edges per bucket instead of
    * O(members²) — the same skew discipline as admission's min-based
    * within-batch leg; a boilerplate bucket of k docs contributes k-1
    * edges, never k²/2. Components come from [[clusterPairs]]
    * (distributed label propagation), the representative from
    * [[keepBestPerCluster]]; docs with no bands (too short to shingle)
    * are their own singletons and always kept.
    *
    * The band state is REWRITTEN to the representatives' bands by
    * semi-join (never re-shingled) through a stage-then-promote swap:
    * write the compacted state to `<dir>.compacting`, move the old
    * state aside, move the staging in, drop the old — a crash leaves
    * either the old or the new complete state, never a mix. (On an
    * object store without atomic rename, adapt with
    * [[graft.operators.ScaleOps.PointerSwap]].) The rewrite always
    * emits the PARTITIONED layout, so compacting a legacy flat state
    * also migrates it. Returns the keeper table
    * (cluster_id, keeper, keeper_quality, n_members) over ALL docs.
    *
    * Compaction is lossy by design for chain-connected content: a
    * dropped doc re-admitted later collides only if it shares a bucket
    * with a RETAINED representative, not with other dropped members of
    * its cluster — the trade every keep-one-representative policy makes.
    *
    * `expireBefore` adds the WATERMARK retention leg (the reference's
    * loaded-flag lifecycle, aged): state rows stamped `admitted_ts` <
    * watermark leave the state in the same rewrite, and documents whose
    * EVERY state row expired leave the keeper set too — the compacted
    * state is exactly what a fresh build over the surviving corpus would
    * produce (the `dedup_state_expire` oracle's contract). Requires
    * stamped state (append band tables with an `admitted_ts` event-time
    * column); refuses unstamped state rather than silently keeping — or
    * dropping — unaged rows.
    */
  def compactNearDupState(spark: org.apache.spark.sql.SparkSession,
                          stateDir: String, docs: DataFrame,
                          qualityCol: String = "n_chars", w: Int = 3,
                          numHashes: Int = 8, bandWidth: Int = 2,
                          expireBefore: Option[Long] = None): DataFrame = {
    val h = openBandState(spark, stateDir, w, numHashes, bandWidth)
    val state0 = h.state
    val state = expireBefore.fold(state0) { wm =>
      require(state0.columns.contains("admitted_ts"),
        s"age expiry: band state $stateDir carries no admitted_ts stamp — " +
          "append stamped band tables, or compact without expireBefore")
      state0.filter(col("admitted_ts") >= lit(wm))
    }
    val docs0 = expireBefore.fold(docs) { _ =>
      // fully-expired docs (no surviving state row) leave the keeper set:
      // keeping them would emit keepers with no bands — ghosts that stop
      // rejecting the content they represent
      val gone = state0.select(col("doc_id")).distinct()
        .join(state.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      docs.join(gone, Seq("doc_id"), "left_anti")
    }
    val bands = state.select(col("doc_id"), col("band"), col("bkey"))
    val bmin = bands.groupBy(col("band"), col("bkey"))
      .agg(min(col("doc_id")).as("root"))
    val edges = bands.join(bmin, Seq("band", "bkey"))
      .filter(col("doc_id") =!= col("root"))
      .select(col("root").as("d1"), col("doc_id").as("d2")).distinct()
    val cl = clusterPairs(edges)
    val allc = docs0.select(col("doc_id"))
      .join(cl, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val kept = keepBestPerCluster(allc,
        docs0.select(col("doc_id"), col(qualityCol)), qualityCol)
      .localCheckpoint(eager = true) // consumed by the rewrite AND returned
    val keptCols = Seq("doc_id", "band", "bkey",
        "w", "num_hashes", "band_width") ++
      (if (state.columns.contains("admitted_ts")) Seq("admitted_ts") else Nil)
    val keptBands = state
      .select(keptCols.map(col): _*)
      .join(kept.select(col("keeper").as("doc_id")), Seq("doc_id"), "left_semi")
    val p = h.stamp.filter(_.contains("state_prefixes"))
      .fold(defaultStatePrefixes)(Stamp.int(_, "state_prefixes"))
    val staging = stateDir + ".compacting"
    // overwrite: a staging dir orphaned by a crashed previous compaction
    // is replaced, never merged into
    writeBandState(keptBands, staging, "overwrite", p)
    val dirP = java.nio.file.Paths.get(stateDir)
    val oldP = java.nio.file.Paths.get(stateDir + ".old")
    graft.plans.Pipeline.deleteRecursively(oldP)
    java.nio.file.Files.move(dirP, oldP)
    java.nio.file.Files.move(java.nio.file.Paths.get(staging), dirP)
    graft.plans.Pipeline.deleteRecursively(oldP)
    kept
  }

  /** VERIFIED incremental near-dup admission — [[incrementalNearDup]]
    * with the false-reject trade bought back: a band collision only
    * nominates a CANDIDATE; rejection requires the estimated Jaccard
    * (matching minhash components / numHashes) against the colliding
    * document's persisted signature to clear `minEstJaccard`. State is
    * [[bandTable]] + [[signatureTable]] — still O(corpus) small rows,
    * never shingles or documents; the extra cost over candidate-level
    * admission is one equi-join of the (tiny) candidate list against
    * the signature tables. A colliding document's own admission outcome
    * is irrelevant (as in the unverified form): rejecting against a doc
    * that itself lost to a seen collision is correct because its content
    * is already represented in the corpus.
    *
    * @param maxPartners PHASING knob, not a recall trade — semantics are
    *        EXACT at every value. Admission runs in two verified phases:
    *        phase 1 verifies each doc against the `maxPartners` SMALLEST
    *        partner ids of every probed bucket (batch and seen side
    *        alike); phase 2 expands to the REMAINING partners of
    *        overflowed buckets, but only for docs phase 1 did NOT
    *        already reject (rejection is idempotent — once any partner
    *        clears the bar, further pairs cannot change the outcome).
    *        Every pair the uncapped scheme would examine is therefore
    *        examined unless its doc is already rejected, so the admitted
    *        set is bit-identical to the unphased form. Under a
    *        boilerplate flood the hot bucket's members are near-identical
    *        to its min ids, phase 1 rejects them all, and phase 2 is
    *        empty — pair volume O(rows × maxPartners × nBands) instead
    *        of quadratic in the hottest bucket. Phase 2 re-expands only
    *        for the rare hot-bucket member that is NOT a near-dup of the
    *        cap-smallest partners (a chance band collision), which is
    *        exactly the pair set correctness requires. This deliberately
    *        differs from [[minhashLsh]]'s `maxBucketSize` (which EXCLUDES
    *        hot buckets from pair LISTING): for ADMISSION a hot bucket is
    *        precisely a flood that must be REJECTED, not waved through.
    */
  def incrementalNearDupVerified(incoming: DataFrame, seenBands: DataFrame,
                                 seenSigs: DataFrame, w: Int = 3,
                                 numHashes: Int = 8, bandWidth: Int = 2,
                                 minEstJaccard: Double = 0.5,
                                 maxPartners: Int = 8): DataFrame = {
    require(numHashes % bandWidth == 0, "bands must tile the signature")
    require(numHashes <= 8, "8 32-bit hashes per two md5 digests")
    require(maxPartners >= 1, "phase 1 needs at least one partner per bucket")
    val layout = bandLayout(w, numHashes, bandWidth)
    requireLayoutCols(seenBands, "seen band table", layout)
    Stamp.require(seenBands, "seen band table", layout)
    requireLayoutCols(seenSigs, "seen signature table", layout.take(2))
    Stamp.require(seenSigs, "seen signature table", layout.take(2))
    // incoming signatures computed ONCE; bands derived from them (the
    // same derivation a warehouse runs when it persists both tables).
    Stage.scoped { st =>
      val sigs = st.cache(minhashesOf(shingles(incoming, w), numHashes))
      val bands = bandsFromSigs(sigs, numHashes, bandWidth)
      val mhCols = (0 until numHashes).map(k => s"mh$k")
      val incSig = sigs.select(col("doc_id") +:
        mhCols.map(c => col(c).as(s"a_$c")): _*)
      val estJ = (0 until numHashes).map(k =>
        when(col(s"a_mh$k") === col(s"b_mh$k"), 1).otherwise(0))
        .reduce(_ + _).cast("double") / numHashes
      def verify(cand: DataFrame, partnerSigs: DataFrame): DataFrame =
        cand.join(incSig, "doc_id")
          .join(partnerSigs.select(col("doc_id").as("partner_id") +:
              mhCols.map(c => col(c).as(s"b_$c")): _*),
            Seq("partner_id"))
          .filter(estJ >= lit(minEstJaccard))
          .select(col("doc_id"))
      // partner tables: the batch's own bands (a projection of the
      // CACHED signatures — not worth a second cache entry), and the
      // seen state RESTRICTED to buckets the batch probes, cached
      // (per-batch work is proportional to probed buckets, never to the
      // accumulated state — at warehouse scale the probed restriction is
      // the partition-pruned readBandState read). Both are
      // batch-fanout-bounded.
      val batchPart = bands
        .select(col("band"), col("bkey"), col("doc_id").as("partner_id"))
      val seenProbed = st.cache(seenBands
        .join(batchPart.select(col("band"), col("bkey")).distinct(),
          Seq("band", "bkey"), "left_semi")
        .select(col("band"), col("bkey"), col("doc_id").as("partner_id")))
      // candidates: per-(incoming, partner) pairs — NOT deduped to
      // buckets, the verification needs the partner id. Within-batch, a
      // doc is rejected only against a SMALLER-id sibling whose
      // estimated Jaccard clears the bar; the partner's own admission
      // outcome is irrelevant (its content is represented either way).
      def seenCands(docs: DataFrame, partners: DataFrame): DataFrame =
        docs.join(partners, Seq("band", "bkey"))
          .select(col("doc_id"), col("partner_id")).distinct()
      def batchCands(docs: DataFrame, partners: DataFrame): DataFrame =
        partners.as("x").join(docs.as("y"),
            col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
              col("x.partner_id") < col("y.doc_id"))
          .select(col("x.partner_id").as("partner_id"),
            col("y.doc_id").as("doc_id"))
          .distinct()
      // adaptive phasing: ONE cheap partial-agg probe over both
      // (batch-bounded) partner tables decides whether any bucket
      // overflows the cap. The un-skewed common case then runs the
      // single-phase plan — no window, no mid-pipeline materialization —
      // and only an actual flood pays the two-phase split. Sides are
      // tagged so a bucket's two halves never pool into a false overflow.
      val anyHot = batchPart.withColumn("_side", lit(0))
        .unionAll(seenProbed.withColumn("_side", lit(1)))
        .groupBy(col("_side"), col("band"), col("bkey"))
        .agg(count(lit(1)).as("_bsz"))
        .filter(col("_bsz") > maxPartners).limit(1).count() > 0
      val rejected =
        if (!anyHot)
          verify(seenCands(bands, seenProbed), seenSigs)
            .unionAll(verify(batchCands(bands, batchPart), sigs))
            .distinct()
        else {
          val (seenP1, seenOvf) = splitPartners(seenProbed, maxPartners)
          val (batP1, batOvf) = splitPartners(batchPart, maxPartners)
          // phase 1: cap-smallest partners per bucket. Materialized —
          // the phase-2 expansion keys off who is still unrejected.
          val rej1 = verify(seenCands(bands, seenP1), seenSigs)
            .unionAll(verify(batchCands(bands, batP1), sigs))
            .distinct()
            .localCheckpoint(eager = true)
          // phase 2: remaining partners of overflowed buckets, surviving
          // docs only — under a flood phase 1 already rejected the hot
          // bucket's members against its min ids, so this leg is empty.
          val survivors = bands.join(rej1, Seq("doc_id"), "left_anti")
          val rej2 = verify(seenCands(survivors, seenOvf), seenSigs)
            .unionAll(verify(batchCands(survivors, batOvf), sigs))
            .distinct()
          rej1.unionAll(rej2).distinct()
        }
      incoming.join(rejected, Seq("doc_id"), "left_anti")
        .localCheckpoint(eager = true)
    }
  }

  /** [[minhashLsh]] over an already-materialized shingle table — the
    * composite-pipeline form ([[ngramJaccardOnShingles]]'s staging
    * contract): a query running several detection legs stages the
    * shingle table once and every leg (exact, banded, multiple band
    * widths) reads it back. Result is the bounded verified pair list,
    * eagerly materialized like [[minhashLsh]]'s.
    */
  def minhashLshOnShingles(tri: DataFrame, numHashes: Int = 8,
                           bandWidth: Int = 2, threshold: Double = 0.5,
                           maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(numHashes % bandWidth == 0, "bands must tile the signature")
    require(numHashes <= 8, "8 32-bit hashes per two md5 digests")
    require(maxBucketSize >= 2, "a cap below 2 suppresses every pair")
    minhashLshOn(tri, numHashes, bandWidth, threshold, maxBucketSize)
      .localCheckpoint(eager = true)
  }

  /** Banded candidate generation + shared exact verification from a
    * PRECOMPUTED band table — the single-signature sweep form (round
    * 15): compute the 8-hash signature table once, derive one band
    * table per band width via [[bandTableFromSignatures]], and verify
    * every width's candidates against the SAME staged shingle table.
    * The signature pipeline (the expensive corpus scan) runs once per
    * sweep instead of once per width; only the banding projection and
    * the candidate join differ per width. `tri` must cover every
    * document in `bands` (verification sizes come from it) and follow
    * the [[ngramJaccardOnShingles]] staging contract.
    */
  def pairsFromBands(tri: DataFrame, bands: DataFrame, threshold: Double,
                     maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(maxBucketSize >= 2, "a cap below 2 suppresses every pair")
    val b = capBuckets(
      bands.select(col("doc_id"), col("band"), col("bkey")), maxBucketSize)
    val cands = b.as("x")
      .join(b.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    val sizes = tri.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    verifyJaccard(tri, sizes, cands, threshold)
      .localCheckpoint(eager = true)
  }

  private def minhashLshOn(tri: DataFrame, numHashes: Int,
                           bandWidth: Int, threshold: Double,
                           maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val bands = capBuckets(bandsOf(tri, numHashes, bandWidth), maxBucketSize)
    // candidates: same band value in any band → LSH bucket join.
    val cands = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    // verification: exact Jaccard on candidates only.
    val sizes = tri.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    verifyJaccard(tri, sizes, cands, threshold)
  }

  /** Embedding-cosine near-duplicate pairs over LSH buckets — the scale
    * path: [[graft.ext.Similarity.withBandKeys]] buckets the corpus by
    * hyperplane-signature bands, candidate pairs come from a shuffled
    * equi-join on (band, bkey) — never a cross product — and the fused
    * native cosine scores candidates only. Recall < 1 by LSH design
    * (band layout trades recall for bucket volume); within-recall results
    * are exact because the kernel is the true cosine, not the signature.
    *
    * @param maxBucketSize skew guard, same contract as [[minhashLsh]]'s:
    *        hyperplane buckets larger than the cap are EXCLUDED from
    *        candidate generation (a cluster of near-identical embeddings
    *        signs identically on every plane and would go quadratic in
    *        one bucket); members stay discoverable through their other
    *        bands. Exclusion is the pair-LISTING trade — the admission
    *        paths use partner caps instead (see
    *        [[incrementalNearDupVerified]]). Default = exact LSH.
    */
  def embeddingCosinePairsLsh(emb: DataFrame, threshold: Double,
                              numPlanes: Int = 16, bandWidth: Int = 4,
                              dim: Int = 64,
                              maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val banded = capBuckets(
      Similarity.withBandKeys(emb, "vid", numPlanes, bandWidth, dim),
      maxBucketSize)
    val cands = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.vid") < col("y.vid"))
      .select(col("x.vid").as("i"), col("x.embedding").as("ea"),
        col("y.vid").as("j"), col("y.embedding").as("eb"))
      .dropDuplicates("i", "j")
    cands
      .withColumn("sim",
        graft.functions.KeyColumns.cosine_native(col("ea"), col("eb")))
      .filter(col("sim") >= threshold)
      .select(col("i"), col("j"), col("sim"))
  }

  /** Embedding-cosine pairs, exhaustively — the VERIFICATION kernel only:
    * an all-pairs theta join whose cost is O(n²). It exists to measure
    * [[embeddingCosinePairsLsh]]'s recall on samples; the bucketed form
    * is the production path.
    */
  def embeddingCosinePairs(emb: DataFrame, threshold: Double): DataFrame = {
    val a = emb.select(col("vec_id").as("i"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("j"), col("embedding").as("eb"))
    a.join(b, col("i") < col("j"))
      .withColumn("sim",
        graft.functions.KeyColumns.cosine_native(col("ea"), col("eb")))
      .filter(col("sim") >= threshold)
      .select(col("i"), col("j"), col("sim"))
  }

  /** Connected components over a near-duplicate pair list — the step
    * that turns pairwise matches into DEDUP CLUSTERS (cluster id = the
    * smallest doc id in the component; that doc is the canonical
    * keeper). Iterative min-label propagation: each round every node
    * adopts the smallest label among itself and its neighbors, and the
    * loop stops at fixpoint. Rounds needed = the component DIAMETER
    * (near-dup clusters are small and dense, so 2–3 in practice), each
    * round one distributed join+aggregate whose label snapshot is
    * cached, so a round never recomputes its predecessors — the
    * standard iterative-algorithm shape on Spark. The result is iteration-order independent (a
    * fixpoint), so the DuckDB oracle can compute it with a recursive
    * reachability CTE instead.
    */
  def clusterPairs(pairs: DataFrame): DataFrame = Stage.scoped { st =>
    // cache (not checkpoint) each round's labels and RELEASE the
    // superseded round as soon as its successor is materialized — the
    // loop holds at most edges + two label snapshots at any moment.
    // Lineage grows one join per round, bounded by the component
    // diameter; the cached snapshot short-circuits recompute either way.
    val edges = st.cache(pairs.select(col("d1").as("a"), col("d2").as("b"))
      .unionByName(pairs.select(col("d2").as("a"), col("d1").as("b"))))
    var labels = st.cache(edges.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
      // schema symmetry with `next` only — the loop rebuilds chg each
      // round and never reads the seed's value.
      .withColumn("chg", lit(false)))
    var changed = 1L
    while (changed > 0) {
      val neighborMin = edges
        .join(labels.select(col("node").as("b"), col("label").as("nl")), "b")
        .groupBy(col("a").as("node")).agg(min(col("nl")).as("nmin"))
      // carry a changed-this-round flag INSIDE the label snapshot: the
      // convergence check is then a filter+count over the same cached
      // frame — ONE job per round materializes next AND counts changes
      // (labels only ever decrease, so changed ⟺ nmin < label), instead
      // of a second join-against-previous action.
      val next = st.cache(labels.join(neighborMin, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          (coalesce(col("nmin"), col("label")) < col("label")).as("chg")))
      changed = next.filter(col("chg")).count() // materializes next
      st.release(labels)
      labels = next
    }
    // one eager result materialization; the scope then drops every
    // intermediate
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .localCheckpoint(eager = true)
  }

  /** Canonical representative per dedup cluster chosen by QUALITY, not
    * by smallest id: the retention policy production pipelines actually
    * want — when near-duplicates cluster, keep the best copy (longest,
    * highest quality score, newest crawl) and drop the rest. Argmax is a
    * partial-aggregated `max(struct(quality, −doc_id))` — map-side
    * combine, only |clusters| rows shuffle (the same trick as
    * silver_nearest), with the smaller doc_id winning quality ties so
    * the choice is total and engine-portable.
    *
    * @param clusters (doc_id, cluster_id) from [[clusterPairs]]
    * @param quality  (doc_id, <qualityCol>) — e.g. n_chars, a
    *                 [[graft.ext.TextAnalysis.qualityScore]] column, or
    *                 1 − dup_frac from repetitionStats
    */
  def keepBestPerCluster(clusters: DataFrame, quality: DataFrame,
                         qualityCol: String): DataFrame =
    clusters.join(quality, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(max(struct(col(qualityCol).as("q"), (-col("doc_id")).as("nid"))).as("m"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), (-col("m.nid")).as("keeper"),
        col("m.q").as("keeper_quality"), col("n_members"))

  /** 16-bit SimHash per document from token 32-bit hashes (with
    * multiplicity): bit b of the signature is the sign of
    * Σ_tokens (±1 by token-hash bit b). One explode + one aggregation.
    */
  def simhash16(docs: DataFrame): DataFrame = {
    val th = docs.select(col("doc_id"), explode(toks).as("token"))
      .withColumn("h", hash32(col("token")))
    val bitSums = th.groupBy(col("doc_id"))
      .agg(sum(shiftright(col("h"), 0).bitwiseAND(1) * 2 - 1).as("s0"),
        (1 until 16).map(b =>
          sum(shiftright(col("h"), b).bitwiseAND(1) * 2 - 1).as(s"s$b")): _*)
    val sig = (0 until 16).map(b =>
      when(col(s"s$b") >= 0, lit(1 << b)).otherwise(lit(0)))
      .reduce(_ + _)
    bitSums.select(col("doc_id"), sig.cast("int").as("simhash"))
  }

  /** Positional w-token windows: (doc_id, s, sh) with s the 1-based
    * start token of the window. NOT distinct-per-document — positions
    * are the point (interval union needs every start). Same tokenizer
    * contract as [[shingles]] (split keeps trailing empties).
    */
  def positionalShingles(docs: DataFrame, w: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val t = text.split(" ", -1)
        if (t.length < w) Iterator.empty
        else t.sliding(w).zipWithIndex.map { case (s, i) =>
          (id, (i + 1).toLong, s.mkString(" "))
        }
      }
      .toDF("doc_id", "s", "sh")
  }

  /** 128-bit window-hash key of a window-text column: two independent
    * 64-bit xxhash64 views (plain, and seed-tupled). The span family
    * groups and joins on this PAIR instead of the window text — the
    * same grouping with a fixed-width 16-byte shuffle key instead of a
    * w-token string (~4× smaller shuffles on prose windows). Collision
    * probability is ~n²/2^129 over n distinct windows — vanishing even
    * at 100 TB window counts — and the hash is computed map-side, so
    * column pruning drops the text before any exchange.
    */
  private[graft] def winKey(c: Column): Seq[Column] =
    Seq(xxhash64(c).as("h1"), xxhash64(lit(1), c).as("h2"))

  /** Window-hash projection of a positional-shingle table:
    * (doc_id, s, h1, h2) — see [[winKey]].
    */
  private[graft] def hashedWindows(pos: DataFrame): DataFrame =
    pos.select(Seq(col("doc_id"), col("s")) ++ winKey(col("sh")): _*)

  /** Cross-document repeated-span detection with per-document duplicate
    * coverage — the word-n-gram form of exact-substring training-data
    * dedup: any w-token window whose text occurs in ≥ minDocs distinct
    * documents is a duplicated window; overlapping duplicated windows
    * within one document merge into maximal spans (gaps-and-islands
    * interval union), and the covered-token count per document is the
    * curation signal (documents dominated by cross-corpus boilerplate).
    * Complements [[ngramJaccard]]/[[minhashLsh]]: those score whole-doc
    * similarity; this localizes WHICH tokens are shared, catching
    * boilerplate blocks inside otherwise-unique documents that no
    * whole-document similarity threshold reaches.
    *
    * Returns (doc_id, n_tokens, dup_windows, dup_spans, covered_tokens)
    * for documents containing at least one duplicated window.
    *
    * Scale shape: positional windows are Σ tokens rows; the duplicated
    * set comes from one count-distinct groupBy (map-side partials
    * apply); the join back is an equi-join on the window text; the
    * interval union is a window function over each document's
    * duplicated starts only. No doc×doc pair term anywhere — cost is
    * linear in corpus tokens plus join volume on duplicated windows.
    * The join/group key is the 128-bit window hash ([[winKey]]) — the
    * same grouping as the text key (collisions vanishing), with a
    * fixed-width shuffle payload; the DuckDB oracle groups by text and
    * matches bit-for-bit.
    */
  def repeatedSpans(docs: DataFrame, w: Int = 8,
                    minDocs: Int = 2): DataFrame =
    // the corpus-token-scale positional-shingle table is read back by the
    // duplicated-set groupBy and the join back; the per-doc result is
    // tiny next to it
    Stage.parquet("graft-span-stage-", positionalShingles(docs, w)) { (pos, _) =>
      repeatedSpansOn(docs, pos, w, minDocs).localCheckpoint(eager = true)
    }

  private[graft] def repeatedSpansOn(docs: DataFrame, pos: DataFrame, w: Int,
                              minDocs: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = hashedWindows(pos)
    val dup = win.groupBy(col("h1"), col("h2"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("h1"), col("h2"))
    val starts = win.join(dup, Seq("h1", "h2")).select(col("doc_id"), col("s"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    // a window starting at s covers tokens [s, s+w-1]; a new span opens
    // when s clears the running max end of all earlier windows
    val prevEnd = max(col("s") + lit(w - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val spans = starts
      .withColumn("new_span",
        when(col("s") > coalesce(prevEnd, lit(-1L)), 1).otherwise(0))
      .withColumn("span_id", sum(col("new_span")).over(byDoc))
      .groupBy(col("doc_id"), col("span_id"))
      .agg((max(col("s")) + lit(w - 1) - min(col("s")) + lit(1)).as("covered"),
        count(lit(1)).as("nw"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(sum(col("nw")).as("dup_windows"),
        count(lit(1)).as("dup_spans"),
        sum(col("covered")).as("covered_tokens"))
    perDoc.join(
        docs.select(col("doc_id").cast("long").as("doc_id"),
          size(split(col("text"), " ", -1)).cast("long").as("n_tokens")),
        Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("dup_windows"),
        col("dup_spans"), col("covered_tokens"))
  }

  /** Cross-document duplicate-span REMOVAL — the rewrite half of
    * exact-substring training-data dedup ([[repeatedSpans]] is the
    * detection half): every w-token window whose text occurs in
    * ≥ minDocs distinct documents keeps its occurrences in the CANONICAL
    * document (the smallest doc_id containing that window text) and is
    * cut from every other document; overlapping cut windows union into
    * spans token-wise. Emits the rewritten corpus —
    * (doc_id, n_tokens, n_dropped, clean_token text) for EVERY input
    * document (n_dropped = 0 when untouched; clean_text = '' when the
    * whole document was boilerplate someone else already contributes).
    *
    * Tokenizer contract is [[positionalShingles]]'s (single-space split,
    * trailing empties kept) so detection and removal agree token-for-
    * token with each other and with the engine-portable oracle.
    *
    * Scale shape: no doc×doc term anywhere. The duplicated-window set is
    * one count-distinct groupBy over positional windows (map-side
    * partials bound hot windows); the cut positions come from one
    * equi-join of windows against that (small) set — a window shared by
    * M documents contributes M rows, linear in occurrences; the
    * token-level rebuild is a per-document aggregation (documents are
    * individually bounded, so the collect_list is too). This IS the
    * warehouse form: the join/group key is the 128-bit window hash
    * ([[winKey]] — the shuffles carry fixed-width keys, never window
    * text; the DuckDB oracle groups by text and matches bit-for-bit),
    * and BOTH corpus-scale frames are parquet — the staged
    * positional-shingle table (read back by the duplicated-set groupBy
    * and the cut join, deleted once the output is written) and the
    * rewritten corpus that the returned frame reads — distributed
    * storage, not executor block memory, every stage recomputable on
    * executor loss.
    */
  def removeCrossDocSpans(docs: DataFrame, w: Int = 8,
                          minDocs: Int = 2): DataFrame =
    Stage.parquet("graft-span-rewrite-", positionalShingles(docs, w)) { (pos, out) =>
      removeCrossDocSpansOn(docs, pos, w, minDocs).write.parquet(out)
      docs.sparkSession.read.parquet(out)
    }

  private[graft] def removeCrossDocSpansOn(docs: DataFrame, pos: DataFrame,
                                           w: Int, minDocs: Int): DataFrame = {
    val win = hashedWindows(pos)
    val dup = win.groupBy(col("h1"), col("h2"))
      .agg(min(col("doc_id")).as("canon"),
        countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("h1"), col("h2"), col("canon"))
    // positions covered by a non-canonical occurrence of a duplicated
    // window: w rows per occurrence, de-duplicated token-wise (the
    // interval union, done positionally)
    val cover = win.join(dup, Seq("h1", "h2"))
      .filter(col("doc_id") =!= col("canon"))
      .select(col("doc_id"),
        explode(sequence(col("s"), col("s") + lit(w - 1))).as("q"))
      .distinct()
    rebuildWithoutPositions(positionalTokens(docs), cover)
  }

  /** Text-keyed form of [[removeCrossDocSpansOn]] — the oracle-parity
    * reference the spec checks the hash-keyed production kernel against
    * (identical output absent a 128-bit window-hash collision).
    */
  private[graft] def removeCrossDocSpansTextKeyed(docs: DataFrame,
                                                  pos: DataFrame, w: Int,
                                                  minDocs: Int): DataFrame = {
    val dup = pos.groupBy(col("sh"))
      .agg(min(col("doc_id")).as("canon"),
        countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("sh"), col("canon"))
    val cover = pos.join(dup, Seq("sh"))
      .filter(col("doc_id") =!= col("canon"))
      .select(col("doc_id"),
        explode(sequence(col("s"), col("s") + lit(w - 1))).as("q"))
      .distinct()
    rebuildWithoutPositions(positionalTokens(docs), cover)
  }

  /** VARIABLE-LENGTH maximal repeated spans — the detection half of
    * suffix-array-style exact-substring dedup (Lee et al. 2021's
    * "deduplicating training data" removes maximal repeated substrings
    * of >= L tokens; [[repeatedSpans]] is its fixed-w cousin): every
    * token position covered by ANY cross-corpus duplicated w-window is
    * marked, contiguous marked runs merge into MAXIMAL spans (position-
    * level interval union — overlapping AND adjacent windows fuse, so a
    * 40-token repeat shows as ONE span, not 33 windows), and only spans
    * of covered length >= minLen survive. With w <= minLen this is a
    * complete detector for repeated substrings of length >= minLen:
    * every w-window inside such a substring is itself duplicated, so
    * the whole substring is covered by one run. (It can also fuse two
    * distinct repeats that touch — the standard window-granularity
    * over-approximation, shared with the oracle bit-for-bit.)
    *
    * Emits one row per qualifying span: `(doc_id, span_start,
    * span_end, span_len)`, positions 1-based token indices.
    *
    * Scale shape: no doc×doc term. Duplicated-window detection is the
    * [[repeatedSpans]] groupBy on the 128-bit [[winKey]]; coverage
    * explodes w fixed-width rows per duplicated occurrence (linear in
    * duplicated volume, never corpus text); the run-union is one
    * per-document window function over covered positions (documents
    * are individually bounded, so partitions are too).
    */
  def maximalRepeatedSpans(docs: DataFrame, w: Int = 8, minDocs: Int = 2,
                           minLen: Int = 12): DataFrame = {
    require(minLen >= w,
      s"maximalRepeatedSpans: minLen ($minLen) must be >= the window " +
        s"width ($w) — a shorter threshold cannot bind (every detected " +
        "span covers at least one full window)")
    // staged as in repeatedSpans: the duplicated-set groupBy and the
    // coverage join read the positional shingles back
    Stage.parquet("graft-maxspan-stage-", positionalShingles(docs, w)) { (pos, _) =>
      maximalRepeatedSpansOn(pos, w, minDocs, minLen)
        .localCheckpoint(eager = true)
    }
  }

  private[graft] def maximalRepeatedSpansOn(pos: DataFrame, w: Int,
                                            minDocs: Int,
                                            minLen: Int): DataFrame = {
    val win = hashedWindows(pos)
    val dup = win.groupBy(col("h1"), col("h2"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("h1"), col("h2"))
    spansFromCover(coveredPositions(win.join(dup, Seq("h1", "h2")), w),
      minLen)
  }

  /** The rewrite half of variable-length exact-substring dedup: cut
    * every maximal duplicated span of >= minLen covered tokens from
    * all but the window-level canonical occurrences, and emit the
    * rewritten corpus `(doc_id, n_tokens, n_dropped, clean_text)` for
    * EVERY input document. Canonical retention is
    * [[removeCrossDocSpans]]'s (each duplicated window survives in its
    * min-doc_id holder), with the length threshold layered on top: a
    * non-canonical covered region SHORTER than minLen is left intact —
    * short shared phrases are language, long shared runs are
    * boilerplate. Same tokenizer/rebuild contract as the fixed-w form
    * ([[positionalTokens]] + [[rebuildWithoutPositions]]); same
    * staging discipline (staged positional shingles, parquet output).
    */
  def removeMaximalSpans(docs: DataFrame, w: Int = 8, minDocs: Int = 2,
                         minLen: Int = 12): DataFrame = {
    require(minLen >= w,
      s"removeMaximalSpans: minLen ($minLen) must be >= the window " +
        s"width ($w)")
    def rewritten(pos: DataFrame): DataFrame = {
      val win = hashedWindows(pos)
      val dup = win.groupBy(col("h1"), col("h2"))
        .agg(min(col("doc_id")).as("canon"),
          countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= minDocs)
        .select(col("h1"), col("h2"), col("canon"))
      val cover = coveredPositions(
        win.join(dup, Seq("h1", "h2"))
          .filter(col("doc_id") =!= col("canon")), w)
      // qualifying spans re-explode to their positions: contiguous by
      // construction, so sequence(start, end) IS the run
      val cut = spansFromCover(cover, minLen)
        .select(col("doc_id"),
          explode(sequence(col("span_start"), col("span_end"))).as("q"))
      rebuildWithoutPositions(positionalTokens(docs), cut)
    }
    Stage.parquet("graft-maxspan-rewrite-", positionalShingles(docs, w)) { (pos, out) =>
      rewritten(pos).write.parquet(out)
      docs.sparkSession.read.parquet(out)
    }
  }

  /** Distinct token positions covered by the given window occurrences:
    * `(doc_id, q)`, w rows per occurrence before the distinct.
    */
  private def coveredPositions(occ: DataFrame, w: Int): DataFrame =
    occ.select(col("doc_id"),
        explode(sequence(col("s"), col("s") + lit(w - 1))).as("q"))
      .distinct()

  /** Contiguous runs of covered positions, as spans of length >=
    * minLen: the classic gap-group (position minus rank is constant
    * within a contiguous run) over each document's covered set.
    */
  private def spansFromCover(cover: DataFrame, minLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rn = row_number()
      .over(Window.partitionBy(col("doc_id")).orderBy(col("q")))
    cover.withColumn("grp", col("q") - rn)
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("q")).as("span_start"), max(col("q")).as("span_end"),
        count(lit(1)).as("span_len"))
      .filter(col("span_len") >= minLen)
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("span_len"))
  }

  /** Positional tokens: (doc_id, p, tok) with p 1-based — the
    * token-level companion of [[positionalShingles]], same tokenizer
    * contract (single-space split, trailing empties kept).
    */
  def positionalTokens(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        text.split(" ", -1).iterator.zipWithIndex
          .map { case (t, i) => (id, (i + 1).toLong, t) }
      }
      .toDF("doc_id", "p", "tok")
  }

  /** Rebuild each document's text WITHOUT the positions in `cover`
    * (doc_id, q): per-doc counts plus the surviving tokens re-joined in
    * position order. The shared rewrite kernel of the span-cut family
    * ([[removeCrossDocSpans]], [[graft.ext.Corpus.decontaminateSpans]]).
    */
  private[graft] def rebuildWithoutPositions(tok: DataFrame,
                                             cover: DataFrame): DataFrame =
    tok.join(cover, tok("doc_id") === cover("doc_id") &&
        tok("p") === cover("q"), "left")
      .select(tok("doc_id"), col("p"), col("tok"),
        cover("q").isNotNull.as("dropped"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("dropped"), lit(1))).as("n_dropped"),
        array_join(
          // struct-field extraction (GetArrayStructFields — a plain
          // codegen'd expression) instead of the round-13 interpreted
          // transform(_, s => s.getField("tok")) lambda; same array.
          // (Round 18: a typed groupByKey.mapGroups rewrite of this
          // kernel was measured 2.1× SLOWER on corpus_decontaminate_
          // spans — per-TOKEN object serde plus the mapGroups sort
          // loses to the hash aggregate's per-doc array ops — so the
          // aggregate form stays; guide §1.1's fresh-ideal caveat.)
          array_sort(collect_list(
            when(!col("dropped"), struct(col("p"), col("tok")))))
            .getField("tok"),
          " ").as("clean_text"))
}
