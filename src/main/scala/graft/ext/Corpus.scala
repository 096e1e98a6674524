package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-management operators for a training-data pipeline: the steps
  * between "deduplicated documents" and "training shards" —
  * deterministic splits, scrubbing, stratified downsampling and
  * weighted source mixing.
  *
  * Scale design (100 TB):
  *  - Everything here is a PER-ROW projection or filter on a portable
  *    hash of the document id — no shuffle, no state, no sampling seed
  *    that changes between runs or executors. Assignment is a pure
  *    function of (salt, id), so re-running on a grown corpus keeps every
  *    previously-assigned document in its split (the property that makes
  *    incremental training-set refreshes possible at all).
  *  - The md5-derived hash family matches the dedup/minhash operators
  *    (and the DuckDB oracle computes the identical expressions), so one
  *    hash discipline covers the whole pipeline.
  */
object Corpus {

  /** Uniform bucket in [0, buckets) from a salted portable hash of the id
    * column — `Dedup.hash32`'s md5 family, so DuckDB reproduces it
    * bit-for-bit.
    */
  def hashBucket(id: Column, salt: String, buckets: Int): Column =
    pmod(Dedup.hash32(concat(lit(salt + "|"), id.cast("string"))), lit(buckets))
      .cast("int")

  /** Deterministic train/validation/test assignment by hash bucketing:
    * bucket < trainPct → train, < trainPct+valPct → val, else test.
    * Document-stable across runs and cluster sizes (never `rand()`, whose
    * per-task seeding is neither reproducible under retries nor portable).
    */
  def splitAssign(docs: DataFrame, idCol: String = "doc_id",
                  trainPct: Int = 80, valPct: Int = 10,
                  salt: String = "split"): DataFrame = {
    require(trainPct + valPct < 100, "test share must be positive")
    val bucket = hashBucket(col(idCol), salt, 100)
    docs.withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < trainPct, lit("train"))
          .when(col("bucket") < trainPct + valPct, lit("val"))
          .otherwise(lit("test")))
  }

  /** LEAKAGE-FREE grouped split — [[splitAssign]] with near-dup
    * clusters as the assignment unit: every member of a dedup cluster
    * lands in the SAME split, because hashing per-document lets two
    * near-duplicates straddle train/test and leak the eval answer into
    * training (the published split-leakage failure). The bucket hash is
    * taken over the cluster id (its min member), so the assignment is
    * exactly [[splitAssign]]'s for singleton documents and
    * cluster-constant otherwise — document-stable under corpus growth
    * for the same reason (a pure function of (salt, cluster), and a
    * cluster's id only changes if an even-smaller near-dup of it
    * arrives — the same reassignment a re-clustered corpus implies).
    *
    * @param clusters (doc_id, cluster_id) from
    *        [[graft.ext.Dedup.clusterPairs]] — documents absent from it
    *        are singletons (cluster_id = own doc_id). One broadcast-or-
    *        shuffle equi-join; the hash/bucket arithmetic is per-row.
    */
  def splitAssignGrouped(docs: DataFrame, clusters: DataFrame,
                         trainPct: Int = 80, valPct: Int = 10,
                         salt: String = "split"): DataFrame = {
    require(trainPct + valPct < 100, "test share must be positive")
    val bucket = hashBucket(col("cluster_id"), salt, 100)
    docs.join(clusters.select(col("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < trainPct, lit("train"))
          .when(col("bucket") < trainPct + valPct, lit("val"))
          .otherwise(lit("test")))
  }

  /** Grouped split over the PERSISTED compacted dedup state — the
    * release-STABLE form of [[splitAssignGrouped]]: cluster identity
    * comes from the state's keeper bands (a doc's cluster = the smallest
    * keeper whose bucket it collides with; no collision → singleton),
    * not from a per-call clustering. Per-call clustering is unstable
    * under a delta release — a bridge doc can MERGE two prior clusters,
    * rewriting the lower cluster's id and silently moving its members
    * across splits (eval contamination in reverse: yesterday's test doc
    * becomes today's train doc). Against the compacted state, keepers
    * persist and new releases only APPEND larger-id keepers, so a doc's
    * smallest colliding keeper — and therefore its split — never changes
    * while its keeper remains in state (the `corpus_split_stable`
    * oracle's contract).
    *
    * Scale shape: one partition-pruned state read (the probe's cells
    * only), one equi-join, one min-aggregation — no clustering loop, no
    * pair term. The leakage invariant is inherited: docs colliding with
    * the same keeper co-assign by construction.
    *
    * @param bands docs' band table ([[Dedup.bandTable]] under the given
    *        layout), staged by the caller: a release pipeline computes
    *        bands once and feeds the state write, the admission AND the
    *        split from the same frame.
    */
  def splitAssignGroupedStable(spark: org.apache.spark.sql.SparkSession,
                               docs: DataFrame, stateDir: String,
                               bands: DataFrame,
                               w: Int = 3, numHashes: Int = 8,
                               bandWidth: Int = 2,
                               trainPct: Int = 80, valPct: Int = 10,
                               salt: String = "split"): DataFrame = {
    require(trainPct + valPct < 100, "test share must be positive")
    // a band table built under a DIFFERENT layout would silently never
    // collide with the state (every doc a singleton) — validate its
    // ridden-along layout columns like any state read
    val layout = Dedup.bandLayout(w, numHashes, bandWidth)
    Dedup.requireLayoutCols(bands, "split probe bands", layout)
    Stamp.require(bands, "split probe bands", layout)
    val state = Dedup.readBandState(
      Dedup.openBandState(spark, stateDir, w, numHashes, bandWidth), bands)
    // only the ID-SIZED owner map materializes; the returned frame stays
    // a lazy docs ⋈ owner plan — never a corpus-sized local
    // materialization
    val owner = bands
      .join(state.select(col("band"), col("bkey"),
          col("doc_id").as("keeper")),
        Seq("band", "bkey"))
      .groupBy(col("doc_id")).agg(min(col("keeper")).as("cluster_id"))
      .localCheckpoint(eager = true)
    docs.join(owner, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("bucket", hashBucket(col("cluster_id"), salt, 100))
      .withColumn("split",
        when(col("bucket") < trainPct, lit("train"))
          .when(col("bucket") < trainPct + valPct, lit("val"))
          .otherwise(lit("test")))
  }

  /** Normalization + PII-style scrubbing: lowercase, mask email-shaped
    * tokens and digit runs, collapse whitespace. Pure codegen'd scalar
    * expressions that ride inside the scan's WholeStageCodegen span —
    * the redaction pass costs one map over the corpus, nothing more.
    */
  def redact(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val lowered = lower(col(textCol))
    val noEmail = regexp_replace(lowered,
      "[a-z0-9._%+-]+@[a-z0-9.-]+", "<email>")
    val noDigits = regexp_replace(noEmail, "[0-9]+", "#")
    // explicit whitespace class, not \s: Java's \s includes \x0B
    // (vertical tab) while RE2's (DuckDB) does not — an explicit class
    // means both engines, and the oracle, see the identical set.
    val collapsed = trim(regexp_replace(noDigits, "[ \\t\\n\\f\\r\\x0B]+", " "))
    docs.withColumn("clean_text", collapsed)
      .withColumn("was_redacted", (collapsed =!= col(textCol)).cast("int"))
  }

  /** Deterministic stratified sample: keep `keepPerMille`/1000 of each
    * stratum by hash threshold. Unlike `df.sampleBy`, membership is a
    * pure function of the id — stable under retries, re-runs and corpus
    * growth — and the filter pushes into the scan (no shuffle).
    */
  def stratifiedSample(docs: DataFrame, idCol: String,
                       keepPerMille: Int, salt: String = "sample"): DataFrame =
    docs.filter(hashBucket(col(idCol), salt, 1000) < keepPerMille)

  /** QUALITY-WEIGHTED deterministic sample — admit each document with
    * probability proportional to a non-negative integer weight column
    * (quality-proportional data selection: better documents survive
    * downsampling more often, the standard corpus-curation move). Admit
    * iff hash32(salt|id) < (w / wmax) · 2³², evaluated as the exact
    * integer cross-product `h · wmax < w · 2³²` — no floating point, so
    * membership is bit-portable across engines (both factors stay far
    * inside int64: h < 2³², and wmax is required < 2³¹). wmax is a
    * data-derived global (A3-style one-row aggregate, broadcast — the
    * top-quality document is admitted with probability 1). Like every
    * sampler here it is a pure per-row filter: stable under retries and
    * corpus growth, no shuffle of the corpus itself.
    */
  def weightedSample(docs: DataFrame, idCol: String, weightCol: String,
                     salt: String = "wsample"): DataFrame = {
    // the range guard runs on the DRIVER against the one-row aggregate —
    // a wmax outside (0, 2³¹) would overflow the exact integer compare
    // and silently mis-sample. (An assert_true attached to a dropped
    // column is NOT a guard: Catalyst prunes unreferenced columns, so the
    // assertion would never evaluate.) The collected max then rides as a
    // literal — one fewer join than broadcasting the aggregate.
    val row = docs.agg(max(col(weightCol)).cast("long")).head()
    if (row.isNullAt(0)) return docs.filter(lit(false)) // empty corpus
    val wmax = row.getLong(0)
    require(wmax > 0 && wmax < Int.MaxValue,
      s"weightedSample: max($weightCol) out of (0, 2^31): $wmax")
    val h = Dedup.hash32(concat(lit(salt + "|"), col(idCol).cast("string")))
    docs.filter(h * lit(wmax) < col(weightCol).cast("long") * lit(4294967296L))
  }

  /** Fixed-size overlapping token chunks — the window split every
    * training pipeline runs before tokenization (long documents become
    * `width`-token windows advancing by `stride = width − overlap`).
    * A typed flatMap for the same reason as [[Dedup.shingles]]: the
    * per-row emit loop is plain JVM code inside one narrow stage — no
    * shuffle, no interpreted array lambdas. Chunk identity is a pure
    * function of (doc, offset), so re-chunking a grown corpus never
    * renumbers existing chunks.
    */
  def chunk(docs: DataFrame, width: Int = 40, overlap: Int = 10): DataFrame = {
    require(width > overlap && overlap >= 0, "need 0 <= overlap < width")
    val stride = width - overlap
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val t = text.split(" ", -1)
        Iterator.range(0, t.length, stride).map { start =>
          val slice = t.slice(start, start + width)
          (id, start / stride, slice.length, slice.mkString(" "))
        }
      }
      .toDF("doc_id", "chunk_id", "n_tokens", "chunk_text")
  }

  /** Train/benchmark contamination detection — the n-gram-collision check
    * a training corpus runs before an eval set can be trusted: for every
    * (benchmark doc, training doc) pair sharing enough rare n-grams,
    * report the containment score |shared| / |benchmark shingles|.
    *
    * Scale design: the join is an EQUI-join on the shingle — never
    * doc×doc — and its fanout is bounded by the frequency cap: shingles
    * appearing more than `maxShingleFreq` times corpus-wide (boilerplate)
    * are excluded before the join, so one shingle contributes at most
    * cap² pair rows. Dropping high-frequency n-grams is the published
    * contamination methodology, not just a performance fix: boilerplate
    * collisions are noise, membership of RARE n-grams is signal. Shingling
    * runs once over each disjoint side (no doc→source re-join of the
    * shingle table), and the scores are exact-integer divisions, so the
    * oracle reproduces them bit-for-bit.
    */
  def contamination(docs: DataFrame, benchSources: Seq[String],
                    w: Int = 5, maxShingleFreq: Long = 8,
                    threshold: Double = 0.3): DataFrame =
    contaminationImpl(docs, benchSources, w, maxShingleFreq, threshold, None)

  /** [[contamination]] with a BLOOM PREFILTER on the training side — the
    * two-stage gate a 100 TB sweep actually ships: the bench shingle
    * set's Bloom filter (fixed ≤ numBits rows, broadcast) drops every
    * train shingle that cannot possibly collide BEFORE the exact
    * equi-join, so the join's big side shrinks from the whole train
    * shingle table to the might-contain sliver. The result is IDENTICAL
    * to the exact sweep — a Bloom filter has no false negatives, and
    * false positives are eliminated by the exact join they fail —
    * which is exactly what `corpus_decontaminate_bloom` proves by
    * sharing the ungated oracle.
    *
    * NOT lazy: building the packed-bitmap gate EXECUTES the whole bench
    * shingle pipeline and collects its filter to the driver AT CALL
    * TIME (the [[Sketches.bloomGateColumn]] collect), before the
    * returned frame is ever acted on. That is the right trade only when
    * the train side dwarfs the filter-build cost — at toy scale the
    * gate measurably LOSES to [[contamination]] (r8 bench: ~6.1 s vs
    * ~3.3 s at sf0.1), because the bench pipeline runs eagerly and the
    * per-row gate buys back too little join input. Call it when the
    * train shingle table is orders of magnitude bigger than the bench
    * set; do not compose it expecting plan-time laziness.
    */
  def contaminationBloomGated(docs: DataFrame, benchSources: Seq[String],
                              w: Int = 5, maxShingleFreq: Long = 8,
                              threshold: Double = 0.3,
                              numBits: Int = 1 << 18,
                              numHashes: Int = 4): DataFrame =
    contaminationImpl(docs, benchSources, w, maxShingleFreq, threshold,
      Some((numBits, numHashes)))

  private def contaminationImpl(docs: DataFrame, benchSources: Seq[String],
                                w: Int, maxShingleFreq: Long,
                                threshold: Double,
                                bloomGate: Option[(Int, Int)]): DataFrame =
    graft.Stage.scoped { st =>
      val bsh = st.cache(Dedup.shingles(
        docs.filter(col("source").isin(benchSources: _*)), w))
      val tsh = st.cache(Dedup.shingles(
        docs.filter(!col("source").isin(benchSources: _*)), w))
      val keep = bsh.unionAll(tsh)
        .groupBy(col("sh")).agg(count(lit(1)).as("f"))
        .filter(col("f") <= maxShingleFreq)
        .select(col("sh"))
      val bkeep = st.cache(bsh.join(keep, Seq("sh"), "left_semi")
        .withColumnRenamed("doc_id", "bench_doc"))
      val tkeepAll = tsh.join(keep, Seq("sh"), "left_semi")
        .withColumnRenamed("doc_id", "train_doc")
      val tkeep = bloomGate match {
        case Some((bits, hashes)) =>
          // the packed-bitmap per-row gate: a pure predicate on the
          // train side — no shuffle, no join, partitioning untouched.
          val bloom = Sketches.bloomBuild(bkeep.select(col("sh")), "sh",
            bits, hashes)
          tkeepAll.filter(
            Sketches.bloomGateColumn(bloom, col("sh"), bits, hashes))
        case None => tkeepAll
      }
      val bsize = bkeep.groupBy(col("bench_doc")).agg(count(lit(1)).as("n"))
      bkeep.join(tkeep, Seq("sh"))
        .groupBy(col("bench_doc"), col("train_doc"))
        .agg(count(lit(1)).as("n_shared"))
        .join(bsize, Seq("bench_doc"))
        .withColumn("score",
          col("n_shared").cast("double") / col("n").cast("double"))
        .filter(col("score") >= threshold)
        .select(col("bench_doc"), col("train_doc"), col("n_shared"),
          col("score"))
        .localCheckpoint(eager = true)
    }

  /** APPLY a contamination sweep: drop every training document the
    * sweep flagged (overlap with any benchmark doc at or above the
    * sweep's threshold). The sweep result ([[contamination]]) is what a
    * warehouse persists between releases; application is one anti-join
    * of the corpus against that tiny flagged list — re-runnable against
    * a grown corpus without re-sweeping unflagged documents.
    * NULL-source documents are in neither bench nor train and are
    * dropped, matching the sweep's population.
    */
  def decontaminate(docs: DataFrame, contamination: DataFrame,
                    benchSources: Seq[String]): DataFrame =
    docs.filter(!col("source").isin(benchSources: _*))
      .join(contamination.select(col("train_doc").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")

  /** SPAN-level decontamination — the surgical alternative to
    * [[decontaminate]]'s whole-document drop: every w-token window of a
    * training document whose text appears verbatim anywhere in the
    * benchmark sources is cut from the training text (overlapping cuts
    * union token-wise), and the rewritten corpus is emitted as
    * (doc_id, source, n_tokens, n_dropped, clean_text) over ALL
    * training documents. Keeps the 99% of a long document that isn't a
    * quoted benchmark passage instead of discarding it with the 1% that
    * is — the leakage is excised either way. No canonical-occurrence
    * retention here (unlike [[Dedup.removeCrossDocSpans]]): benchmark
    * text must never survive in ANY training document. Train/bench
    * population contract matches the sweep family (NULL-source docs are
    * in neither, hence dropped).
    *
    * Scale shape: the bench window set is distinct windows of the
    * (small by construction) eval corpus; cut positions come from one
    * equi-join of the train side's positional windows against it —
    * linear in matching occurrences, no train×train term, no frequency
    * cap needed because the join is against BENCH windows only. Both
    * sides join on the 128-bit window hash ([[Dedup.winKey]]) — the
    * shuffle carries fixed-width keys, never window text; the DuckDB
    * oracle joins on text and matches bit-for-bit. The whole
    * operator is one lazy plan (nothing persisted or collected): each
    * input participates in exactly one join.
    */
  def decontaminateSpans(docs: DataFrame, benchSources: Seq[String],
                         w: Int = 8): DataFrame = {
    val bench = docs.filter(col("source").isin(benchSources: _*))
    val train = docs.filter(!col("source").isin(benchSources: _*))
    val benchWins = Dedup.shingles(bench, w)
      .select(Dedup.winKey(col("sh")): _*).distinct()
    val cover = Dedup.hashedWindows(Dedup.positionalShingles(train, w))
      .join(benchWins, Seq("h1", "h2"))
      .select(col("doc_id"),
        explode(sequence(col("s"), col("s") + lit(w - 1))).as("q"))
      .distinct()
    Dedup.rebuildWithoutPositions(Dedup.positionalTokens(train), cover)
      .join(train.select(col("doc_id").cast("long").as("doc_id"),
        col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("n_dropped"), col("clean_text"))
  }

  /** Contamination ATTRIBUTION report — WHICH bench document leaked
    * into WHICH train document, and how much: one row per
    * (train doc, bench doc) pair sharing at least `minShared` distinct
    * w-token windows. The audit complement of the flag
    * ([[contamination]]: is this doc contaminated?) and the rewrite
    * ([[decontaminateSpans]]: cut the leaked spans): an eval owner
    * asks WHERE the leak came from before deciding whether the bench
    * task itself is burned.
    *
    * Scale shape: both sides' windows are per-doc-distinct; the join is
    * one equi-join on the 128-bit window hash ([[Dedup.winKey]] —
    * shuffles carry 16-byte keys, never window text) against the
    * (small by construction) bench window set; the pair aggregation
    * sees matching occurrences only. No train×train term, no frequency
    * cap needed because the join is against BENCH windows only.
    */
  def contaminationReport(docs: DataFrame, benchSources: Seq[String],
                          w: Int = 8, minShared: Long = 1): DataFrame = {
    val bench = docs.filter(col("source").isin(benchSources: _*))
    val train = docs.filter(!col("source").isin(benchSources: _*))
    val bw = Dedup.shingles(bench, w)
      .select(col("doc_id").as("bench_doc") +: Dedup.winKey(col("sh")): _*)
    val tw = Dedup.shingles(train, w)
      .select(col("doc_id") +: Dedup.winKey(col("sh")): _*)
    tw.join(bw, Seq("h1", "h2"))
      .groupBy(col("doc_id"), col("bench_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= lit(minShared))
  }

  /** EMBEDDING-level decontamination — the SEMANTIC sweep that catches
    * what the n-gram sweep cannot: a train document whose text was
    * paraphrased/translated/reformatted from a benchmark document shares
    * no 5-shingles with it but sits next to it in embedding space. This
    * is the published practice for modern eval protection (cosine
    * near-match of train vs bench embeddings); it COMPLEMENTS
    * [[contamination]] — ship both sweeps, union the flags.
    *
    * Scale shape: bench and train sides are banded separately by
    * hyperplane signature ([[Similarity.withBandKeys]] — same planes,
    * so co-bucketing is consistent), and candidates come from the
    * (band, bkey) EQUI-join of train against bench — never train×train,
    * never a cross product; the bench side is the eval-set corpus
    * (small by construction) and per-bucket fanout is bounded by
    * signature collisions. Exact cosine verifies candidates only.
    * Recall < 1 by LSH design — the trade every production sweep makes;
    * the banding is deterministic so the oracle reproduces the missed
    * pairs too.
    */
  def decontaminateEmbedding(docs: DataFrame, emb: DataFrame,
                             benchSources: Seq[String],
                             threshold: Double = 0.42,
                             numPlanes: Int = 16, bandWidth: Int = 4,
                             dim: Int = 64): DataFrame = {
    val paired = pairedWithEmb(docs, emb)
    val train = paired.filter(!col("source").isin(benchSources: _*))
    val contaminated = embeddingContaminatedIds(train, emb,
      benchSignatureTable(docs, emb, benchSources, numPlanes, bandWidth, dim),
      threshold, numPlanes, bandWidth, dim)
    train.select(col("doc_id"), col("source"), col("n_chars"))
      .join(contaminated, Seq("doc_id"), "left_anti")
  }

  private def pairedWithEmb(docs: DataFrame, emb: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), col("n_chars"))
      .join(emb.select(col("vec_id"), col("embedding")),
        col("doc_id") === col("vec_id"))

  /** Band a (doc_id, embedding) side without probing its dimension:
    * each caller probes the embeddings it bands once
    * ([[Similarity.requireDim]]).
    */
  private def bandedSide(side: DataFrame, idAs: String, embAs: String,
                         numPlanes: Int, bandWidth: Int,
                         dim: Int): DataFrame =
    Similarity.bandRowsUnchecked(
        side.select(col("doc_id").as("vec_id"), col("embedding")),
        idAs, numPlanes, bandWidth, dim)
      .withColumnRenamed("embedding", embAs)

  /** The PERSISTED bench-signature table of the semantic sweep — the
    * eval corpus's embeddings banded once by hyperplane signature
    * (band, bkey, bid, be) with the layout stamped in constant columns,
    * small by construction (eval sets are). An incremental release
    * chain persists this table at bench onboarding and every later
    * release consults it ([[embeddingContaminatedIds]]) without
    * rescanning bench documents or embeddings — the same
    * state-not-recompute discipline as the band table.
    */
  def benchSignatureTable(docs: DataFrame, emb: DataFrame,
                          benchSources: Seq[String],
                          numPlanes: Int = 16, bandWidth: Int = 4,
                          dim: Int = 64): DataFrame = {
    val bench =
      pairedWithEmb(docs, emb).filter(col("source").isin(benchSources: _*))
    Similarity.requireDim(bench, dim)
    bandedSide(bench, "bid", "be", numPlanes, bandWidth, dim)
      .withColumn("num_planes", lit(numPlanes))
      .withColumn("band_width", lit(bandWidth))
      .withColumn("dim", lit(dim))
  }

  /** The bench-signature state's stamp: a mismatched banding would
    * silently never collide and admit every paraphrase.
    */
  private[graft] def benchSigLayout(numPlanes: Int, bandWidth: Int,
                                    dim: Int): Seq[(String, Int)] =
    Seq("num_planes" -> numPlanes, "band_width" -> bandWidth, "dim" -> dim)

  /** Doc ids of `cohort` that SEMANTICALLY near-match the persisted
    * bench-signature state: the cohort is banded with the same planes
    * (the stamp is validated — mismatched banding would silently never
    * collide, admitting every paraphrase), candidates come from the
    * (band, bkey) equi-join against the state, exact cosine verifies.
    * Only the cohort's `doc_id` column is read; its embeddings come
    * from `emb` — a doc without an embedding row can't match and is
    * simply absent, so callers anti-join the returned ids and
    * unembedded docs pass through un-swept.
    */
  def embeddingContaminatedIds(cohort: DataFrame, emb: DataFrame,
                               benchState: DataFrame,
                               threshold: Double = 0.42,
                               numPlanes: Int = 16, bandWidth: Int = 4,
                               dim: Int = 64): DataFrame = {
    Stamp.require(benchState, "bench-signature state",
      benchSigLayout(numPlanes, bandWidth, dim))
    Similarity.requireDim(emb, dim)
    sweepBenchSignatures(cohort, emb, benchState, threshold, numPlanes,
      bandWidth, dim)
  }

  /** [[embeddingContaminatedIds]] over a bench state whose layout and
    * embeddings whose length the caller already validated
    * ([[benchSigLayout]], [[Similarity.requireDim]] on `emb`) — the
    * form a consumer that validated once at start (a streaming
    * admission pipeline) runs per micro-batch; building it runs no job.
    * Cosine is verified on every candidate row and the flagged ids are
    * deduplicated once at the end: a (tid, bid) pair colliding in
    * several bands is verified once per band, with the same cosine
    * each time, so the id set equals the dedup-then-verify form's
    * without shuffling both embedding arrays through a pair dedup.
    */
  private[graft] def sweepBenchSignatures(cohort: DataFrame, emb: DataFrame,
                                          benchState: DataFrame,
                                          threshold: Double, numPlanes: Int,
                                          bandWidth: Int,
                                          dim: Int): DataFrame = {
    val paired = cohort.select(col("doc_id"))
      .join(emb.select(col("vec_id"), col("embedding")),
        col("doc_id") === col("vec_id"))
    val cohortB = bandedSide(paired, "tid", "te", numPlanes, bandWidth, dim)
    cohortB.join(benchState.select(col("band"), col("bkey"),
          col("bid"), col("be")),
        Seq("band", "bkey"))
      .withColumn("sim",
        graft.functions.KeyColumns.cosine_native(col("te"), col("be")))
      .filter(col("sim") >= lit(threshold))
      .select(col("tid").as("doc_id")).distinct()
  }

  /** Weighted source mixing: per-source keep rates (per mille), the
    * hash-threshold form of the "sample each corpus at its mixing weight
    * then union" recipe used to balance training mixtures. Sources not in
    * `ratesPerMille` are dropped (explicit mixture only).
    */
  def mixSources(docs: DataFrame, sourceCol: String, idCol: String,
                 ratesPerMille: Map[String, Int],
                 salt: String = "mix"): DataFrame = {
    val rate = ratesPerMille.foldLeft(lit(0)) { case (acc, (src, r)) =>
      when(col(sourceCol) === src, lit(r)).otherwise(acc)
    }
    docs.filter(hashBucket(col(idCol), salt, 1000) < rate)
  }

  /** TOKEN-BUDGET mixture sampling — the "N tokens of code, M tokens of
    * web" curation op: each source in `budgets` admits documents in
    * salted-hash order (deterministic, engine-portable — the
    * [[shuffleShards]] key) until the tokens admitted BEFORE a document
    * reach the source's budget. Greedy boundary semantics: the admitting
    * document may overshoot, so the budget is exceeded by at most one
    * document — the [[packSequences]] bound, and the price of
    * determinism (exact subset-sum selection is order-dependent).
    * Sources absent from `budgets` are dropped (a mixture admits only
    * what it names). Complements [[mixSources]] (rate-based: a fixed
    * FRACTION per source) and [[capPerSource]] (count-based: the best N
    * DOCUMENTS) — training mixtures are specified in tokens.
    *
    * Scale shape: ONE keyed two-phase prefix-sum pass
    * ([[graft.operators.ScaleOps.withPrefixSumByKey]] keyed by source)
    * over the budgeted sources' rows — one range shuffle whatever the
    * number of sources — then each row's cut against its source's
    * budget. No corpus-wide window, no single-task sort; driver traffic
    * is one offset per (partition, source) segment.
    *
    * Returns (doc_id, source, n_tok, tok_before), tok_before the exact
    * admitted-token count preceding the document in its source's order.
    */
  def sampleToTokenBudget(docs: DataFrame, budgets: Map[String, Long],
                          salt: String = "budget"): DataFrame = {
    require(budgets.nonEmpty, "sampleToTokenBudget: empty budget map")
    budgets.foreach { case (src, b) =>
      require(b >= 0, s"sampleToTokenBudget: negative budget for $src") }
    val key = concat(
      substring(md5(concat(lit(salt + "|"), col("doc_id").cast("string"))), 1, 15),
      lit("|"), col("doc_id").cast("string"))
    val base = docs.filter(col("source").isin(budgets.keys.toSeq: _*))
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ", -1)).as("n_tok"))
      .withColumn("bkey", key)
    graft.operators.ScaleOps.withPrefixSumByKey(
        base, "source", "bkey", "n_tok", "tok_before")
      .filter(col("tok_before") < element_at(typedLit(budgets), col("source")))
      .select(col("doc_id"), col("source"),
        col("n_tok").cast("long").as("n_tok"), col("tok_before"))
  }

  /** TEMPERATURE-weighted mixture budgets — the published data-mixture
    * practice ("sampling with temperature" over sources): source i gets
    * token budget T · n_i^α / Σ_j n_j^α, where α ∈ (0, 1] flattens the
    * natural size distribution (α = 1 proportional, α → 0 uniform) so
    * small high-value sources are not drowned by the web crawl. This is
    * the engine-portable α = 1/2 form: sqrt is IEEE correctly-rounded
    * in every engine, each weight is immediately fixed-pointed
    * (⌊√n_i · 10⁶⌋, one rounding per source, no float SUMMATION whose
    * order could differ across engines), and the allocation is exact
    * integer arithmetic from there — so the derived budgets, and
    * therefore the admitted set, are bit-reproducible. Per-source token
    * counts are one aggregation; the result feeds
    * [[sampleToTokenBudget]]. Sources with no rows weigh zero.
    */
  def temperatureBudgets(docs: DataFrame, sources: Seq[String],
                         totalTokens: Long): Map[String, Long] = {
    require(sources.nonEmpty, "temperatureBudgets: no sources")
    require(totalTokens >= 0, "temperatureBudgets: negative total")
    val counts = docs.filter(col("source").isin(sources: _*))
      .groupBy(col("source"))
      .agg(sum(size(split(col("text"), " ", -1)).cast("long")).as("n_tok"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val weights = sources.map(s =>
      s -> math.floor(math.sqrt(counts.getOrElse(s, 0L).toDouble) * 1e6).toLong)
    val tot = weights.map(_._2).sum
    require(tot > 0, "temperatureBudgets: no tokens in any budgeted source")
    weights.map { case (s, w) =>
      s -> (BigInt(totalTokens) * w / tot).toLong
    }.toMap
  }

  /** Sequence packing — assign documents (in id order, within a shard)
    * to fixed-token-budget training "packs" by stream-order block
    * packing: pack_id = floor(tokens_before_this_doc / maxTokens). The
    * greedy stream-order rule every packing loader uses, expressed as a
    * running sum so it distributes: one window per shard, shards pack in
    * parallel (the per-shard window key is what keeps a 100 TB corpus
    * from serializing into a single global sort — for a corpus with no
    * shard key, [[graft.operators.ScaleOps.withPrefixSum]] computes the
    * same running sum with a two-phase scan instead).
    *
    * A document that straddles a boundary joins the pack its FIRST token
    * falls in, so a pack overshoots by at most one document — the
    * standard bound; exact bin packing is NP-hard and order-dependent,
    * which would break determinism.
    */
  def packSequences(docs: DataFrame, maxTokens: Long,
                    shardCol: String = "source",
                    idCol: String = "doc_id"): DataFrame = {
    require(maxTokens >= 1, "pack budget must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .withColumn("n_tok", size(split(col("text"), " ")))
      .withColumn("tok_before",
        coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("pack_id",
        floor(col("tok_before").cast("double") / maxTokens).cast("int"))
      .select(col(shardCol), col(idCol), col("n_tok"), col("pack_id"))
  }

  /** Deterministic global training order + shard assignment — the
    * reproducible form of "shuffle the corpus before training": every
    * document gets a dense 0-based `position` in the order of a salted
    * portable hash (re-runs, engines, and partitionings all agree), and
    * `shard_id` = position / shardSize packs the order into
    * fixed-size training shards. Changing the salt is a fresh epoch's
    * reshuffle; keeping it reproduces the exact byte order of the run
    * being debugged — the property a training pipeline needs from its
    * shuffle, which `ORDER BY random()` cannot give.
    *
    * The order key is hash-prefix + "|" + id: globally unique (the id
    * suffix breaks hash-collision ties deterministically) and
    * identically ordered in any engine comparing strings bytewise.
    * Positions come from [[graft.operators.ScaleOps.withPrefixSum]]'s
    * two-phase range scan — dense global enumeration WITHOUT the
    * single-partition global window that would serialize the corpus
    * through one task at scale.
    */
  def shuffleShards(docs: DataFrame, idCol: String, salt: String,
                    shardSize: Int): DataFrame = {
    require(shardSize >= 1, "shuffleShards: shardSize must be positive")
    val key = concat(
      substring(md5(concat(lit(salt + "|"), col(idCol).cast("string"))), 1, 15),
      lit("|"), col(idCol).cast("string"))
    graft.operators.ScaleOps.withPrefixSum(
        docs.select(col(idCol)).withColumn("skey", key)
          .withColumn("one", lit(1)),
        "skey", "one", "position")
      .select(floor(col("position") / shardSize).cast("int").as("shard_id"),
        col("position"), col(idCol))
  }

  /** Per-source document cap — keep each source's `cap` best documents
    * by quality score (the standard per-domain cap of corpus curation:
    * no single domain may dominate the mix, and what survives the cap
    * is the domain's BEST, not a random subset — the ranked complement
    * of [[stratifiedSample]]'s hash-random downsampling). Ordering is
    * (quality desc, doc_id asc), so the selection is deterministic and
    * engine-portable (the score is a fixed sequence of exact-int IEEE
    * divisions — the text_quality discipline).
    *
    * Exact TWO-PHASE top-N, not a single per-source window: a global
    * window partitioned by source puts an entire source on one task,
    * which is precisely the skew a domain cap exists to fight (the
    * dominant source would stall its reducer at corpus scale). Phase 1
    * ranks within (source, salt-bucket) — a row outside its bucket's
    * top-cap cannot be in the source's top-cap, so each bucket forwards
    * at most `cap` survivors. Phase 2 ranks the ≤ buckets × cap
    * survivors per source — a window over cap-bounded, not
    * corpus-bounded, data. Results are identical to the single-window
    * form; only the shuffle skew changes.
    *
    * Returns (source, doc_id, q_rank), q_rank in [1, cap].
    */
  def capPerSource(docs: DataFrame, cap: Int, buckets: Int = 8): DataFrame = {
    require(cap >= 1, "capPerSource: cap must be positive")
    val w = org.apache.spark.sql.expressions.Window
    val scored = docs.select(col("doc_id"), col("source"))
      .join(TextAnalysis.qualityScore(docs)
        .select(col("doc_id"), col("quality_score")), Seq("doc_id"))
    val local = w.partitionBy(col("source"), hashBucket(col("doc_id"), "cap", buckets))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    val global = w.partitionBy(col("source"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    scored
      .withColumn("lrn", row_number().over(local))
      .filter(col("lrn") <= cap)
      .withColumn("q_rank", row_number().over(global))
      .filter(col("q_rank") <= cap)
      .select(col("source"), col("doc_id"), col("q_rank"))
  }

  /** Hashed n-gram feature stream for importance weighting: unigrams
    * plus consecutive-bigram features of the whitespace token stream,
    * each hashed into `[0, buckets)` with the pipeline's portable md5
    * family. One row PER OCCURRENCE (`doc_id`, `bucket`) — DSIR-style
    * importance estimation needs occurrence multiplicity, not presence.
    * Features are formed inside the scan stage (array transform, no
    * positional self-join).
    */
  private def hashedNgramFeatures(docs: DataFrame, buckets: Int,
                                  carry: Seq[String] = Nil): DataFrame = {
    // Typed flatMap (round 17): one corpus pass emits every uni+bigram
    // occurrence's bucket directly via the NB feature kernel
    // ([[Classifier.ngramBuckets]]) under the "dsir|" salt — no
    // interpreted array lambda, no two-scan union, no hex round-trip.
    // Carry is the one boolean slice flag the sliced estimator threads
    // through.
    val spark = docs.sparkSession
    import spark.implicits._
    val kernel = Classifier.ngramBuckets // local copy: the closure must not capture the object
    carry match {
      case Seq() =>
        docs.select(col("doc_id").cast("long"), col("text"))
          .as[(Long, String)]
          .flatMap { case (id, text) => kernel("dsir|", text, buckets).map(bk => (id, bk)) }
          .toDF("doc_id", "bucket")
      case Seq(k) =>
        require(docs.schema(k).dataType ==
          org.apache.spark.sql.types.BooleanType,
          s"hashedNgramFeatures: carry column '$k' must be boolean, got " +
            docs.schema(k).dataType)
        docs.select(col("doc_id").cast("long"),
            col(k).cast("boolean"), col("text"))
          .as[(Long, Option[Boolean], String)]
          .flatMap { case (id, flag, text) =>
            kernel("dsir|", text, buckets).map(bk => (id, flag, bk))
          }
          .toDF("doc_id", k, "bucket")
      case other => throw new IllegalArgumentException(
        s"hashedNgramFeatures: at most one carry column, got $other")
    }
  }

  /** Per-bucket importance log-ratio table — the DSIR estimator (Xie et
    * al. 2023, "Data Selection for Language Models via Importance
    * Resampling"): model the TARGET domain and the RAW pool as bags of
    * hashed n-grams, and weight each feature bucket by
    * `ln p_target(b) − ln p_raw(b)` under add-one smoothing. Returns
    * one row per bucket in [0, buckets): `(bucket, lr_fp)` with the
    * log-ratio in 1e-3 fixed point — snapped BEFORE any per-document
    * summation so downstream sums are long-integer associative
    * (the embedding-centroid fixed-point convention). Buckets unseen in
    * both corpora carry the smoothed prior ratio
    * `ln((Nr+B)/(Nt+B))`-complement naturally: both counts coalesce
    * to 0.
    *
    * Scale: both distributions are ONE partial+final aggregation to
    * `buckets` rows (map-side combine collapses the token stream before
    * the exchange); the ratio table is bounded by `buckets` — broadcast
    * material by construction, never corpus-sized.
    */
  def importanceLogRatios(target: DataFrame, raw: DataFrame,
                          buckets: Int = 4096): DataFrame = {
    require(buckets >= 2, "importanceLogRatios: need at least two buckets")
    val t = hashedNgramFeatures(target, buckets)
      .groupBy(col("bucket")).agg(count(lit(1)).as("ct"))
    val r = hashedNgramFeatures(raw, buckets)
      .groupBy(col("bucket")).agg(count(lit(1)).as("cr"))
    ratiosFromCounts(t.join(r, Seq("bucket"), "full"), buckets)
  }

  /** [[importanceLogRatios]] for the common case where the target domain
    * is a SLICE of the scored pool (`targetPred` over the same frame):
    * both distributions come off ONE feature-stream pass — a conditional
    * count beside the total in a single partial+final aggregation —
    * instead of two corpus scans. Identical output to the two-frame form
    * with `target = docs.filter(targetPred)`, `raw = docs`; at 100 TB
    * this halves the dominant cost (the corpus scan).
    */
  def importanceLogRatiosSliced(docs: DataFrame, targetPred: Column,
                                buckets: Int = 4096): DataFrame = {
    require(buckets >= 2, "importanceLogRatios: need at least two buckets")
    ratiosFromCounts(importanceCountsBuild(docs, targetPred, buckets), buckets)
  }

  /** The sliced estimator's per-bucket count frame `(bucket, ct, cr)` —
    * target-slice and raw occurrence counts off one feature-stream
    * pass. ADDITIVE under [[importanceCountsMerge]]
    * (`build(A) ⊕ build(B) == build(A ∪ B)`), which is what lets a
    * stream maintain the estimator's state
    * ([[graft.streaming.Streams.dsirMaintainPipeline]]) without
    * re-reading the corpus; [[importanceRatiosFromCounts]] turns the
    * accumulated counts into the ratio table whenever needed.
    */
  def importanceCountsBuild(docs: DataFrame, targetPred: Column,
                            buckets: Int = 4096): DataFrame =
    hashedNgramFeatures(
        docs.withColumn("_is_target", targetPred), buckets,
        carry = Seq("_is_target"))
      .groupBy(col("bucket"))
      .agg(count(when(col("_is_target"), lit(1))).as("ct"),
        count(lit(1)).as("cr"))
      .withColumn("buckets", lit(buckets))

  /** Additive merge of two [[importanceCountsBuild]] frames. NOT
    * idempotent — stream maintenance pairs it with batch-id
    * insert-if-absent, the additive-fold discipline. Stamped inputs
    * must agree on geometry; the common stamp rides to the output.
    */
  def importanceCountsMerge(a: DataFrame, b: DataFrame): DataFrame = {
    val stamp = Stamp.agreeing(Seq(a, b), "importanceCountsMerge", Seq("buckets"))
    val cols = Seq("bucket", "ct", "cr").map(col)
    Stamp.restamp(
      a.select(cols: _*).unionByName(b.select(cols: _*))
        .groupBy(col("bucket"))
        .agg(sum(col("ct")).as("ct"), sum(col("cr")).as("cr")), stamp)
  }

  /** Right-to-be-forgotten for the importance estimator: subtract a
    * removed cohort's [[importanceCountsBuild]] from the accumulated
    * bucket counts — bit-identical to rebuilding on the survivors
    * (both the target and raw tallies are invertible; buckets whose
    * counts zero out drop, as a rebuild would omit them). Refuses a
    * cohort the state never folded in. The cohort must be subtracted
    * with the SAME target predicate it was folded under.
    */
  def importanceCountsSubtract(state: DataFrame,
                               removed: DataFrame): DataFrame = {
    val stamp = Stamp.agreeing(Seq(state, removed),
      "importanceCountsSubtract", Seq("buckets"))
    Stamp.restamp(
      graft.operators.ScaleOps.subtractCounts(state, removed,
        keys = Seq("bucket"), counts = Seq("ct", "cr"),
        what = "importanceCountsSubtract"), stamp)
  }

  /** The smoothed fixed-point ratio table from accumulated
    * [[importanceCountsBuild]] counts — bit-identical to
    * [[importanceLogRatiosSliced]] over the concatenated corpus when
    * the counts were folded additively (the streaming oracle pins it).
    */
  def importanceRatiosFromCounts(counts: DataFrame,
                                 buckets: Int = 4096): DataFrame = {
    require(Seq("bucket", "ct", "cr").forall(counts.columns.contains),
      "importanceRatiosFromCounts: not a DSIR count state — need " +
        "(bucket, ct, cr) as built by importanceCountsBuild")
    Stamp.require(counts, "importanceRatiosFromCounts", Seq("buckets" -> buckets))
    ratiosFromCounts(counts.select(col("bucket"), col("ct"), col("cr")),
      buckets)
  }

  /** Smoothed fixed-point log-ratio table from per-bucket (ct, cr)
    * counts — shared tail of the two ratio constructors. The ≤`buckets`-
    * row count frame is materialized ONCE with an eager localCheckpoint
    * (the scalar totals and the final join both read the materialized
    * blocks, so the corpus-sized feature stream aggregates exactly
    * once) — not `persist()`, which would leave a cache-manager entry
    * lingering for the session per ratio-table construction.
    */
  private def ratiosFromCounts(counts0: DataFrame, buckets: Int): DataFrame = {
    val spark = counts0.sparkSession
    import spark.implicits._
    val counts = counts0.localCheckpoint(eager = true)
    val (nt, nr) = counts
      .select(sum(col("ct")), sum(col("cr")))
      .as[(Option[Long], Option[Long])].head() match {
      case (t, r) => (t.getOrElse(0L), r.getOrElse(0L))
    }
    val pT = (coalesce(col("ct"), lit(0L)).cast("double") + lit(1.0)) /
      lit(nt.toDouble + buckets)
    val pR = (coalesce(col("cr"), lit(0L)).cast("double") + lit(1.0)) /
      lit(nr.toDouble + buckets)
    // the ratio table carries the geometry stamp forward:
    // importanceWeights hashes features with ITS buckets parameter,
    // and a table applied under a different geometry skews silently
    spark.range(buckets).select(col("id").cast("int").as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        round((log(pT) - log(pR)) * lit(1000), 0).cast("long").as("lr_fp"))
      .withColumn("buckets", lit(buckets))
  }

  /** Per-document DSIR importance weights: each document's hashed
    * n-gram occurrences look up their bucket's [[importanceLogRatios]]
    * entry and sum in fixed point; `avg_w` (the per-feature mean
    * log-ratio — positive ⇒ the document looks more like the target
    * domain than the raw pool) is the resampling key. Whitespace split
    * yields at least one (possibly empty-string) token for every
    * document, so every doc scores; the left join + NULL guard below
    * only defends against a `docs` row dropped upstream.
    *
    * Scale: the ratio table is ≤`buckets` rows — explicitly BROADCAST
    * onto the feature stream, so the only shuffle is the final doc_id
    * rollup. At 100 TB this is scan + broadcast-hash-join + one
    * partial+final agg: the cheapest possible shape for a full-corpus
    * scoring pass.
    */
  def importanceWeights(docs: DataFrame, ratios: DataFrame,
                        buckets: Int = 4096): DataFrame = {
    require(Seq("bucket", "lr_fp").forall(ratios.columns.contains),
      "importanceWeights: not a ratio table — need (bucket, lr_fp) as " +
        "built by importanceLogRatios")
    Stamp.require(ratios, "importanceWeights", Seq("buckets" -> buckets))
    val per = hashedNgramFeatures(docs, buckets)
      .join(broadcast(ratios.select(col("bucket"), col("lr_fp"))),
        Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("lr_fp")).as("sum_w_fp"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("sum_w_fp"), lit(0L)).as("sum_w_fp"),
        when(col("n_feats").isNotNull,
          col("sum_w_fp").cast("double") /
            (col("n_feats").cast("double") * lit(1000.0))).as("avg_w"))
  }

  /** Top-k DSIR selection: the `k` documents whose importance weight
    * says "most target-like", deterministic tie-break on doc_id.
    * `ORDER BY … LIMIT k` plans as TakeOrderedAndProject — per-partition
    * top-k then a k-sized driver merge, never a global sort — so the
    * selection pass costs one scan at any corpus size.
    */
  def importanceSelect(weights: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "importanceSelect: k must be positive")
    weights.filter(col("avg_w").isNotNull)
      .orderBy(col("avg_w").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("n_feats"), col("avg_w"))
  }

  /** Content-addressed diff of two corpus releases — the dataset-
    * versioning primitive behind "what changed between release t0 and
    * t1": every doc id is classified `added` (only in next), `removed`
    * (only in prev), `changed` (both, content fingerprints differ) or
    * `unchanged`. Fingerprints are md5 of the raw text (the exact-dedup
    * family's content hash), computed INSIDE each side's scan stage —
    * the join shuffles 32-char hashes keyed by doc_id, never document
    * text, so at 100 TB the exchange is id+hash-sized. With both
    * releases laid out bucketed by doc_id the join is zero-exchange.
    */
  /** INCREMENTAL per-document metadata maintenance across releases —
    * the discipline that makes corpus-wide scores affordable at
    * 100 TB: release t1's score table is t0's PERSISTED table with
    * only the added/changed documents re-scored. `state` is the prior
    * release's scores keyed by `(doc_id, content_hash)`; documents
    * whose hash matches CARRY their state row verbatim (their text is
    * never re-read, let alone re-scored — phase B touches t1's scan
    * and the state table only), the rest flow through `score`. Rows
    * for removed documents drop. The emitted `scored_in` column
    * ('carried' / 'rescored') makes the split oracle-checkable; it is
    * an audit column of THIS maintenance pass, so a prior release's
    * `scored_in` in `state` is dropped on entry — the emitted table
    * chains release-over-release as the next call's state verbatim.
    *
    * Equivalence contract: when `score` is deterministic and t0's
    * state was produced by the same `score`, the result is
    * bit-identical to scoring t1 from scratch — the incremental
    * oracle pins exactly that.
    */
  def incrementalScores(state: DataFrame, next: DataFrame)
                       (score: DataFrame => DataFrame): DataFrame = {
    require(Seq("doc_id", "content_hash").forall(state.columns.contains),
      "incrementalScores: state must carry (doc_id, content_hash) — " +
        "persist the prior release's scores with their content hashes")
    val st = state.drop("scored_in")
    val nh = next.withColumn("content_hash", md5(col("text")))
    val carried = nh.select(col("doc_id"), col("content_hash"))
      .join(st, Seq("doc_id", "content_hash"))
    val toScore = nh
      .join(carried.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val rescored = score(toScore.drop("content_hash"))
      .join(toScore.select(col("doc_id"), col("content_hash")), Seq("doc_id"))
    carried.withColumn("scored_in", lit("carried"))
      .unionByName(rescored.select(carried.columns.map(col): _*)
        .withColumn("scored_in", lit("rescored")))
  }

  def releaseDiff(prev: DataFrame, next: DataFrame): DataFrame = {
    def hashed(df: DataFrame, as: String): DataFrame =
      df.select(col("doc_id"), md5(col("text")).as(as))
    hashed(prev, "prev_hash")
      .join(hashed(next, "next_hash"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("prev_hash").isNull, lit("added"))
          .when(col("next_hash").isNull, lit("removed"))
          .when(col("prev_hash") === col("next_hash"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("prev_hash"), col("next_hash"))
  }
}
