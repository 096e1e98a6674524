package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.ScaleOps

/** The UNIFIED corpus admission ensemble — the front door's seven
  * independent gates (source exclusion, quality heuristics, bench-Bloom
  * shingle decontamination, semantic embedding sweep, maintained-LM
  * quality threshold, NB label gate, near-dup band-state collision)
  * evaluated TOGETHER into one
  * per-document decision record: which gate said what, with what score,
  * and the single resulting keep/drop. This is the audit artifact a
  * production curation stack ships with every release — "why was this
  * document dropped" answered by a table, not by re-running five
  * pipelines — and the calibration surface for tuning any one gate
  * without guessing at the others' overlap.
  *
  * One definition, batch AND streaming: every verdict is a function of
  * the document and FROZEN side artifacts (the Bloom bitmap, the
  * persisted bench-signature state, the LM and NB models), never of
  * other corpus documents — so evaluating micro-batches independently
  * ([[graft.streaming.Streams.admissionPipeline]] runs this exact
  * function per batch) produces bit-identical decisions to one batch
  * pass. The gate definitions are SHARED with the standalone operators,
  * not restated: quality is [[TextAnalysis.qualityPass]] (the
  * `qualityGateDocs` predicate), contamination is the
  * [[graft.streaming.Streams.corpusCleanStream]] shingle-fraction
  * projection, semantic is [[Corpus.embeddingContaminatedIds]] (the
  * release chain's sweep), LM is [[TextAnalysis.lmScoreBigram]] with
  * the gate-threshold semantics of `lmGatePipeline` (unscorable
  * rejects), NB is [[Classifier.nbClassify]] with an allowed-label set,
  * near-dup is the [[Dedup.bandTable]] bucket-collision probe of
  * [[Dedup.incrementalNearDupFromState]] against the FROZEN
  * admitted-corpus band state (self-rows excluded, the `excludeIds`
  * replay discipline).
  *
  * Scale shape: five projections in the scan of the documents
  * (source, quality, contamination — the Bloom probe is a bitmap
  * column, no join — and the LM and NB scores, each a lookup in a model
  * broadcast once), one banded broadcast-join sweep (bench state is
  * eval-corpus-sized; cosine verifies every candidate row and the ids
  * are deduplicated once, so no exchange carries the embedding pairs),
  * and one band-state equi-join keyed on (band, bkey) — against the
  * state reduced to one (min, max) doc_id pair per bucket — with ONE
  * per-doc rollup. The whole report is a constant number of corpus
  * scans with broadcast-bounded or band-keyed equi-joins, no
  * doc-by-doc term anywhere.
  *
  * Frozen artifacts are resolved ONCE per consumer: [[report]] collects
  * and broadcasts both models, applies the Bloom gate once
  * ([[shingleHits]]: the bitmap collect), and validates the
  * bench-signature and band-state layouts and the embeddings' length
  * itself; a streaming pipeline does the same at start
  * ([[requireLayouts]], [[shingleHits]], [[TextAnalysis.resolveLm]],
  * [[Classifier.resolveNb]]) and runs [[reportResolved]] — which
  * builds its plan without running a job — per micro-batch, so no
  * batch pays a probe or re-reads frozen state.
  */
object Admission {

  /** Semantic leg configuration: the embeddings side table, the
    * PERSISTED bench-signature state ([[Corpus.benchSignatureTable]])
    * and the cosine threshold — the
    * [[graft.streaming.Streams.SemanticGate]] triple, importable from
    * the ext layer.
    */
  final case class SemanticCfg(emb: DataFrame, benchState: DataFrame,
                               threshold: Double, numPlanes: Int = 16,
                               bandWidth: Int = 4, dim: Int = 64)

  /** Near-dup leg configuration (round 14 — the seventh gate): the
    * PERSISTED band state of the already-admitted corpus
    * ([[Dedup.bandTable]] / [[Dedup.writeBandState]] rows — the same
    * state the incremental admission operators probe) plus the layout
    * it was built with. A document fails this gate when any of its
    * band buckets collides with a state row of a DIFFERENT doc_id —
    * the reference's own dedup discipline (DISTINCT ON dedup at load,
    * silver_load.sql:38; insert-if-absent upsert, S7) applied at the
    * corpus front door. The
    * self-exclusion mirrors `incrementalNearDupFromState(excludeIds)`:
    * a document colliding only with its own previously-persisted bands
    * is a replay, not a near-duplicate.
    *
    * @param stateDir when the state lives in [[Dedup.writeBandState]]'s
    *        partitioned layout, its directory — per-micro-batch
    *        consumers ([[graft.streaming.Streams.admissionPipeline]])
    *        re-read the state PRUNED to the batch's probe cells via
    *        [[Dedup.readBandState]] instead of joining the full state
    *        every batch (O(batch-cells) file reads, not O(state) —
    *        the nprobe discipline the layout exists for). Batch-mode
    *        consumers and the fallback use `seenBands` directly.
    * @param bands precomputed [[Dedup.bandTable]] of the DOCUMENTS
    *        under evaluation (not the state) — lets a caller that
    *        already built the probe (to prune the state read) hand it
    *        to [[report]] instead of paying a second shingle→minhash
    *        pass over the batch.
    */
  final case class NearDupCfg(seenBands: DataFrame, w: Int = 3,
                              numHashes: Int = 8, bandWidth: Int = 2,
                              stateDir: Option[String] = None,
                              bands: Option[DataFrame] = None)

  /** Gate names in decision order (the numeric prefix makes the long
    * table sort into evaluation order).
    */
  val GateOrder: Seq[String] = Seq("1_source", "2_quality",
    "3_contamination", "4_semantic", "5_lm", "6_nb", "7_neardup",
    "8_decision")

  /** The decision row's gate name — the conjunction row, not a gate. */
  val DecisionGate: String = GateOrder.last

  /** Evaluate every gate on every document and emit the long-format
    * decision table `(doc_id, gate, pass, score)` — one row per
    * (document, gate) plus the `8_decision` row whose `pass` is the
    * conjunction of all gates (the single keep/drop). Gates are
    * INDEPENDENT verdicts: a document failing quality still carries
    * its contamination/LM/NB verdicts, which is what makes the table
    * an audit/calibration artifact rather than a filter trace. `score`
    * is each gate's natural statistic (distinct-token ratio, bench
    * shingle-hit fraction, avg log-prob, fixed-point NB score) and
    * NULL where none exists; a gate that cannot certify a document
    * (no LM pairs, unknown NB label space) REJECTS, the front door's
    * convention.
    */
  def report(docs: DataFrame, benchSources: Seq[String],
             shingleGate: Column => Column, contamThreshold: Double,
             semantic: Option[SemanticCfg],
             lmModel: DataFrame, minAvgLp: Double,
             nbModel: DataFrame, allowedLabels: Seq[String],
             nbBuckets: Int = 1024,
             nearDup: Option[NearDupCfg] = None): DataFrame = {
    requireLayouts(semantic, nearDup)
    reportResolved(docs, benchSources, shingleHits(shingleGate),
      contamThreshold, semantic, TextAnalysis.resolveLm(lmModel), minAvgLp,
      Classifier.resolveNb(nbModel, nbBuckets), allowedLabels, nearDup)
  }

  /** The contamination gate's per-document Bloom hit count — how many
    * of the document's distinct 5-shingles (`_sh`, the column
    * [[reportResolved]] projects) the gate says the bench set might
    * contain. Applying `shingleGate` is where the gate's artifact gets
    * resolved ([[Sketches.bloomGateColumn]] collects its bitmap), so a
    * consumer builds this column ONCE and hands it to every
    * [[reportResolved]] call.
    */
  private[graft] def shingleHits(shingleGate: Column => Column): Column =
    size(filter(col("_sh"), shingleGate))

  /** Fail loudly when a gate's persisted state was built under a
    * different layout than the gate is called with: the bench-signature
    * state's banding, the embeddings' length against the planes, the
    * near-dup band state's and a caller-supplied probe's (w,
    * num_hashes, band_width). One one-row probe each; a consumer
    * validates once per frozen state, not per evaluation.
    */
  private[graft] def requireLayouts(semantic: Option[SemanticCfg],
                                    nearDup: Option[NearDupCfg]): Unit = {
    semantic.foreach { g =>
      Stamp.require(g.benchState, "bench-signature state",
        Corpus.benchSigLayout(g.numPlanes, g.bandWidth, g.dim))
      Similarity.requireDim(g.emb, g.dim)
    }
    nearDup.foreach { g =>
      val layout = Dedup.bandLayout(g.w, g.numHashes, g.bandWidth)
      (("seen band table", g.seenBands) +: g.bands.map("probe band table" -> _).toSeq)
        .foreach { case (what, b) =>
          Dedup.requireLayoutCols(b, what, layout)
          Stamp.require(b, what, layout)
        }
    }
  }

  /** [[report]] over resolved models, a resolved Bloom hit count
    * ([[shingleHits]]) and layouts its caller validated
    * ([[requireLayouts]]): builds the plan without running a job.
    */
  private[graft] def reportResolved(docs: DataFrame,
                                    benchSources: Seq[String],
                                    shingleHits: Column,
                                    contamThreshold: Double,
                                    semantic: Option[SemanticCfg],
                                    lm: LmScorer, minAvgLp: Double,
                                    nb: NbScorer,
                                    allowedLabels: Seq[String],
                                    nearDup: Option[NearDupCfg]): DataFrame = {
    require(allowedLabels.nonEmpty,
      "admission report: empty allowed-label set would reject everything")
    // contamination probe: corpusCleanStream's projection verbatim
    // (5-shingles, distinct, Bloom might-contain fraction) — via the
    // native codegen'd ShingleArray kernel (round 17; bit-identical to
    // the array_distinct(transform(sequence, slice, array_join)) chain,
    // whose per-element lambdas Catalyst interprets), with the sub-5-
    // token and null-text guards folded in (empty array both ways —
    // the stream form never sees either; the report evaluates every
    // gate on every doc)
    val shArr = coalesce(
      graft.functions.KeyColumns.shingle_array(col("text"), 5),
      array().cast("array<string>"))
    val nTok = size(split(col("text"), " "))
    val wide = docs.select(col("doc_id"), col("source"), col("text"))
      .withColumn("_src_pass", !col("source").isin(benchSources: _*))
      .withColumn("_q_pass", TextAnalysis.qualityPass)
      .withColumn("_q_score",
        size(array_distinct(split(col("text"), " "))).cast("double") /
          nTok.cast("double"))
      .withColumn("_sh", shArr)
      .withColumn("_n_sh", size(col("_sh")))
      .withColumn("_n_hit", shingleHits)
      .withColumn("_c_pass", col("_n_sh") === 0 ||
        col("_n_hit").cast("double") <
          lit(contamThreshold) * col("_n_sh").cast("double"))
      .withColumn("_c_score", when(col("_n_sh") > 0,
        col("_n_hit").cast("double") / col("_n_sh").cast("double")))
      .drop("_sh")
      // LM and NB gates: per-row lookups in the broadcast models, in the
      // same scan — no pair explode, model join or doc_id rollup
      .withColumn("_lm", lm.scoreColumn(col("text")))
      .withColumn("_nb", nb.classifyColumn(col("text")))
    val withSem = semantic match {
      case Some(g) =>
        val flagged = Corpus.sweepBenchSignatures(
            docs.select(col("doc_id")), g.emb, g.benchState, g.threshold,
            g.numPlanes, g.bandWidth, g.dim)
          .withColumn("_sem_hit", lit(true))
        wide.join(flagged, Seq("doc_id"), "left")
          .withColumn("_sem_pass", coalesce(col("_sem_hit"), lit(false)) === false)
          .drop("_sem_hit")
      case None => wide.withColumn("_sem_pass", lit(true))
    }
    // near-dup probe (gate 7): the document's band buckets against the
    // FROZEN admitted-corpus band state — collision with a different
    // doc_id fails; score is the fraction of the doc's bands that
    // collide (the contamination gate's fraction semantics applied to
    // band space). A document too short to shingle has no bands and no
    // near-dup EVIDENCE: it PASSES with score NULL — the shared
    // incremental-admission semantics (incrementalNearDup admits
    // shingle-less docs), deliberately diverging from the LM/NB
    // cannot-certify-rejects convention because here absence of
    // evidence is a definite verdict, not an unscorable one.
    val withNd = nearDup match {
      case Some(g) =>
        // the probe: caller-precomputed when present (the pruned-state
        // pipeline builds it anyway to collect the batch's cells —
        // paying a second shingle→minhash pass here would double the
        // per-batch cost)
        val bands = g.bands
          .getOrElse(Dedup.bandTable(docs, g.w, g.numHashes, g.bandWidth))
          .select(col("doc_id"), col("band"), col("bkey"))
        // ONE rollup: the state is reduced to one (min, max) doc_id
        // pair per bucket, the doc bands LEFT-join it, and one per-doc
        // aggregate yields band count and hit count together. A band
        // hits iff its bucket holds a non-null doc_id other than the
        // doc's own — the excludeIds discipline: the bucket's ids are
        // all the doc's own exactly when min = max = doc_id, and
        // min/max skip null state ids, so a bucket of null ids never
        // hits. bandTable emits one row per (doc_id, band), so per-doc
        // row counts are band counts. Building the band table once
        // matters: it is a full corpus shingle→minhash pipeline, and
        // the two-subtree form (separate count and hit aggregations)
        // would run it twice — the exact double-model-subtree plan bug
        // class the report family already fixed once.
        val seen = g.seenBands
          .groupBy(col("band"), col("bkey"))
          .agg(min(col("doc_id")).as("_smin"), max(col("doc_id")).as("_smax"))
        val probe = bands
          .join(seen, Seq("band", "bkey"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("_nd_n"),
            sum(when(col("_smin").isNotNull &&
                !(col("_smin") === col("doc_id") && col("_smax") === col("doc_id")),
              lit(1L)).otherwise(lit(0L))).as("_nd_hits"))
        withSem
          .join(probe, Seq("doc_id"), "left")
          .withColumn("_nd_pass", coalesce(col("_nd_hits"), lit(0L)) === 0)
          .withColumn("_nd_score",
            when(col("_nd_n").isNotNull,
              coalesce(col("_nd_hits"), lit(0L)).cast("double") /
                col("_nd_n").cast("double")))
          .drop("_nd_n", "_nd_hits")
      case None => withSem.withColumn("_nd_pass", lit(true))
        .withColumn("_nd_score", lit(null).cast("double"))
    }
    val full = withNd
      .withColumn("avg_lp",
        TextAnalysis.avgLp(col("_lm.n_pairs"), col("_lm.sum_lp_fp")))
      .withColumn("_lm_pass",
        col("avg_lp").isNotNull && col("avg_lp") >= lit(minAvgLp))
      .withColumn("_nb_pass",
        coalesce(col("_nb.pred_label").isin(allowedLabels: _*), lit(false)))
    def rec(gate: String, pass: Column, score: Column) =
      struct(lit(gate).as("gate"),
        coalesce(pass, lit(false)).as("pass"),
        score.cast("double").as("score"))
    val keep = Seq("_src_pass", "_q_pass", "_c_pass", "_sem_pass",
      "_lm_pass", "_nb_pass", "_nd_pass").map(c => coalesce(col(c), lit(false)))
      .reduce(_ && _)
    full.select(col("doc_id"), explode(array(
        rec("1_source", col("_src_pass"), lit(null)),
        rec("2_quality", col("_q_pass"), col("_q_score")),
        rec("3_contamination", col("_c_pass"), col("_c_score")),
        rec("4_semantic", col("_sem_pass"), lit(null)),
        rec("5_lm", col("_lm_pass"), col("avg_lp")),
        rec("6_nb", col("_nb_pass"), col("_nb.score_fp")),
        rec("7_neardup", col("_nd_pass"), col("_nd_score")),
        rec(DecisionGate, keep, lit(null)))).as("r"))
      .select(col("doc_id"), col("r.gate").as("gate"),
        col("r.pass").as("pass"), col("r.score").as("score"))
  }

  /** Refuse-loudly coverage guard shared by the rollups: a report row
    * missing for any (doc, gate) pivots to NULL, which would
    * null-poison the pass conjunctions and silently zero every count
    * (the exact failure a persisted SIX-gate decision table from
    * before the 7_neardup gate produces). The per-gate null counts
    * ride in the SAME single aggregate as the overlap counts — no
    * second scan of the report — and an `assert_true` filter over the
    * aggregated rows turns any gap into a loud execution-time
    * error, the [[Stamp]] discipline applied to decision
    * tables. Catches both a wholly-missing gate and a single doc's
    * dropped row.
    */
  private def withCoverageGuard(agg: DataFrame, what: String): DataFrame =
    agg.filter(RollupGates.map { g =>
      assert_true(col(s"${g}__n_null") === 0,
        concat(col(s"${g}__n_null").cast("string"),
          lit(s" documents lack a '$g' row in the decision table fed to " +
            s"$what — built by an older/narrower report than GateOrder " +
            s"(${GateOrder.mkString(", ")}); rebuild it with " +
            "Admission.report"))).isNull
    }.reduce(_ && _))

  /** The seven gates the calibration rollups pivot (the decision row is
    * their conjunction, so no rollup reads it).
    */
  private val RollupGates: Seq[String] = GateOrder.filterNot(_ == DecisionGate)

  /** The ONE calibration-rollup skeleton every rollup below runs: pivot
    * the seven gates into one row per (keys, doc) with `pivotAggs`
    * (`passCol` names a gate's pass column in that row: the gate itself
    * under one pivot aggregation, `<gate>_pass` under several), run ONE
    * aggregate per key emitting `counts` plus the coverage guard's
    * per-gate null counts, and explode the `rows` structs (fields named
    * as the output columns) to the bounded row shape, keys first. With
    * no keys both groupings are global aggregates — one row, no key
    * column. Single pass by construction — one aggregate, never a
    * per-gate branch and a union — the plan that survives 100×.
    */
  private def rollup(report: DataFrame, keys: Seq[String], what: String,
                     pivotAggs: Seq[Column], passCol: String => Column,
                     counts: Seq[Column], rows: Seq[Column]): DataFrame = {
    val keyCols = keys.map(col)
    val wide = report.filter(col("gate") =!= DecisionGate)
      .groupBy(keyCols :+ col("doc_id"): _*)
      .pivot("gate", RollupGates)
      .agg(pivotAggs.head, pivotAggs.tail: _*)
    val all = counts ++ RollupGates.map(g =>
      count(when(passCol(g).isNull, lit(1))).as(s"${g}__n_null"))
    withCoverageGuard(wide.groupBy(keyCols: _*).agg(all.head, all.tail: _*),
        what)
      .select(keyCols :+ explode(array(rows: _*)).as("r"): _*)
      .select(keyCols :+ col("r.*"): _*)
  }

  /** CALIBRATION rollup of a [[report]] decision table: per gate, how
    * many documents it fails (`n_fail`) and how many it ALONE keeps
    * out (`n_fail_alone` — the doc passes every other gate). The
    * numbers that say which gate is load-bearing and which is
    * redundant overlap — tuning one threshold without this table is
    * guessing at the ensemble's joint behavior. Works on any report
    * output (batch, or the union of a streamed run's per-batch
    * tables). Six bounded rows from one pivot + ONE aggregate
    * ([[rollup]]).
    */
  def gateOverlap(report: DataFrame): DataFrame = {
    val gates = RollupGates
    val counts = gates.flatMap { g =>
      val others = gates.filterNot(_ == g).map(col).reduce[Column](_ && _)
      Seq(count(when(!col(g), lit(1))).as(s"${g}__n_fail"),
        count(when(!col(g) && others, lit(1))).as(s"${g}__n_fail_alone"))
    }
    rollup(report, Nil, "gateOverlap", Seq(first(col("pass"))), col, counts,
      gates.map(g => struct(lit(g).as("gate"),
        col(s"${g}__n_fail").as("n_fail"),
        col(s"${g}__n_fail_alone").as("n_fail_alone"))))
  }

  /** PAIRWISE overlap matrix of a [[report]] decision table: for every
    * unordered gate pair (a ≤ b), how many documents fail BOTH — the
    * joint-failure counts that complete what [[gateOverlap]]'s marginal
    * n_fail / n_fail_alone cannot answer: WHICH gates are redundant
    * with which (a high n_both relative to either marginal means the
    * pair guards the same documents; zero means disjoint failure
    * populations). The diagonal (a = b) is the gate's n_fail, so the
    * matrix subsumes the marginals and a reader can derive any overlap
    * coefficient (Jaccard, conditional fail rate) from this one table.
    * Same single-pass shape as [[gateOverlap]]: one pivot + ONE
    * aggregate emitting all (7·8)/2 = 28 counts, exploded to rows —
    * never a per-pair rescan. Bounded output (28 rows) regardless of
    * corpus size. [[gateOverlapMatrixBy]] with no key.
    */
  def gateOverlapMatrix(report: DataFrame): DataFrame =
    overlapMatrix(report, Nil, "gateOverlapMatrix")

  /** [[gateOverlapMatrix]] keyed by a TIME AXIS (release id, batch id):
    * the joint-failure matrix per key over a union of per-release
    * decision tables, so calibration drift across releases is a QUERY
    * over one artifact — not a diff of two runs' outputs. Same
    * single-pass shape with the key threaded through both aggregations
    * (pivot grouped by (key, doc), counts grouped by key); bounded
    * output (28 rows × |keys|). The coverage guard runs per key via the
    * same in-aggregate null counts — a release whose report predates a
    * gate refuses loudly instead of zeroing its row.
    */
  def gateOverlapMatrixBy(report: DataFrame, keyCol: String): DataFrame =
    overlapMatrix(report, Seq(keyCol), "gateOverlapMatrixBy")

  private def overlapMatrix(report: DataFrame, keys: Seq[String],
                            what: String): DataFrame = {
    val pairs = for {
      a <- RollupGates; b <- RollupGates if a <= b
    } yield (a, b)
    rollup(report, keys, what, Seq(first(col("pass"))), col,
      pairs.map { case (a, b) =>
        count(when(!col(a) && !col(b), lit(1))).as(s"${a}__${b}")
      },
      pairs.map { case (a, b) =>
        struct(lit(a).as("gate_a"), lit(b).as("gate_b"),
          col(s"${a}__${b}").as("n_both"))
      })
  }

  /** SEQUENTIAL survival funnel of a [[report]] decision table: the
    * gates applied cumulatively in decision order — per gate, how many
    * documents reach it (`n_in` = survivors of every earlier gate) and
    * how many survive it (`n_out`). The view [[gateOverlap]]'s
    * marginals and [[gateOverlapMatrix]]'s pairwise counts cannot give:
    * what the pipeline looks like as a pipeline — where the corpus
    * actually thins when the gates run as the ordered front door.
    * `n_in` of the first gate is the corpus size; `n_out` of the last
    * equals the `8_decision` keep count (the conjunction is
    * order-independent, so the funnel's end state is the decision —
    * spec-pinned). Same single-pass shape as the other rollups: one
    * pivot + ONE aggregate emitting all 14 counts, exploded to seven
    * rows, with the same refuse-loudly coverage guard.
    * [[gateFunnelBy]] with no key.
    */
  def gateFunnel(report: DataFrame): DataFrame =
    funnel(report, Nil, "gateFunnel")

  /** Per-gate SCORE DISTRIBUTION profile of a [[report]] decision
    * table: for every gate that emits a score and every requested
    * quantile fraction q, the EXACT type-1 (no-interpolation) order
    * statistic — the score at 1-based rank `max(1, ceil(q·n))` of the
    * gate's non-null scores in ascending (score, doc_id) order — plus
    * the scored count n. q = 0 is the minimum, q = 1 the maximum,
    * q = 0.5 the lower median. This grounds threshold choice (the LM
    * cut, a future quality cut) in the observed score distribution
    * instead of folklore, and the type-1 definition is what makes the
    * result engine-portable: the value is always a MEMBER of the score
    * multiset, never an interpolated float with engine-specific
    * rounding.
    *
    * Scale shape: NOT a `Window.partitionBy(gate)` rank (seven
    * corpus-sized partitions = seven serial tasks at 100 TB), and —
    * since round 15's continuation — not a per-gate loop either: ALL
    * gates' quantiles come from ONE
    * [[graft.operators.ScaleOps.exactRanksByKey]] selection —
    * range-partition the scores by `(gate, score, doc_id)` (every
    * gate's total order lands in contiguous partition ranges
    * simultaneously), count (partition, gate) segments, read out only
    * the rows holding requested ranks. TWO jobs total regardless of
    * gate count, where the per-gate [[graft.operators.ScaleOps
    * .exactRanks]] loop paid `1 + 2·|gates|` jobs and `|gates|` range
    * shuffles over the same relation; the per-gate counts ride out of
    * the counting pass, so no separate `groupBy(gate).count()` job
    * either. Callers pass exact-binary fractions (quarters, eighths)
    * so `ceil(q·n)` is immune to float representation at every n.
    */
  def gateScoreProfile(report: DataFrame, qs: Seq[Double]): DataFrame = {
    val scored = report.filter(col("gate") =!= DecisionGate &&
      col("score").isNotNull)
    try Eval.scoreProfileByKey(scored, "gate", "score", "doc_id", qs)
    catch {
      case e: IllegalArgumentException if e.getMessage != null &&
        e.getMessage.contains("empty input") =>
        throw new IllegalArgumentException(
          "gateScoreProfile: no gate carries a non-null score — not a " +
            "decision table produced by Admission.report")
    }
  }

  /** [[gateFunnel]] keyed by a TIME AXIS (release id, batch id): the
    * cumulative survival funnel per key over a union of per-release
    * decision tables — where each release's corpus thins, as a QUERY
    * over one artifact, completing the time axis for the funnel the
    * way [[gateOverlapMatrixBy]] completes it for the pairwise matrix
    * (the marginals derive from the matrix diagonal, so all three
    * calibration views now have the release axis). Same single-pass
    * shape with the key threaded through both aggregations (pivot
    * grouped by (key, doc), counts grouped by key); bounded output
    * (7 rows × |keys|). The coverage guard runs per key via the same
    * in-aggregate null counts — a release whose report predates a
    * gate refuses loudly instead of zeroing its funnel.
    */
  def gateFunnelBy(report: DataFrame, keyCol: String): DataFrame =
    funnel(report, Seq(keyCol), "gateFunnelBy")

  private def funnel(report: DataFrame, keys: Seq[String],
                     what: String): DataFrame = {
    val gates = RollupGates
    val counts = gates.indices.flatMap { i =>
      val before =
        if (i == 0) lit(true)
        else gates.take(i).map(col).reduce[Column](_ && _)
      val upTo = gates.take(i + 1).map(col).reduce[Column](_ && _)
      Seq(count(when(before, lit(1))).as(s"${gates(i)}__n_in"),
        count(when(upTo, lit(1))).as(s"${gates(i)}__n_out"))
    }
    rollup(report, keys, what, Seq(first(col("pass"))), col, counts,
      gates.map(g => struct(lit(g).as("gate"),
        col(s"${g}__n_in").as("n_in"),
        col(s"${g}__n_out").as("n_out"))))
  }

  /** CALIBRATION sweep of the LM gate's threshold — the ensemble's one
    * pure-threshold knob (`5_lm` passes iff `avg_lp >= minAvgLp`; every
    * other gate is a composite predicate, not a scalar cut). For each
    * candidate threshold: `n_fail` (documents the LM gate would fail at
    * that cut — score NULL counts as fail, the [[report]] convention)
    * and `n_admit` (documents the FULL ensemble would admit: every
    * other gate passes and the LM score clears the cut) — the
    * what-does-moving-the-knob-buy table, computed from the decision
    * table alone with ZERO model re-scoring at any candidate. Passing
    * the production threshold among the candidates pins consistency:
    * its `n_admit` equals the `8_decision` keep count (spec law).
    * Single pass: one pivot (pass + score) + ONE aggregate emitting
    * 2·|thresholds| counts, exploded to rows; bounded output
    * regardless of corpus size.
    */
  def lmThresholdSweep(report: DataFrame,
                       thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "lmThresholdSweep: no candidate thresholds")
    val lmGate = "5_lm"
    // two pivot aggregations suffix the alias: columns are ${g}_pass /
    // ${g}_score (hence the passCol mapper on the shared null counts)
    def pass(g: String) = col(s"${g}_pass")
    val others = RollupGates.filterNot(_ == lmGate).map(pass)
      .reduce[Column](_ && _)
    val score = col(s"${lmGate}_score")
    val counts = thresholds.zipWithIndex.flatMap { case (t, i) =>
      Seq(count(when(score.isNull || score < lit(t), lit(1)))
          .as(s"t${i}__n_fail"),
        count(when(others && score.isNotNull && score >= lit(t), lit(1)))
          .as(s"t${i}__n_admit"))
    }
    rollup(report, Nil, "lmThresholdSweep",
      Seq(first(col("pass")).as("pass"), first(col("score")).as("score")),
      pass, counts,
      thresholds.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("threshold"),
          col(s"t${i}__n_fail").as("n_fail"),
          col(s"t${i}__n_admit").as("n_admit"))
      })
  }
}
