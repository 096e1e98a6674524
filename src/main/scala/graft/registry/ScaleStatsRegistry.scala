package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.silver.Silver
import graft.gold.Gold
import graft.bronze.Bronze
import graft.enrich.Enrich
import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}
import Shared._

/** Scale operators (salting, compaction, pruning, schema evolution) and sketch statistics.
  *
  * One slice of the driver registry ([[graft.SparkEntry]] merges the
  * family registries; EntrySmokeSpec proves the merged contract). Split
  * out of the monolithic SparkEntry in round 11 — entries are verbatim,
  * shared harness helpers and oracle CTE fragments live in [[Shared]].
  */
private[graft] object ScaleStatsRegistry {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scale_zorder_key" -> ((s, d) =>
      // the Morton interleave behind Z-order clustered writes
      // (ScaleOps.writeZOrdered) — plain shift/mask arithmetic both
      // engines fold identically.
      Tables.events(s, d).filter(col("event_id") < 500)
        .select(col("event_id"),
          graft.operators.ScaleOps
            .zorderKey(col("user_id") % 256, col("event_id") % 256)
            .cast("long").as("zkey"))
        .orderBy("event_id")),

    "stats_sketches_bounds" -> ((s, d) =>
      // the raw sketch profile (Sketches.eventTypeProfile) is
      // engine-specific — no DuckDB restatement of its HLL/KLL values
      // exists, so the raw VALUES are not oracle-comparable. The
      // driver-checked contract is this bounds form, which since round
      // 11 CONSUMES eventTypeProfile's own output (not a parallel
      // restatement of its aggregates) and joins exact companions with
      // bounded-error verdict flags the oracle expects TRUE — so a
      // regression in the raw profile itself (changed rsd/accuracy/
      // columns, broken sketch) fails this hash check at the driver,
      // not only SketchesSpec.
      ext.Sketches.profileBounds(Tables.events(s, d))
        .orderBy("event_type")),

    "stats_equidepth" -> ((s, d) => {
      // equi-depth (quantile-bucket) histogram per event type: ntile(10)
      // over a deterministic total order (value, then event_id as the
      // unique tie-break). The window partitions by event_type — the
      // per-group sort shape; a single group too large to sort in one
      // partition graduates to percentile_approx (stats_sketches) or the
      // two-phase rank machinery proven by corpus_pack_global.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("value").asc, col("event_id").asc)
      Tables.events(s, d)
        .withColumn("decile", ntile(10).over(w))
        .groupBy(col("event_type"), col("decile"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("lo"),
          max(col("value")).as("hi"))
        .orderBy("event_type", "decile")
    }),

    "stats_exact_quantiles" -> ((s, d) => {
      // exact global quartiles + p90 WITHOUT a global sort or a
      // single-partition window: distributed selection (range partition
      // → per-partition counts → read only the partitions holding the
      // requested ranks). The oracle computes the same ranks with a
      // global window — the point is the SPARK plan never pays one.
      import s.implicits._
      val ev = Tables.events(s, d)
      val n = ev.count()
      val qs = Seq(0.25, 0.5, 0.75, 0.9)
      val ranks = qs.map(q =>
        math.min(n, math.max(1L, math.floor(q * (n + 1)).toLong)))
      val sel = graft.operators.ScaleOps.exactRanks(
        ev.select(col("value"), col("event_id")), "value", "event_id", ranks)
      qs.zip(ranks).toDF("q", "rank").join(sel, "rank")
        .select(col("q"), col("rank"), col("value"))
        .orderBy("q")
    }),

    "stats_cms_topk" -> ((s, d) => {
      // Count-Min heavy hitters — the DETERMINISTIC sketch (md5 buckets,
      // integer sums), so unlike HLL the sketch estimates themselves are
      // oracle-checkable bit-exactly: build a 4×1024 CM sketch over the
      // document token stream (only depth×width rows ever shuffle), then
      // read point estimates for the exact top-20 tokens next to their
      // true counts. CM never undercounts (n_est ≥ n_exact by
      // construction); the overcount column is the collision inflation.
      val docs = Tables.documents(s, d)
      val tokens = docs.select(explode(split(col("text"), " ")).as("token"))
      val cms = ext.Sketches.countMinBuild(tokens, "token")
      val top = ext.TextAnalysis.topTokens(docs, 20)
      ext.Sketches.countMinEstimate(cms, top, "token")
        .select(col("token"), col("n").as("n_exact"), col("n_est"),
          (col("n_est") - col("n")).as("overcount"))
        .orderBy(col("n_exact").desc, col("token"))
    }),

    "stats_kmv" -> ((s, d) => {
      // KMV distinct-cardinality sketch, with the merge proof in the
      // same rows: the k=256 smallest distinct shingle hashes (the
      // sketch the oracle reproduces bit for bit), joined rank-by-rank
      // against the MERGE of two batch sketches — merge_ok must be true
      // on every row (k smallest of the union == k smallest of the
      // batch bottom-k's, the property that makes KMV accumulable
      // pipeline state). Per-partition state is a k-bounded TreeSet;
      // only partitions×k rows ever reach the final sort.
      val docs = Tables.documents(s, d)
      val sh = Dedup.shingles(docs, w = 3).select(col("sh"))
      val a = Dedup.shingles(docs.filter(col("doc_id") % 2 === 0), w = 3)
        .select(col("sh"))
      val b = Dedup.shingles(docs.filter(col("doc_id") % 2 =!= 0), w = 3)
        .select(col("sh"))
      val single = ext.Sketches.kmvBuild(sh, "sh", k = 256)
      val merged = ext.Sketches.kmvMerge(256,
        ext.Sketches.kmvBuild(a, "sh", k = 256),
        ext.Sketches.kmvBuild(b, "sh", k = 256))
      single.join(merged.withColumnRenamed("h", "h2"), Seq("rank"))
        .select(col("rank"), col("h"), (col("h") === col("h2")).as("merge_ok"))
        .orderBy("rank")
    }),

    "stats_kmv_estimate" -> ((s, d) => {
      // the KMV estimator next to the exact answer: (k−1)·2³²/h_k is
      // one IEEE division of exact integers, so even the ESTIMATE
      // hash-matches the oracle bit-exactly (contrast HLL, whose state
      // no other engine can reproduce); err_ok bounds it against the
      // exact distinct count at 2.4σ for k=256.
      val docs = Tables.documents(s, d)
      val sh = Dedup.shingles(docs, w = 3).select(col("sh"))
      val est = ext.Sketches.kmvEstimate(
        ext.Sketches.kmvBuild(sh, "sh", k = 256), k = 256)
      val exact = sh.agg(countDistinct(col("sh")).as("n_exact"))
      est.crossJoin(exact)
        .select(col("n_sketch"), col("h_k"), col("n_est"), col("n_exact"),
          (abs(col("n_est") - col("n_exact").cast("double")) /
            col("n_exact").cast("double") < 0.15).as("err_ok"))
    }),

    "stats_source_overlap" -> ((s, d) => {
      // ALL-PAIRS source duplication audit (round 12 cont.): one KMV
      // sketch per source over its shingle set (grouped build —
      // WindowGroupLimit prunes to k per source before any full
      // sort), then every pair's union/Jaccard/intersection estimates
      // read off the bottom-k sketches alone. 20 sources → 190 pairs,
      // all sketch-algebra: the corpus is scanned once, by the build;
      // the matrix a mixture designer reads before weighting sources.
      val docs = Tables.documents(s, d)
      val sh = Dedup.shingles(docs, w = 3)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      ext.Sketches.kmvOverlapMatrix(
        ext.Sketches.kmvBuildBy(sh, "source", "sh", k = 256), k = 256)
        .orderBy("s1", "s2")
    }),

    "stats_overlap_incremental" -> ((s, d) => Stage.scratch("graft-ovinc-") { tmp =>
      // the source-overlap audit maintained INCREMENTALLY (round 12
      // cont.): per-source sketches built on the prior corpus half and
      // PERSISTED; the delta's sketches fold in by the per-key KMV
      // merge law (bottom-k of the union — idempotent, old data never
      // rescanned); the matrix read off the merged state must equal
      // stats_source_overlap's full-corpus oracle bit for bit.
      val docs = Tables.documents(s, d)
      def sketchOf(cohort: org.apache.spark.sql.DataFrame) = {
        val sh = Dedup.shingles(cohort, w = 3)
          .join(cohort.select(col("doc_id"), col("source")), Seq("doc_id"))
        ext.Sketches.kmvBuildBy(sh, "source", "sh", k = 256)
      }
      sketchOf(docs.filter(col("doc_id") % 2 === 0))
        .write.parquet(s"$tmp/sketches")
      val merged = ext.Sketches.kmvMergeBy(256,
        s.read.parquet(s"$tmp/sketches"),
        sketchOf(docs.filter(col("doc_id") % 2 =!= 0)))
      ext.Sketches.kmvOverlapMatrix(merged, k = 256).orderBy("s1", "s2")
    }),

    "stats_kmv_setops" -> ((s, d) => {
      // KMV SET ALGEBRA — the estimator the sketch family exists for
      // beyond single-set counting: |A∪B|, Jaccard and |A∩B| of the
      // even-doc vs odd-doc shingle sets, read off two 256-hash
      // sketches without touching the sets (Beyer et al., SIGMOD'07:
      // the union sketch's hashes are a uniform sample of A∪B, so the
      // in-both fraction estimates Jaccard). Every column is exact
      // integers + IEEE division, so even the ESTIMATES hash-match the
      // oracle bit for bit; the exact companions ride along and err_ok
      // bounds the Jaccard estimate at 35% relative (k=256 puts ~66
      // union-sample hits in the intersection at these SFs).
      val docs = Tables.documents(s, d)
      val a = Dedup.shingles(docs.filter(col("doc_id") % 2 === 0), w = 3)
        .select(col("sh"))
      val b = Dedup.shingles(docs.filter(col("doc_id") % 2 =!= 0), w = 3)
        .select(col("sh"))
      val ops = ext.Sketches.kmvSetOps(
        ext.Sketches.kmvBuild(a, "sh", k = 256),
        ext.Sketches.kmvBuild(b, "sh", k = 256), k = 256)
      val exact = a.intersect(b).agg(count(lit(1)).as("n_inter_exact"))
        .crossJoin(a.union(b).agg(countDistinct(col("sh")).as("n_union_exact")))
      ops.crossJoin(exact)
        .select(col("n_union_sketch"), col("h_k"), col("n_common"),
          col("union_est"), col("jaccard"), col("inter_est"),
          col("n_inter_exact"), col("n_union_exact"),
          (abs(col("jaccard") - col("n_inter_exact").cast("double") /
            col("n_union_exact").cast("double")) /
            (col("n_inter_exact").cast("double") /
              col("n_union_exact").cast("double")) < 0.35).as("err_ok"))
    }),

    "stats_bloom" -> ((s, d) => {
      // deterministic Bloom-filter membership prefilter — the sublinear
      // gate a decontamination pass runs before paying an exact join:
      // build the filter over the benchmark docs' tokens (fixed ≤8192
      // rows of state), probe every distinct corpus token, and emit the
      // confusion matrix against exact membership. The md5 positions
      // make the filter bit-exact, so the oracle reproduces it and the
      // hash check proves BOTH the exact FP count AND the structural
      // no-false-negative guarantee (a (false, true) row can exist on
      // neither side).
      // items are 3-gram shingles — the domain real benchmark
      // decontamination filters on (corpus_contamination's exact join
      // is what this prefilter gates at scale).
      val docs = Tables.documents(s, d)
      val bench = Dedup.shingles(docs.filter(col("doc_id") % 10 === 0), w = 3)
        .select(col("sh"))
      val probe = Dedup.shingles(docs.filter(col("doc_id") % 10 =!= 0), w = 3)
        .select(col("sh")).distinct()
      val bloom = ext.Sketches.bloomBuild(bench, "sh", numBits = 32768)
      val exact = bench.distinct().withColumn("exact_in", lit(true))
      ext.Sketches.bloomMightContain(bloom, probe, "sh", numBits = 32768)
        .join(exact, Seq("sh"), "left")
        .withColumn("exact_in", coalesce(col("exact_in"), lit(false)))
        .groupBy(col("might_contain"), col("exact_in"))
        .agg(count(lit(1)).as("n_shingles"))
        .orderBy("might_contain", "exact_in")
    }),

    "stats_cms_merge" -> ((s, d) => {
      // CMS MERGEABILITY, bit-exact: split the token stream by document
      // parity, build one sketch per batch (the per-shard/per-day shape
      // an incremental pipeline persists), MERGE them cell-wise, and
      // emit the merged sketch itself. The oracle builds the SINGLE-PASS
      // sketch over the union — hash equality IS the proof that
      // build(A) ⊕ build(B) == build(A∪B) cell for cell, which is what
      // makes the sketch accumulable state rather than a query-local
      // artifact. Only depth×width rows ever shuffle on either path.
      val docs = Tables.documents(s, d)
      val tokens = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("token"))
      val a = tokens.filter(col("doc_id") % 2 === 0).select(col("token"))
      val b = tokens.filter(col("doc_id") % 2 =!= 0).select(col("token"))
      ext.Sketches.countMinMerge(
          ext.Sketches.countMinBuild(a, "token"),
          ext.Sketches.countMinBuild(b, "token"))
        .orderBy("j", "bucket")
    }),

    "stats_sketch_state" -> ((s, d) => Stage.scratch("graft-sketchstate-") { tmp =>
      // the PERSISTED sketch-state lifecycle, all three deterministic
      // families in one run: day-1 sketches written with their geometry
      // STAMPED (countMinWrite / bloomWrite / kmvWrite), the day-2 batch
      // merged against the LOADED state (stamps cross-validated), the
      // merged state persisted back, and every answer read from THAT —
      // CMS point estimates for the exact top-10 tokens, the KMV
      // cardinality estimate with k taken from the stamp (not
      // re-supplied), Bloom membership for present and absent probes.
      // Oracle = the same deterministic sketches in ONE pass over the
      // union stream: pass ⟺ persist → load → merge → persist → read is
      // indistinguishable from never having split the stream.
      val docs = Tables.documents(s, d)
      // ONE tokenize pass feeds all six builds (round 18, guide §5):
      // the six day-slice sketch builds each consumed a fresh
      // scan+split+explode of the corpus — staged once here, the
      // rebuild-forget shingle discipline applied to the token stream
      // (a warehouse would likewise stage the token table per release).
      Stage.scoped { st =>
        val tokens = st.cache(docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("token")))
        val day1 = tokens.filter(col("doc_id") % 2 === 0).select(col("token"))
        val day2 = tokens.filter(col("doc_id") % 2 =!= 0).select(col("token"))
        ext.Sketches.countMinWrite(
          ext.Sketches.countMinBuild(day1, "token"), s"$tmp/cms1")
        ext.Sketches.bloomWrite(
          ext.Sketches.bloomBuild(day1, "token"), s"$tmp/bloom1")
        ext.Sketches.kmvWrite(
          ext.Sketches.kmvBuild(day1, "token", k = 256), s"$tmp/kmv1")
        ext.Sketches.countMinWrite(ext.Sketches.countMinMerge(
            s.read.parquet(s"$tmp/cms1"),
            ext.Sketches.countMinBuild(day2, "token")), s"$tmp/cms2")
        ext.Sketches.bloomWrite(ext.Sketches.bloomMerge(
            s.read.parquet(s"$tmp/bloom1"),
            ext.Sketches.bloomBuild(day2, "token")), s"$tmp/bloom2")
        ext.Sketches.kmvWrite(ext.Sketches.kmvMerge(256,
            s.read.parquet(s"$tmp/kmv1"),
            ext.Sketches.kmvBuild(day2, "token", k = 256)), s"$tmp/kmv2")
      }
      val top = ext.TextAnalysis.topTokens(docs, 10).select(col("token"))
      val absent = s.range(10)
        .select(concat(lit("__absent_"), col("id")).as("token"))
      val cmsEst = ext.Sketches.countMinEstimate(
          s.read.parquet(s"$tmp/cms2"), top, "token")
        .select(lit("cms").as("family"), col("token").as("item"),
          col("n_est").cast("double").as("est"),
          lit(null).cast("boolean").as("flag"))
      val kmvEst = ext.Sketches.kmvEstimateStated(s.read.parquet(s"$tmp/kmv2"))
        .select(lit("kmv").as("family"), lit("_cardinality").as("item"),
          col("n_est").as("est"), lit(null).cast("boolean").as("flag"))
      val bloomRes = ext.Sketches.bloomMightContain(
          s.read.parquet(s"$tmp/bloom2"), top.unionByName(absent), "token")
        .select(lit("bloom").as("family"), col("token").as("item"),
          lit(null).cast("double").as("est"), col("might_contain").as("flag"))
      cmsEst.unionByName(kmvEst).unionByName(bloomRes)
        .orderBy("family", "item")
    }),

    "stats_quantile_sketch" -> ((s, d) => Stage.scratch("graft-qsample-") { tmp =>
      // the QUANTILE leg of the persisted sketch family, full lifecycle:
      // day-1 hash-ranked bottom-k sample written with k STAMPED, the
      // day-2 batch merged against the LOADED state (bottom-k of the
      // union — exact by the KMV argument on (h, v) pairs), merged state
      // persisted back, and the quantiles read from THAT next to the
      // exact answers (distributed selection — no global sort) and the
      // exact CDF at each estimate. Everything is deterministic (md5
      // ranks, integer counts, IEEE division), so even the SAMPLE is
      // oracle-checked bit for bit — the property KLL/t-digest state
      // can never have. err_ok bounds the CDF deviation at 0.1, ~4.5σ
      // of the k=512 binomial rank error.
      import s.implicits._
      val ev = Tables.events(s, d).filter(col("value").isNotNull)
      val day1 = ev.filter(col("event_id") % 2 === 0)
      val day2 = ev.filter(col("event_id") % 2 =!= 0)
      ext.Sketches.quantileSampleWrite(
        ext.Sketches.quantileSampleBuild(day1, "event_id", "value", k = 512),
        s"$tmp/day1", k = 512)
      ext.Sketches.quantileSampleWrite(
        ext.Sketches.quantileSampleMerge(512,
          s.read.parquet(s"$tmp/day1"),
          ext.Sketches.quantileSampleBuild(day2, "event_id", "value", k = 512)),
        s"$tmp/day2", k = 512)
      val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
      val est = ext.Sketches.quantileEstimateStated(
        s.read.parquet(s"$tmp/day2"), qs)
      val n = ev.count()
      val ranks = qs.map(q => math.min(n, math.max(1L, math.floor(q * (n + 1)).toLong)))
      val sel = graft.operators.ScaleOps.exactRanks(
        ev.select(col("value"), col("event_id")), "value", "event_id", ranks)
      val exact = qs.zip(ranks).toDF("q", "rank").join(sel, "rank")
        .select(col("q"), col("value").as("v_exact"))
      val cdf = ev.crossJoin(broadcast(est.select(col("q"), col("v_est"))))
        .groupBy(col("q"), col("v_est"))
        .agg(count(when(col("value") <= col("v_est"), 1)).as("n_le"))
        .select(col("q"),
          (col("n_le").cast("double") / lit(n.toDouble)).as("cdf_at_est"))
      est.join(exact, Seq("q")).join(cdf, Seq("q"))
        .withColumn("err_ok", abs(col("cdf_at_est") - col("q")) <= lit(0.1))
        .select(col("q"), col("n_s"), col("rank_s"), col("v_est"),
          col("v_exact"), col("cdf_at_est"), col("err_ok"))
        .orderBy("q")
    }),

    "stats_drift" -> ((s, d) => {
      // distribution-DRIFT monitor: the value histograms of two cohorts
      // (click vs view events) full-outer joined on fixed-width bins,
      // per-bin exact counts + shares + L1/symmetric-χ² terms, and one
      // total row whose l1_term is the total-variation distance computed
      // EXACTLY from integer counts (decimal Σ|n_a·tot_b − n_b·tot_a|,
      // one final division — no order-dependent float Σ). The admission
      // check a pipeline runs when a batch's schema passes but its
      // values shifted; bins ≪ data, so beyond the two histogram
      // groupBys nothing data-sized moves.
      val ev = Tables.events(s, d)
      ext.Quality.drift(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "view"),
          "value", binWidth = 25.0)
        .orderBy(col("section"), col("bin").asc_nulls_last)
    }),

    "stats_drift_state" -> ((s, d) => Stage.scratch("graft-driftstate-") { tmp =>
      // the drift monitor as PIPELINE state: the day-1 click histogram
      // persisted with its bin width STAMPED, the day-2 click batch
      // additively merged into the LOADED baseline (build(A) ⊕ build(B)
      // == build(A∪B) — histogram counts are the simplest mergeable
      // sketch), merged state persisted back, and the drift-vs-view
      // comparison run over TWO loaded states with both stamps
      // cross-validated (driftStated). Oracle = stats_drift's one-pass
      // SQL: pass ⟺ persist → load → merge → persist → compare is
      // indistinguishable from never having split the stream.
      val ev = Tables.events(s, d)
      val click = ev.filter(col("event_type") === "click")
      ext.Quality.histWrite(
        ext.Quality.histBuild(click.filter(col("event_id") % 2 === 0),
          "value", 25.0), s"$tmp/base", binWidth = 25.0)
      ext.Quality.histWrite(
        ext.Quality.histMerge(25.0,
          s.read.parquet(s"$tmp/base"),
          ext.Quality.histBuild(click.filter(col("event_id") % 2 =!= 0),
            "value", 25.0)), s"$tmp/base2", binWidth = 25.0)
      ext.Quality.histWrite(
        ext.Quality.histBuild(ev.filter(col("event_type") === "view"),
          "value", 25.0), s"$tmp/cur", binWidth = 25.0)
      ext.Quality.driftStated(
          s.read.parquet(s"$tmp/base2"), s.read.parquet(s"$tmp/cur"))
        .orderBy(col("section"), col("bin").asc_nulls_last)
    }),

    "stats_hist_forget" -> ((s, d) => Stage.scratch("graft-hist-forget-") { tmp =>
      // EXACT deletion from persisted histogram state (round 11): the
      // right-to-be-forgotten path for the one sketch family whose
      // algebra is invertible. Full-corpus n_chars histogram persisted
      // (width-stamped), a forgotten cohort's histogram SUBTRACTED from
      // the loaded state — no rescan of the retained corpus. Oracle =
      // the histogram built fresh over the retained documents: pass ⟺
      // subtract is bit-identical to rebuild, including zero-count bins
      // DROPPED (a retained-bin rebuild never emits them).
      val docs = Tables.documents(s, d)
      val width = 64.0
      ext.Quality.histWrite(
        ext.Quality.histBuild(docs, "n_chars", width), s"$tmp/hist", width)
      val forgotten = docs.filter(col("doc_id") % 10 === 3)
      ext.Quality.histSubtract(width,
          s.read.parquet(s"$tmp/hist"),
          ext.Quality.histBuild(forgotten, "n_chars", width))
        .orderBy("bin")
    }),

    "stats_expire_windows" -> ((s, d) => Stage.scratch("graft-sketch-windows-") { tmp =>
      // AGE/TTL retention for the NON-invertible sketch families
      // (round 12): a merged KMV cannot subtract an expired cohort, so
      // the lifecycle persists one PARTIAL per event-time window
      // (window_ts= partition dirs), expires by partition-dir delete
      // (metadata-cheap, no rewrite of survivors), and serves the merge
      // of surviving partials. Three doc_id%3 cohorts play windows
      // 0/1/2; the watermark drops window 0. Oracle = the bottom-256
      // built FRESH over the surviving cohorts' shingles — pass ⟺
      // dropping the partial removed exactly that window's contribution
      // (the merge law, made driver-checkable).
      val docs = Tables.documents(s, d)
      val dir = s"$tmp/kmv_windows"
      (0 to 2).foreach { wts =>
        ext.Sketches.writeWindowPartial(
          ext.Sketches.kmvBuild(
            Dedup.shingles(docs.filter(col("doc_id") % 3 === wts), w = 3)
              .select(col("sh")), "sh", k = 256),
          dir, wts.toLong)
      }
      val expired = ext.Sketches.expireWindows(s, dir, watermark = 1L)
      require(expired == Seq(0L), s"expected window 0 expired, got $expired")
      val parts = ext.Sketches.readWindowPartials(s, dir)
      ext.Sketches.kmvMerge(256,
          parts.filter(col("window_ts") === 1).select(col("rank"), col("h")),
          parts.filter(col("window_ts") === 2).select(col("rank"), col("h")))
        .orderBy("rank")
    }),

    "stats_rebuild_forget" -> ((s, d) => Stage.scratch("graft-rebuild-forget-") { tmp =>
      // deletion-by-REBUILD for the non-invertible families (round 12):
      // KMV (bottom-k of a union), Bloom (saturating bitmap) and CMS
      // (never-undercount counters) cannot subtract a forgotten cohort
      // — their documented right-to-be-forgotten path (see
      // Quality.histSubtract's contrast) is a rebuild from the retained
      // corpus, exercised here end-to-end THROUGH the persisted-state
      // machinery: full-corpus sketches persisted, the doc_id%10==3
      // cohort forgotten, all three rebuilt over the retained docs and
      // re-persisted, the read-back emitted. Oracle = each sketch built
      // fresh over the survivors in SQL — pass ⟺ rebuild-after-forget
      // is bit-identical to a fresh build over survivors, stamps and
      // write/read round-trip included.
      val docs = Tables.documents(s, d)
      // ONE shingle pass feeds all six builds: the full-corpus and
      // survivor streams are projections of the same cached frame
      // (the warehouse would likewise stage shingles once per release)
      Stage.scoped { st =>
        val allSh = st.cache(Dedup.shingles(docs, w = 3))
        allSh.count()
        val sh = allSh.select(col("sh"))
        val retained = allSh.filter(col("doc_id") % 10 =!= 3).select(col("sh"))
        ext.Sketches.kmvWrite(ext.Sketches.kmvBuild(sh, "sh", 256),
          s"$tmp/kmv", 256)
        ext.Sketches.bloomWrite(ext.Sketches.bloomBuild(sh, "sh", 8192, 4),
          s"$tmp/bloom", 8192, 4)
        ext.Sketches.countMinWrite(ext.Sketches.countMinBuild(sh, "sh", 4, 1024),
          s"$tmp/cms", 4, 1024)
        // the forget: rebuild over the retained corpus, overwrite state
        ext.Sketches.kmvWrite(ext.Sketches.kmvBuild(retained, "sh", 256),
          s"$tmp/kmv", 256)
        ext.Sketches.bloomWrite(ext.Sketches.bloomBuild(retained, "sh", 8192, 4),
          s"$tmp/bloom", 8192, 4)
        ext.Sketches.countMinWrite(ext.Sketches.countMinBuild(retained, "sh", 4, 1024),
          s"$tmp/cms", 4, 1024)
      }
      val kmv = s.read.parquet(s"$tmp/kmv")
        .select(lit("kmv").as("family"), col("rank").cast("long").as("a"),
          lit(0L).as("b"), col("h").as("v"))
      val bloom = s.read.parquet(s"$tmp/bloom")
        .select(lit("bloom").as("family"), col("pos").as("a"),
          lit(0L).as("b"), lit(1L).as("v"))
      val cms = s.read.parquet(s"$tmp/cms")
        .select(lit("cms").as("family"), col("j").cast("long").as("a"),
          col("bucket").as("b"), col("total").as("v"))
      kmv.unionByName(bloom).unionByName(cms)
        .orderBy("family", "a", "b")
    }),

    "scale_salted_join" -> ((s, d) =>
      // the skew-salting operator on the oracle path: results must be
      // IDENTICAL to the plain join for any salt (the oracle is the
      // unsalted SQL), while the hot key spreads over `salt` reducers.
      graft.operators.ScaleOps.saltedJoin(
          Tables.orders(s, d),
          Tables.customer(s, d)
            .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
          Seq("o_custkey"), salt = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          (centsSum(col("o_totalprice")).cast("double") /
            lit(100.0)).as("total_price"))
        .orderBy("c_mktsegment")),

    "scale_compact_roundtrip" -> ((s, d) => Stage.scratch("graft-compact-") { tmp =>
      // sink-MAINTENANCE end-to-end (reference MV-refresh analog,
      // gold_ddl.sql:201-244), hash-checked like gold_pipeline_e2e:
      // stage the events feed as a per-batch append sink (batch_id=N/
      // Hive dirs, deliberately many small files per batch), EXPIRE the
      // two oldest batches, COMPACT the survivors (partition layout
      // preserved, one file per partition dir), and return an aggregate
      // fingerprint of the READ-BACK. The oracle recomputes the
      // surviving content straight from the source, so retention picked
      // the right batches AND the rewrite preserved every row — the
      // write paths the spec tests covered are now driver-visible.
      val dataDir = s"$tmp/data"
      Tables.events(s, d)
        .withColumn("batch_id", (col("event_id") % 6).cast("int"))
        .select(col("batch_id"), col("event_id"), col("event_type"),
          col("value"))
        .repartition(8) // 8 small files per batch dir — what compact fixes
        .write.partitionBy("batch_id").parquet(dataDir)
      val expired = graft.operators.ScaleOps
        .expireBatches(s, dataDir, keepLast = 4)
      // the retention CONTRACT is part of the query: newest 4 of 6 kept.
      require(expired.sorted == Seq(0L, 1L),
        s"expected batches 0,1 expired, got: $expired")
      // 4 surviving batch dirs at any SF; files-per-dir is SF-dependent
      // (ceil(bytes/target)), so assert the compaction INVARIANTS against
      // the MEASURED staged state — layout survives and the file count
      // strictly shrinks — not against a constant that a large SF's
      // legitimate multi-file output would trip.
      val stagedFiles = s.read.parquet(dataDir)
        .select(input_file_name()).distinct().count()
      graft.operators.ScaleOps.compact(s, dataDir)
      val back = s.read.parquet(dataDir)
      val dirs = new java.io.File(dataDir).listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("batch_id="))
      require(dirs == 4, s"expected 4 surviving batch dirs, found $dirs")
      val files = back.select(input_file_name()).distinct().count()
      require(files >= 4 && files < stagedFiles,
        s"compaction should leave >=1 file per dir and strictly fewer than " +
          s"the $stagedFiles staged small files, found $files")
      back.groupBy(col("batch_id").cast("int").as("batch_id"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("event_id")).as("id_sum"),
          centsSum(col("value")).as("value_cents"))
        .orderBy("batch_id", "event_type")
    }),

    "scale_backfill_partition" -> ((s, d) => Stage.scratch("graft-backfill-") { tmp =>
      // partition backfill (INSERT OVERWRITE PARTITION analog): the
      // initial load lands a CORRUPTED first day (values doubled — the
      // bad-load event backfill exists to repair); the backfill rewrites
      // exactly that day's partition via dynamic partition overwrite.
      // The read-back must equal the clean feed (oracle), and the
      // physical contract is asserted: an untouched day's file set is
      // bit-identical before and after (cost ∝ backfilled partitions,
      // never the table).
      val dir = s"$tmp/events_bydate"
      val ev = Tables.events(s, d).select(col("event_id"), col("event_type"),
        col("user_id"), col("value"), unix_millis(col("ts")).as("ts_ms"),
        to_date(col("ts")).as("event_date"))
      val day0 = ev.agg(min(col("event_date"))).head().getDate(0)
      ev.withColumn("value",
          when(col("event_date") === lit(day0), col("value") * 2)
            .otherwise(col("value")))
        .repartition(col("event_date"))
        .write.partitionBy("event_date").parquet(dir)
      def filesOf(p: String): Set[String] =
        new java.io.File(dir, p).listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName + ":" + f.length).toSet
      val untouched = new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("event_date="))
        .map(_.getName).filterNot(_ == s"event_date=$day0").sorted.head
      val before = filesOf(untouched)
      graft.operators.ScaleOps.backfillPartitions(
        ev.filter(col("event_date") === lit(day0))
          .repartition(col("event_date")),
        dir, Seq("event_date"))
      require(filesOf(untouched) == before,
        s"backfill must not rewrite untouched partition $untouched")
      s.read.parquet(dir)
        .select(col("event_id"), col("event_type"), col("user_id"),
          col("value"), col("ts_ms"))
        .orderBy("event_id")
    }),

    "scale_schema_evolution" -> ((s, d) => Stage.scratch("graft-schemaevo-") { tmp =>
      // ADDITIVE SCHEMA EVOLUTION across ingest batches — the warehouse
      // half of this round's drift story (the loader hardening handles a
      // SOURCE changing type under the engine; this handles the engine's
      // OWN tables growing columns over time, which every long-lived
      // table does). Batch 1 lands the v1 schema; batch 2 lands v2 with
      // a new column; the mergeSchema scan unions schemas BY NAME (v1
      // rows null-fill the new column — never positional matching),
      // normalization gives the v1 era an explicit default, and the
      // rollup aggregates both generations as one table. Scale shape:
      // mergeSchema pays one parquet-footer read per file at PLAN time,
      // no data pass — production pins the merged schema in a catalog
      // and the scan itself is identical.
      val dir = s"$tmp/orders_evolved"
      val o = Tables.orders(s, d)
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .coalesce(1).write.mode("append").parquet(dir)
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          (col("o_orderkey") % 5).cast("int").as("o_priority_bucket"))
        .coalesce(1).write.mode("append").parquet(dir)
      val merged = s.read.option("mergeSchema", "true").parquet(dir)
      require(merged.schema.fieldNames.contains("o_priority_bucket"),
        "mergeSchema read lost the evolved column")
      merged
        .withColumn("o_priority_bucket",
          coalesce(col("o_priority_bucket"), lit(-1)))
        .groupBy(col("o_priority_bucket"))
        .agg(count(lit(1)).as("n_orders"),
          centsSum(col("o_totalprice")).as("price_cents"))
        .orderBy("o_priority_bucket")
    }),

    "scale_incremental_refresh" -> ((s, d) => Stage.scratch("graft-increfresh-") { tmp =>
      // incremental MV maintenance — the partition-overwrite refresh
      // loop of a warehouse mart: a daily aggregate built from the
      // initial fact load, then a delta batch (two NEW days + LATE
      // rows for the first day) folds in by appending to the fact and
      // recomputing ONLY the three affected date partitions from the
      // partition-pruned fact. Physical contract asserted in-query: an
      // untouched day's mart files are bit-identical across the
      // refresh. Oracle = full recompute over the whole feed — the
      // incremental path must land on exactly the one-shot answer,
      // count-distinct included (recompute-pruning keeps non-additive
      // measures exact where aggregate-merge algebra could not).
      val factDir = s"$tmp/fact"; val martDir = s"$tmp/mart"
      val ev = Tables.events(s, d).select(col("event_id"), col("event_type"),
        col("user_id"), col("value"), to_date(col("ts")).as("event_date"))
      val r0 = ev.agg(min(col("event_date")), max(col("event_date"))).head()
      val (minD, maxD) = (r0.getDate(0), r0.getDate(1))
      val inDelta = (col("event_date") >= date_sub(lit(maxD), 1)) ||
        (col("event_date") === lit(minD) && col("event_id") % 7 === 0)
      def agg(fact: DataFrame): DataFrame =
        fact.groupBy(col("event_date"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            centsSum(col("value")).as("value_cents"),
            countDistinct(col("user_id")).as("unique_users"))
      ev.filter(!inDelta).repartition(col("event_date"))
        .write.partitionBy("event_date").parquet(factDir)
      agg(s.read.parquet(factDir)).repartition(col("event_date"))
        .write.partitionBy("event_date").parquet(martDir)
      val probe = s"event_date=${java.time.LocalDate.ofEpochDay(
        minD.toLocalDate.toEpochDay + 3)}"
      def filesOf(p: String): Set[String] =
        new java.io.File(martDir, p).listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName + ":" + f.length).toSet
      val before = filesOf(probe)
      val affected = graft.operators.ScaleOps.incrementalRefresh(
        s, factDir, martDir, ev.filter(inDelta), "event_date", agg)
      require(affected.size == 3,
        s"delta touches day0 + last two days — expected 3 affected " +
          s"partitions, got ${affected.size}")
      require(filesOf(probe) == before,
        s"untouched mart partition $probe was rewritten — refresh cost " +
          "must be proportional to affected partitions only")
      s.read.parquet(martDir)
        .select(col("event_date"), col("event_type"), col("n_events"),
          col("value_cents"), col("unique_users"))
        .orderBy("event_date", "event_type")
    }),

    "scale_zorder_roundtrip" -> ((s, d) => Stage.scratch("graft-zorder-") { tmp =>
      // the WRITE half of multi-dimensional data skipping, content-
      // checked: Z-order-cluster the events feed on bucketed
      // (user_id, event_id) into 8 range-partitioned files, then return
      // the read-back rows. Clustering must be a pure REORDER — the
      // oracle is a plain projection of the source — while the layout
      // property (each file covers a small (x, y) rectangle whose
      // min/max stats prune filters on either dimension) stays asserted
      // in ScaleOpsSpec.
      val path = s"$tmp/events_z"
      graft.operators.ScaleOps.writeZOrdered(
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), unix_millis(col("ts")).as("ts_ms"))
          .withColumn("zx", pmod(col("user_id"), lit(256)).cast("int"))
          .withColumn("zy", pmod(col("event_id"), lit(256)).cast("int")),
        "zx", "zy", path, numFiles = 8)
      s.read.parquet(path).drop("zx", "zy").orderBy("event_id")
    }),

    "stats_histogram" -> ((s, d) => histogram20(Tables.events(s, d))),

    "scale_partition_pruning" -> ((s, d) => {
      // dynamic partition pruning over the date-partitioned layout: the
      // dim side (first week of each month) is broadcast, and its values
      // reach the fact scan as a RUNTIME partition filter — unselected
      // day directories are never opened (plan-asserted in ScaleOpsSpec).
      // The layout build is staged once per JVM, like the warehouse.
      val dir = graft.operators.ScaleOps.ensureDatePartitionedEvents(s, d)
      val fact = s.read.parquet(dir)
      val dim = Tables.events(s, d)
        .select(to_date(col("ts")).as("event_date")).distinct()
        .filter(dayofmonth(col("event_date")) <= 7)
      fact.join(broadcast(dim), Seq("event_date"))
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          centsSum(col("value")).as("value_cents"))
        .orderBy("event_date", "event_type")
    }),
  )

  // per-source bottom-256 sketches, then the kmv_setops estimators per
  // source pair — same exact-integer + IEEE-division algebra, hence
  // bit-matchable across all 190 pairs. Shared by stats_source_overlap
  // and stats_overlap_incremental (the per-key merge law makes the
  // incrementally-maintained matrix identical).
  private lazy val sourceOverlapSql: String =
    """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS l FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, source, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS sh
        |  FROM d, unnest(generate_series(1, len(l)-2)) AS u(i)
        |  WHERE len(l) >= 3
        |), hs AS (
        |  SELECT DISTINCT source, CAST('0x' || substr(md5(sh), 1, 8) AS BIGINT) AS h
        |  FROM sh
        |), sk AS (
        |  SELECT source, h FROM (
        |    SELECT source, h,
        |           row_number() OVER (PARTITION BY source ORDER BY h) AS rnk
        |    FROM hs)
        |  WHERE rnk <= 256
        |), ks AS (SELECT DISTINCT source FROM sk),
        |pairs AS (
        |  SELECT a.source AS s1, b.source AS s2
        |  FROM ks a, ks b WHERE a.source < b.source
        |), f AS (
        |  SELECT p.s1, p.s2, x.h,
        |         max(CASE WHEN x.source = p.s1 THEN 1 ELSE 0 END) AS in_a,
        |         max(CASE WHEN x.source = p.s2 THEN 1 ELSE 0 END) AS in_b
        |  FROM pairs p JOIN sk x ON x.source IN (p.s1, p.s2)
        |  GROUP BY 1, 2, 3
        |), u AS (
        |  SELECT * FROM (
        |    SELECT f.*, row_number() OVER (PARTITION BY s1, s2 ORDER BY h) AS rnk
        |    FROM f)
        |  WHERE rnk <= 256
        |), agg AS (
        |  SELECT s1, s2, CAST(count(*) AS BIGINT) AS n_union_sketch,
        |         max(h) AS h_k,
        |         CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_common
        |  FROM u GROUP BY 1, 2
        |), est AS (
        |  SELECT s1, s2, n_union_sketch, h_k, n_common,
        |    CASE WHEN n_union_sketch < 256 THEN CAST(n_union_sketch AS DOUBLE)
        |         ELSE 255.0 * 4294967296.0 / CAST(h_k AS DOUBLE) END AS union_est,
        |    CAST(n_common AS DOUBLE) / CAST(n_union_sketch AS DOUBLE) AS jaccard
        |  FROM agg
        |)
        |SELECT s1, s2, n_union_sketch, h_k, n_common, union_est, jaccard,
        |       jaccard * union_est AS inter_est
        |FROM est ORDER BY s1, s2""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "scale_zorder_key" ->
      """SELECT event_id,
        |  CAST(list_sum(list_transform(generate_series(0, 30), i ->
        |    ((((user_id % 256) >> i) & 1) << (2*i)) +
        |    ((((event_id % 256) >> i) & 1) << (2*i + 1)))) AS BIGINT) AS zkey
        |FROM events WHERE event_id < 500
        |ORDER BY event_id""".stripMargin,

    "scale_compact_roundtrip" ->
      """SELECT CAST(event_id % 6 AS INTEGER) AS batch_id, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events
        |WHERE event_id % 6 >= 2
        |GROUP BY 1, 2
        |ORDER BY batch_id, event_type""".stripMargin,

    "scale_zorder_roundtrip" ->
      """SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ts_ms
        |FROM events ORDER BY event_id""".stripMargin,

    "scale_backfill_partition" ->
      // the corrupted day was repaired in place: read-back == clean feed.
      """SELECT event_id, event_type, user_id, value, epoch_ms(ts) AS ts_ms
        |FROM events ORDER BY event_id""".stripMargin,

    "scale_schema_evolution" ->
      // both ingest eras unrolled: v1 rows carry NULL for the evolved
      // column (mergeSchema null-fill), normalized to the explicit -1.
      """WITH evolved AS (
        |  SELECT o_orderkey, o_totalprice, CAST(NULL AS INTEGER) AS o_priority_bucket
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, CAST(o_orderkey % 5 AS INTEGER)
        |  FROM orders WHERE o_orderkey % 2 = 1
        |)
        |SELECT COALESCE(o_priority_bucket, -1) AS o_priority_bucket,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM evolved GROUP BY 1 ORDER BY 1""".stripMargin,

    "scale_incremental_refresh" ->
      // the incrementally-maintained mart must equal a one-shot full
      // recompute over the whole feed, count-distinct included.
      """SELECT CAST(ts AS DATE) AS event_date, event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
        |       count(DISTINCT user_id) AS unique_users
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY event_date, event_type""".stripMargin,

    // exact companions reproduced by DuckDB; the *_ok sketch-bound flags
    // are TRUE by expectation — a sketch out of bounds hash-mismatches.
    "stats_sketches_bounds" ->
      """SELECT event_type, count(*) AS n_events,
        |  count(DISTINCT user_id) AS exact_users,
        |  TRUE AS hll_ok, TRUE AS p50_ok, TRUE AS p95_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "stats_exact_quantiles" ->
      """WITH n AS (SELECT count(*) AS n FROM events),
        |r AS (
        |  SELECT q, LEAST(GREATEST(CAST(floor(q*(n+1)) AS BIGINT), 1), n) AS rank
        |  FROM n, (VALUES (0.25), (0.5), (0.75), (0.9)) t(q)
        |), s AS (
        |  SELECT value, row_number() OVER (ORDER BY value, event_id) AS rn
        |  FROM events
        |)
        |SELECT r.q, r.rank, s.value
        |FROM r JOIN s ON s.rn = r.rank
        |ORDER BY q""".stripMargin,

    "stats_equidepth" ->
      """WITH x AS (
        |  SELECT event_type, value,
        |    ntile(10) OVER (PARTITION BY event_type
        |                    ORDER BY value ASC, event_id ASC) AS decile
        |  FROM events
        |)
        |SELECT event_type, CAST(decile AS INTEGER) AS decile,
        |  count(*) AS n, min(value) AS lo, max(value) AS hi
        |FROM x GROUP BY 1, 2
        |ORDER BY event_type, decile""".stripMargin,

    "stats_cms_topk" -> {
      // identical md5-salted CM construction (4 rows × 1024 buckets): the
      // sketch is deterministic, so the estimates hash-match bit-exactly.
      def bucket(item: String, j: String) =
        s"CAST('0x' || substr(md5(CAST($j AS VARCHAR) || '|' || $item), 1, 8) AS BIGINT) % 1024"
      s"""WITH tok AS (
         |  SELECT unnest(string_split(text, ' ')) AS token FROM documents
         |), js AS (SELECT unnest(generate_series(0, 3)) AS j),
         |cms AS (
         |  SELECT j, ${bucket("token", "j")} AS bucket, count(*) AS total
         |  FROM tok CROSS JOIN js GROUP BY 1, 2
         |), top AS (
         |  SELECT token, count(*) AS n FROM tok GROUP BY 1
         |  ORDER BY n DESC, token LIMIT 20
         |), est AS (
         |  SELECT t.token, min(c.total) AS n_est
         |  FROM top t CROSS JOIN js g
         |  JOIN cms c ON c.j = g.j AND c.bucket = ${bucket("t.token", "g.j")}
         |  GROUP BY 1
         |)
         |SELECT t.token, t.n AS n_exact, e.n_est, e.n_est - t.n AS overcount
         |FROM top t JOIN est e USING (token)
         |ORDER BY n_exact DESC, token""".stripMargin
    },

    "stats_kmv" ->
      // the single-pass bottom-256 distinct hash list; merge_ok TRUE by
      // expectation — a broken merge hash-mismatches.
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS sh
        |  FROM d, unnest(generate_series(1, len(l)-2)) AS u(i)
        |  WHERE len(l) >= 3
        |), h AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(sh), 1, 8) AS BIGINT) AS h FROM sh
        |), sk AS (
        |  SELECT h, row_number() OVER (ORDER BY h) AS rank FROM h
        |  ORDER BY h LIMIT 256
        |)
        |SELECT CAST(rank AS INTEGER) AS rank, h, TRUE AS merge_ok FROM sk
        |ORDER BY rank""".stripMargin,

    "stats_kmv_estimate" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS sh
        |  FROM d, unnest(generate_series(1, len(l)-2)) AS u(i)
        |  WHERE len(l) >= 3
        |), h AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(sh), 1, 8) AS BIGINT) AS h FROM sh
        |), sk AS (SELECT h FROM h ORDER BY h LIMIT 256),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_sketch, max(h) AS h_k FROM sk
        |), ex AS (SELECT CAST(count(DISTINCT sh) AS BIGINT) AS n_exact FROM sh)
        |SELECT n_sketch, h_k,
        |  CASE WHEN n_sketch < 256 THEN CAST(n_sketch AS DOUBLE)
        |       ELSE 255.0 * 4294967296.0 / CAST(h_k AS DOUBLE) END AS n_est,
        |  n_exact,
        |  abs((CASE WHEN n_sketch < 256 THEN CAST(n_sketch AS DOUBLE)
        |            ELSE 255.0 * 4294967296.0 / CAST(h_k AS DOUBLE) END)
        |      - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) < 0.15 AS err_ok
        |FROM agg, ex""".stripMargin,

    "stats_source_overlap" -> sourceOverlapSql,

    // the per-key KMV merge law makes the incrementally-maintained
    // matrix equal the full-corpus one bit for bit — SAME oracle.
    "stats_overlap_incremental" -> sourceOverlapSql,


    "stats_kmv_setops" ->
      // the union sketch is the bottom-256 of (ska ∪ skb); the in-both
      // fraction over it is the Jaccard estimator; all estimates are
      // exact-integer + IEEE-division, hence bit-matchable.
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS sh
        |  FROM d, unnest(generate_series(1, len(l)-2)) AS u(i)
        |  WHERE len(l) >= 3
        |), ha AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(sh), 1, 8) AS BIGINT) AS h
        |  FROM sh WHERE doc_id % 2 = 0
        |), hb AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(sh), 1, 8) AS BIGINT) AS h
        |  FROM sh WHERE doc_id % 2 = 1
        |), ska AS (SELECT h FROM ha ORDER BY h LIMIT 256),
        |skb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
        |u AS (SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
        |      ORDER BY h LIMIT 256),
        |f AS (
        |  SELECT u.h,
        |    (u.h IN (SELECT h FROM ska) AND u.h IN (SELECT h FROM skb)) AS inboth
        |  FROM u
        |), agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_union_sketch, max(h) AS h_k,
        |         CAST(sum(CASE WHEN inboth THEN 1 ELSE 0 END) AS BIGINT) AS n_common
        |  FROM f
        |), ex AS (
        |  SELECT CAST((SELECT count(*) FROM (
        |           SELECT sh FROM sh WHERE doc_id % 2 = 0
        |           INTERSECT SELECT sh FROM sh WHERE doc_id % 2 = 1)) AS BIGINT)
        |         AS n_inter_exact,
        |         CAST((SELECT count(DISTINCT sh) FROM sh) AS BIGINT) AS n_union_exact
        |), est AS (
        |  SELECT n_union_sketch, h_k, n_common,
        |    CASE WHEN n_union_sketch < 256 THEN CAST(n_union_sketch AS DOUBLE)
        |         ELSE 255.0 * 4294967296.0 / CAST(h_k AS DOUBLE) END AS union_est,
        |    CAST(n_common AS DOUBLE) / CAST(n_union_sketch AS DOUBLE) AS jaccard
        |  FROM agg
        |)
        |SELECT n_union_sketch, h_k, n_common, union_est, jaccard,
        |  jaccard * union_est AS inter_est, n_inter_exact, n_union_exact,
        |  abs(jaccard - CAST(n_inter_exact AS DOUBLE) / CAST(n_union_exact AS DOUBLE))
        |    / (CAST(n_inter_exact AS DOUBLE) / CAST(n_union_exact AS DOUBLE))
        |    < 0.35 AS err_ok
        |FROM est, ex""".stripMargin,

    "stats_bloom" -> {
      // identical md5-salted bit positions (salt 'b<j>|', 32768 bits,
      // 4 hashes): the filter, the probe verdicts, and therefore the
      // confusion matrix reproduce bit-exactly.
      def pos(item: String) =
        s"CAST('0x' || substr(md5('b' || j || '|' || $item), 1, 8) AS BIGINT) % 32768"
      s"""WITH js AS (SELECT unnest(generate_series(0, 3)) AS j),
         |d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         |sh AS (
         |  SELECT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS sh
         |  FROM d, unnest(generate_series(1, len(l)-2)) AS u(i)
         |  WHERE len(l) >= 3
         |), bsh AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 10 = 0),
         |psh AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 10 != 0),
         |bloom AS (
         |  SELECT DISTINCT ${pos("sh")} AS pos FROM bsh CROSS JOIN js
         |), ppos AS (
         |  SELECT DISTINCT sh, ${pos("sh")} AS pos FROM psh CROSS JOIN js
         |), mc AS (
         |  SELECT p.sh, count(*) AS need, count(b.pos) AS have
         |  FROM ppos p LEFT JOIN bloom b ON b.pos = p.pos GROUP BY 1
         |), ex AS (SELECT sh FROM bsh)
         |SELECT (m.need = m.have) AS might_contain,
         |       (e.sh IS NOT NULL) AS exact_in,
         |       CAST(count(*) AS BIGINT) AS n_shingles
         |FROM mc m LEFT JOIN ex e USING (sh)
         |GROUP BY 1, 2
         |ORDER BY might_contain, exact_in""".stripMargin
    },

    "stats_cms_merge" -> {
      // single-pass sketch over the FULL token stream: the Spark side
      // merged two batch sketches, so hash equality proves ⊕ == 1-pass.
      def bucket(item: String, j: String) =
        s"CAST('0x' || substr(md5(CAST($j AS VARCHAR) || '|' || $item), 1, 8) AS BIGINT) % 1024"
      s"""WITH tok AS (
         |  SELECT unnest(string_split(text, ' ')) AS token FROM documents
         |), js AS (SELECT unnest(generate_series(0, 3)) AS j)
         |SELECT CAST(j AS INTEGER) AS j, ${bucket("token", "j")} AS bucket,
         |       CAST(count(*) AS BIGINT) AS total
         |FROM tok CROSS JOIN js GROUP BY 1, 2
         |ORDER BY j, bucket""".stripMargin
    },

    "stats_sketch_state" -> {
      // one pass over the UNION token stream for all three families —
      // what persist → load → merge → persist → read must equal.
      def bucket(item: String, j: String) =
        s"CAST('0x' || substr(md5(CAST($j AS VARCHAR) || '|' || $item), 1, 8) AS BIGINT) % 1024"
      def bpos(item: String) =
        s"CAST('0x' || substr(md5('b' || j || '|' || $item), 1, 8) AS BIGINT) % 8192"
      s"""WITH tok AS (
         |  SELECT unnest(string_split(text, ' ')) AS token FROM documents
         |), js AS (SELECT unnest(generate_series(0, 3)) AS j),
         |top AS (
         |  SELECT token FROM (
         |    SELECT token, count(*) AS n FROM tok GROUP BY 1
         |    ORDER BY n DESC, token ASC LIMIT 10)
         |), cms AS (
         |  SELECT j, ${bucket("token", "j")} AS bucket, count(*) AS total
         |  FROM tok CROSS JOIN js GROUP BY 1, 2
         |), cms_est AS (
         |  SELECT 'cms' AS family, q.token AS item,
         |         CAST(min(c.total) AS DOUBLE) AS est, CAST(NULL AS BOOLEAN) AS flag
         |  FROM (SELECT token, j, ${bucket("token", "j")} AS bucket
         |        FROM top CROSS JOIN js) q
         |  JOIN cms c ON c.j = q.j AND c.bucket = q.bucket
         |  GROUP BY 2
         |), h AS (
         |  SELECT DISTINCT CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) AS h FROM tok
         |), sk AS (SELECT h FROM h ORDER BY h LIMIT 256),
         |kmv AS (
         |  SELECT 'kmv' AS family, '_cardinality' AS item,
         |    CASE WHEN (SELECT count(*) FROM sk) < 256
         |         THEN CAST((SELECT count(*) FROM sk) AS DOUBLE)
         |         ELSE 255.0 * 4294967296.0 / CAST((SELECT max(h) FROM sk) AS DOUBLE)
         |    END AS est, CAST(NULL AS BOOLEAN) AS flag
         |), probes AS (
         |  SELECT token FROM top
         |  UNION ALL
         |  SELECT '__absent_' || CAST(i AS VARCHAR) AS token
         |  FROM unnest(generate_series(0, 9)) AS t(i)
         |), bloom AS (
         |  SELECT DISTINCT ${bpos("token")} AS pos FROM tok CROSS JOIN js
         |), ppos AS (
         |  SELECT DISTINCT token, ${bpos("token")} AS pos FROM probes CROSS JOIN js
         |), bl AS (
         |  SELECT 'bloom' AS family, p.token AS item, CAST(NULL AS DOUBLE) AS est,
         |         (count(*) = count(b.pos)) AS flag
         |  FROM ppos p LEFT JOIN bloom b ON b.pos = p.pos GROUP BY 2
         |)
         |SELECT * FROM cms_est UNION ALL SELECT * FROM kmv UNION ALL SELECT * FROM bl
         |ORDER BY family, item""".stripMargin
    },

    // one pass over the UNION stream: the bottom-512 (h, v) sample of
    // all events — what persist → load → merge → persist → read must
    // equal bit for bit (the KMV merge argument on pairs).
    "stats_quantile_sketch" ->
      """WITH ev AS (
        |  SELECT event_id, value FROM events WHERE value IS NOT NULL
        |), hv AS (
        |  SELECT CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT) AS h,
        |         value AS v
        |  FROM ev
        |), sk AS (SELECT h, v FROM hv ORDER BY h, v LIMIT 512),
        |ns AS (SELECT count(*) AS n_s FROM sk),
        |sr AS (SELECT v, row_number() OVER (ORDER BY v, h) AS rv FROM sk),
        |n AS (SELECT count(*) AS n FROM ev),
        |qs AS (SELECT CAST(unnest([0.1, 0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS q),
        |est AS (
        |  SELECT q, n_s,
        |         LEAST(GREATEST(CAST(floor(q*(n_s+1)) AS BIGINT), 1), n_s) AS rank_s
        |  FROM qs, ns
        |), est2 AS (
        |  SELECT e.q, e.n_s, e.rank_s, s.v AS v_est
        |  FROM est e JOIN sr s ON s.rv = e.rank_s
        |), ex AS (
        |  SELECT r.q, s.value AS v_exact
        |  FROM (SELECT q, LEAST(GREATEST(CAST(floor(q*(n+1)) AS BIGINT), 1), n) AS rank
        |        FROM qs, n) r
        |  JOIN (SELECT value, row_number() OVER (ORDER BY value, event_id) AS rn
        |        FROM ev) s ON s.rn = r.rank
        |), cdf AS (
        |  SELECT e.q,
        |         CAST(count(*) FILTER (WHERE ev.value <= e.v_est) AS DOUBLE)
        |           / CAST((SELECT n FROM n) AS DOUBLE) AS cdf_at_est
        |  FROM est2 e CROSS JOIN ev GROUP BY e.q, e.v_est
        |)
        |SELECT e.q, e.n_s, e.rank_s, e.v_est, x.v_exact, c.cdf_at_est,
        |       (abs(c.cdf_at_est - e.q) <= 0.1) AS err_ok
        |FROM est2 e JOIN ex x USING (q) JOIN cdf c USING (q)
        |ORDER BY q""".stripMargin,

    // TVD from exact integer counts (HUGEINT sum), one final division —
    // the same order-independent arithmetic the Spark side uses.
    "stats_drift" ->
      """WITH a AS (
        |  SELECT CAST(floor(value/25.0) AS BIGINT) AS bin, count(*) AS n_a
        |  FROM events WHERE event_type = 'click' AND value IS NOT NULL GROUP BY 1
        |), b AS (
        |  SELECT CAST(floor(value/25.0) AS BIGINT) AS bin, count(*) AS n_b
        |  FROM events WHERE event_type = 'view' AND value IS NOT NULL GROUP BY 1
        |), j AS (
        |  SELECT COALESCE(a.bin, b.bin) AS bin,
        |         COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
        |  FROM a FULL OUTER JOIN b ON a.bin = b.bin
        |), t AS (SELECT sum(n_a) AS tot_a, sum(n_b) AS tot_b FROM j),
        |p AS (
        |  SELECT bin, n_a, n_b,
        |         CAST(n_a AS DOUBLE)/CAST(tot_a AS DOUBLE) AS p_a,
        |         CAST(n_b AS DOUBLE)/CAST(tot_b AS DOUBLE) AS p_b
        |  FROM j, t
        |), bins AS (
        |  SELECT 'bin' AS section, bin, n_a, n_b, p_a, p_b,
        |         abs(p_a - p_b) AS l1_term,
        |         CASE WHEN p_a + p_b > 0
        |              THEN (p_a - p_b) * (p_a - p_b) * 2.0 / (p_a + p_b)
        |              ELSE 0.0 END AS chi2_term
        |  FROM p
        |), tot AS (
        |  SELECT 'total' AS section, CAST(NULL AS BIGINT) AS bin,
        |         CAST(tot_a AS BIGINT) AS n_a, CAST(tot_b AS BIGINT) AS n_b,
        |         CAST(NULL AS DOUBLE) AS p_a, CAST(NULL AS DOUBLE) AS p_b,
        |         CAST(sum(abs(n_a*tot_b - n_b*tot_a)) AS DOUBLE)
        |           / (2.0 * CAST(tot_a AS DOUBLE) * CAST(tot_b AS DOUBLE)) AS l1_term,
        |         CAST(NULL AS DOUBLE) AS chi2_term
        |  FROM j, t GROUP BY tot_a, tot_b
        |)
        |SELECT * FROM bins UNION ALL SELECT * FROM tot
        |ORDER BY section, bin NULLS LAST""".stripMargin,

    // same one-pass SQL as stats_drift: the persisted/merged histogram
    // lifecycle must be invisible in the comparison.
    // fresh rebuild over the retained cohort — subtract must be
    // indistinguishable from never having folded the forgotten docs.
    "stats_hist_forget" ->
      """SELECT CAST(floor(n_chars/64.0) AS BIGINT) AS bin, count(*) AS n
        |FROM documents
        |WHERE doc_id % 10 <> 3 AND n_chars IS NOT NULL
        |GROUP BY 1 ORDER BY bin""".stripMargin,

    "stats_expire_windows" ->
      // bottom-256 distinct shingle hashes over the SURVIVING windows
      // (doc_id % 3 != 0): the merge of surviving partials must equal
      // this fresh build, or expiry dropped/kept the wrong contribution.
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS l
        |           FROM documents WHERE doc_id % 3 <> 0),
        |sh AS (
        |  SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS sh
        |  FROM d, unnest(generate_series(1, len(l)-2)) AS u(i)
        |  WHERE len(l) >= 3
        |), h AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(sh), 1, 8) AS BIGINT) AS h FROM sh
        |), sk AS (
        |  SELECT h, row_number() OVER (ORDER BY h) AS rank FROM h
        |  ORDER BY h LIMIT 256
        |)
        |SELECT CAST(rank AS INTEGER) AS rank, h FROM sk
        |ORDER BY rank""".stripMargin,

    "stats_rebuild_forget" -> {
      // all three non-invertible sketches built fresh over the retained
      // corpus (doc_id % 10 != 3), in the (family, a, b, v) layout the
      // Spark side reads back from its re-persisted state.
      def bloomPos(item: String) =
        s"CAST('0x' || substr(md5('b' || j || '|' || $item), 1, 8) AS BIGINT) % 8192"
      def cmsBucket(item: String) =
        s"CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || $item), 1, 8) AS BIGINT) % 1024"
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS l
         |           FROM documents WHERE doc_id % 10 <> 3),
         |sh AS (
         |  SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS sh
         |  FROM d, unnest(generate_series(1, len(l)-2)) AS u(i)
         |  WHERE len(l) >= 3
         |), js AS (SELECT unnest(generate_series(0, 3)) AS j),
         |h AS (
         |  SELECT DISTINCT CAST('0x' || substr(md5(sh), 1, 8) AS BIGINT) AS h FROM sh
         |), kmv AS (
         |  SELECT 'kmv' AS family,
         |         CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS a,
         |         CAST(0 AS BIGINT) AS b, h AS v
         |  FROM h ORDER BY h LIMIT 256
         |), dsh AS (SELECT DISTINCT sh FROM sh),
         |bloom AS (
         |  SELECT DISTINCT 'bloom' AS family, ${bloomPos("sh")} AS a,
         |         CAST(0 AS BIGINT) AS b, CAST(1 AS BIGINT) AS v
         |  FROM dsh CROSS JOIN js
         |), cms AS (
         |  SELECT 'cms' AS family, CAST(j AS BIGINT) AS a,
         |         ${cmsBucket("sh")} AS b, CAST(count(*) AS BIGINT) AS v
         |  FROM sh CROSS JOIN js GROUP BY 1, 2, ${cmsBucket("sh")}
         |)
         |SELECT family, a, b, v FROM kmv
         |UNION ALL SELECT family, a, b, v FROM bloom
         |UNION ALL SELECT family, a, b, v FROM cms
         |ORDER BY family, a, b""".stripMargin
    },

    "stats_drift_state" ->
      """WITH a AS (
        |  SELECT CAST(floor(value/25.0) AS BIGINT) AS bin, count(*) AS n_a
        |  FROM events WHERE event_type = 'click' AND value IS NOT NULL GROUP BY 1
        |), b AS (
        |  SELECT CAST(floor(value/25.0) AS BIGINT) AS bin, count(*) AS n_b
        |  FROM events WHERE event_type = 'view' AND value IS NOT NULL GROUP BY 1
        |), j AS (
        |  SELECT COALESCE(a.bin, b.bin) AS bin,
        |         COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
        |  FROM a FULL OUTER JOIN b ON a.bin = b.bin
        |), t AS (SELECT sum(n_a) AS tot_a, sum(n_b) AS tot_b FROM j),
        |p AS (
        |  SELECT bin, n_a, n_b,
        |         CAST(n_a AS DOUBLE)/CAST(tot_a AS DOUBLE) AS p_a,
        |         CAST(n_b AS DOUBLE)/CAST(tot_b AS DOUBLE) AS p_b
        |  FROM j, t
        |), bins AS (
        |  SELECT 'bin' AS section, bin, n_a, n_b, p_a, p_b,
        |         abs(p_a - p_b) AS l1_term,
        |         CASE WHEN p_a + p_b > 0
        |              THEN (p_a - p_b) * (p_a - p_b) * 2.0 / (p_a + p_b)
        |              ELSE 0.0 END AS chi2_term
        |  FROM p
        |), tot AS (
        |  SELECT 'total' AS section, CAST(NULL AS BIGINT) AS bin,
        |         CAST(tot_a AS BIGINT) AS n_a, CAST(tot_b AS BIGINT) AS n_b,
        |         CAST(NULL AS DOUBLE) AS p_a, CAST(NULL AS DOUBLE) AS p_b,
        |         CAST(sum(abs(n_a*tot_b - n_b*tot_a)) AS DOUBLE)
        |           / (2.0 * CAST(tot_a AS DOUBLE) * CAST(tot_b AS DOUBLE)) AS l1_term,
        |         CAST(NULL AS DOUBLE) AS chi2_term
        |  FROM j, t GROUP BY tot_a, tot_b
        |)
        |SELECT * FROM bins UNION ALL SELECT * FROM tot
        |ORDER BY section, bin NULLS LAST""".stripMargin,

    // the oracle is the UNSALTED join: salting must be invisible in the
    // result for any salt value.
    "scale_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS DOUBLE)/CAST(100 AS DOUBLE) AS total_price
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "stats_histogram" ->
      """WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
        |SELECT CAST(CASE WHEN hi = lo THEN 0
        |  ELSE least(floor((value - lo)/((hi - lo)/20)), 19.0) END AS INTEGER) AS bucket,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events CROSS JOIN b
        |GROUP BY 1 ORDER BY bucket""".stripMargin,

    // the oracle sees no partition layout — pruning must be invisible in
    // the result, visible only in the plan.
    "scale_partition_pruning" ->
      """WITH dim AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS event_date FROM events
        |  WHERE day(CAST(ts AS DATE)) <= 7)
        |SELECT e.event_date, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM (SELECT CAST(ts AS DATE) AS event_date, event_type, value
        |      FROM events) e
        |JOIN dim ON e.event_date = dim.event_date
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
  )
}
