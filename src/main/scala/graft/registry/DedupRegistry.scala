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

/** Deduplication: exact, n-gram Jaccard, MinHash+LSH, incremental/streaming admission state.
  *
  * One slice of the driver registry ([[graft.SparkEntry]] merges the
  * family registries; EntrySmokeSpec proves the merged contract). Split
  * out of the monolithic SparkEntry in round 11 — entries are verbatim,
  * shared harness helpers and oracle CTE fragments live in [[Shared]].
  */
private[graft] object DedupRegistry {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_embedding_lsh" -> ((s, d) =>
      Dedup.embeddingCosinePairsLsh(Tables.embeddings(s, d), threshold = 0.42)
        .orderBy("i", "j")),

    "dedup_incremental" -> ((s, d) => {
      // batch-over-batch dedup: replays of already-seen content are
      // anti-joined out against the persisted hash set; in-batch copies
      // collapse to the smallest doc_id.
      val docs = Tables.documents(s, d)
      val firstHalf = docs.filter(col("doc_id") < 250)
      val secondHalf = docs.filter(col("doc_id") >= 250)
      val incoming = secondHalf
        .unionByName(firstHalf.withColumn("doc_id", col("doc_id") + 10000))
        .unionByName(secondHalf.withColumn("doc_id", col("doc_id") + 20000))
      val seen = firstHalf.select(md5(col("text")).as("content_hash"))
      Dedup.incrementalExact(incoming, seen)
        .select(col("doc_id"), col("content_hash"))
        .orderBy("doc_id")
    }),

    "dedup_exact" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d)).orderBy("keeper")),

    "dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccard(Tables.documents(s, d), w = 5, threshold = 0.8)
        .orderBy("d1", "d2")),

    "dedup_repeated_spans" -> ((s, d) =>
      // exact-substring-style span dedup at 8-token granularity: which
      // tokens of each document are cross-corpus boilerplate. Localizes
      // shared spans that whole-doc similarity (jaccard/minhash) cannot.
      Dedup.repeatedSpans(Tables.documents(s, d), w = 8, minDocs = 2)
        .orderBy("doc_id")),

    "dedup_recall_eval" -> ((s, d) => {
      // "measure, don't guess" for the near-dup family (round 13 —
      // the dedup-side sibling of sim_recall_eval): every EXACT
      // Jaccard >= 0.5 pair flagged with whether the banded MinHash
      // path surfaced it. Misses are deterministic given the md5 hash
      // family, so recall here is a reproducible, oracle-checked
      // number — the audit a dedup deployment runs before trusting
      // the banded path with the corpus.
      // ONE staged shingle table feeds BOTH legs (round 15): the
      // corpus is tokenized+shingled once, lands in distributed
      // storage, and the exact and banded pipelines read it back —
      // previously the LSH leg re-shingled into executor block memory.
      val docs = Tables.documents(s, d)
      val tmp = TempDirs.create("graft-recall-ngram-").toString
      Dedup.shingles(docs, w = 5).write.parquet(s"$tmp/shingles")
      val tri = s.read.parquet(s"$tmp/shingles")
      val exact = Dedup.ngramJaccardOnShingles(tri, threshold = 0.5)
      val lsh = Dedup.minhashLshOnShingles(tri, numHashes = 8,
          bandWidth = 2, threshold = 0.5)
        .select(col("d1").as("l1"), col("d2").as("l2"))
      detachAndClean(
        exact.join(lsh,
            col("d1") === col("l1") && col("d2") === col("l2"), "left")
          .select(col("d1"), col("d2"), col("jaccard"),
            col("l1").isNotNull.as("found"))
          .orderBy("d1", "d2"),
        tmp)
    }),

    "dedup_banding_sweep" -> ((s, d) => {
      // the LSH s-curve as a TUNING TABLE (the dedup analog of
      // sim_ivf_nprobe_sweep): recall of the banded path vs exact
      // >= 0.5 pairs across band widths 1/2/4 over the 8-hash family —
      // narrower bands collide more (higher recall, more candidate
      // volume), wider bands less. Verification is shared, so every
      // found set is a subset of the exact set and recall is a pure
      // count ratio. The 3-row result is a bounded driver artifact,
      // like every bin/bucket table.
      // SINGLE-SIGNATURE form (round 15): the corpus is shingled ONCE
      // (staged to parquet) and min-hashed ONCE (the signature table —
      // identical across band widths — staged too, the state a
      // warehouse persists anyway); each width is then only a banding
      // PROJECTION of the staged signatures plus the candidate join,
      // with verification reading the one staged shingle table. The
      // round-14 form re-ran the full shingle→minhash pipeline four
      // times (one exact + three banded legs) — 4 corpus scans cut
      // to 1 at any scale.
      import s.implicits._
      val docs = Tables.documents(s, d)
      // Every count is eager, so the staged tables go before return.
      val tmp = TempDirs.create("graft-sweep-")
      try {
        Dedup.shingles(docs, w = 5).write.parquet(s"$tmp/shingles")
        val tri = s.read.parquet(s"$tmp/shingles")
        Dedup.signatureTableFromShingles(tri, w = 5, numHashes = 8)
          .write.parquet(s"$tmp/sigs")
        val sigs = s.read.parquet(s"$tmp/sigs")
        val nExact = Dedup.ngramJaccardOnShingles(tri, threshold = 0.5).count()
        Seq(1, 2, 4).map { bw =>
          val found = Dedup.pairsFromBands(tri,
            Dedup.bandTableFromSignatures(sigs, bandWidth = bw),
            threshold = 0.5).count()
          (bw, nExact, found, found.toDouble / nExact)
        }.toDF("band_width", "n_exact", "n_found", "recall")
          .orderBy("band_width")
      } finally graft.plans.Pipeline.deleteRecursively(tmp)
    }),

    "dedup_maximal_spans" -> ((s, d) =>
      // VARIABLE-LENGTH exact-substring detection (round 13): maximal
      // contiguous runs of cross-corpus duplicated 8-token windows,
      // kept only when the run covers >= 12 tokens — the suffix-array
      // "remove repeated substrings >= L" semantics at window
      // granularity. One row per qualifying span with its exact token
      // interval; the fixed-w family (dedup_repeated_spans) counts
      // coverage, this one LOCALIZES it at variable length.
      Dedup.maximalRepeatedSpans(Tables.documents(s, d), w = 8,
          minDocs = 2, minLen = 12)
        .orderBy("doc_id", "span_start")),

    "dedup_maximal_span_removal" -> ((s, d) =>
      // the REWRITE half at variable length: only non-canonical covered
      // runs of >= 12 tokens are cut — short shared phrases survive,
      // long boilerplate is excised. Hash-keyed joins, parquet output.
      Dedup.removeMaximalSpans(Tables.documents(s, d), w = 8, minDocs = 2,
          minLen = 12)
        .orderBy("doc_id")),

    "dedup_span_removal" -> ((s, d) =>
      // the REWRITE half of exact-substring dedup (round 11): cut every
      // cross-corpus duplicated 8-token span from all but its canonical
      // (min-doc_id) occurrence and emit the rewritten corpus. The hash
      // pins the cleaned text itself, token for token — canonical docs
      // intact, non-canonical occurrences excised, whole-boilerplate
      // docs reduced to ''. 128-bit window-hash join keys, rewritten
      // corpus written to parquet and read back — no corpus-sized
      // localCheckpoint.
      Dedup.removeCrossDocSpans(Tables.documents(s, d), w = 8, minDocs = 2)
        .orderBy("doc_id")),

    "dedup_clusters" -> ((s, d) =>
      // pairwise matches → dedup clusters (cluster id = canonical keeper).
      // Pairs come from the CHEAP banded MinHash path (already eagerly
      // materialized by minhashLsh, so the CC loop never re-runs the pair
      // pipeline); at warehouse scale the pair list is a staged table and
      // this operator reads it back — the API takes any pairs frame.
      Dedup.clusterPairs(
          Dedup.minhashLsh(Tables.documents(s, d), w = 5, numHashes = 8,
            bandWidth = 2, threshold = 0.5))
        .orderBy("doc_id")),

    "dedup_minhash_lsh" -> ((s, d) =>
      Dedup.minhashLsh(Tables.documents(s, d), w = 5, numHashes = 8,
          bandWidth = 2, threshold = 0.5)
        .orderBy("d1", "d2")),

    "dedup_lsh_capped" -> ((s, d) =>
      // the SKEW-GUARDED form of dedup_minhash_lsh: band buckets larger
      // than 2 members are excluded from candidate generation — at
      // corpus scale one boilerplate bucket can emit more pairs than
      // the rest of the join combined and stall its reducer; capped
      // members stay discoverable through their other bands. The cap
      // BINDS on this corpus (size-3 buckets exist), so the oracle
      // checks the exclusion semantics, not a no-op.
      Dedup.minhashLsh(Tables.documents(s, d), w = 5, numHashes = 8,
          bandWidth = 2, threshold = 0.5, maxBucketSize = 2)
        .orderBy("d1", "d2")),

    "dedup_keep_best" -> ((s, d) => {
      // cluster retention by QUALITY: each near-dup cluster keeps its
      // highest-quality member (n_chars as the quality proxy; ties to
      // the smaller id) — the keep-the-best-copy policy, as a partial
      // aggregation so only |clusters| rows shuffle.
      val docs = Tables.documents(s, d)
      Dedup.keepBestPerCluster(
          Dedup.clusterPairs(Dedup.minhashLsh(docs, w = 5, numHashes = 8,
            bandWidth = 2, threshold = 0.5)),
          docs.select(col("doc_id"), col("n_chars")), "n_chars")
        .orderBy("cluster_id")
    }),

    "dedup_compact_global" -> ((s, d) => {
      // GLOBAL near-dup compaction (round 11): the batch complement of
      // streaming admission. Build the full corpus's persisted band
      // state, re-cluster it from the STATE alone (bucket-star edges →
      // connected components — O(members) edges per bucket, the same
      // skew discipline as admission), keep the best-quality member per
      // cluster, and REWRITE the state to the keepers' bands via
      // stage-then-promote. In-query requires pin the lifecycle: the
      // compacted state holds exactly the keepers' bands (a non-keeper
      // band would re-reject content whose representative was dropped);
      // the hash pins the keeper table.
      val docs = Tables.documents(s, d)
      val tmp = TempDirs.create("graft-compact-").toString
      val stateDir = s"$tmp/bands"
      Dedup.writeBandState(
        Dedup.bandTable(docs, w = 5, numHashes = 8, bandWidth = 2),
        stateDir, mode = "errorifexists")
      val kept = Dedup.compactNearDupState(s, stateDir, docs,
        qualityCol = "n_chars", w = 5, numHashes = 8, bandWidth = 2)
      val ghost = s.read.parquet(stateDir).select(col("doc_id")).distinct()
        .join(kept.select(col("keeper").as("doc_id")), Seq("doc_id"), "left_anti")
        .count()
      require(ghost == 0,
        s"$ghost non-keeper docs left bands in the compacted state")
      detachAndClean(kept.orderBy("cluster_id"), tmp)
    }),

    "dedup_incremental_near" -> ((s, d) => {
      // batch-over-batch near-dup admission: src0-9 play the accumulated
      // corpus (its PERSISTED band table is the state), src10-19 the
      // incoming batch; an incoming doc colliding with any seen band
      // bucket is rejected. Candidate-level by design (see scaladoc).
      val docs = Tables.documents(s, d)
      val seenSrc = (0 to 9).map(i => s"src$i")
      val seen = docs.filter(col("source").isin(seenSrc: _*))
      val incoming = docs.filter(!col("source").isin(seenSrc: _*))
      Dedup.incrementalNearDup(incoming,
          Dedup.bandTable(seen, w = 5, numHashes = 8, bandWidth = 2),
          w = 5, numHashes = 8, bandWidth = 2)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    "dedup_incremental_near_verified" -> ((s, d) => {
      // VERIFIED batch-over-batch admission: a band collision only
      // nominates a candidate — rejection additionally requires the
      // estimated Jaccard against the colliding doc's persisted minhash
      // signature to clear 0.5. Admits a superset of the candidate-level
      // query above (DedupSpec measures the bought-back false-reject
      // rate); state is bands + signatures, still never documents.
      val docs = Tables.documents(s, d)
      val seenSrc = (0 to 9).map(i => s"src$i")
      val seen = docs.filter(col("source").isin(seenSrc: _*))
      val incoming = docs.filter(!col("source").isin(seenSrc: _*))
      // the seen-side shingle→minhash pipeline runs ONCE: signatures are
      // the state, bands a derived projection (what a warehouse persists
      // vs recomputes). MATERIALIZE the cache before anything reads it:
      // bandTableFromSignatures and the operator's layout validation each
      // run one-row probe jobs, and against a lazily-cached frame every
      // probe re-ran a partial shingle→minhash pipeline (the r7 bench
      // doubling) — one count() up front turns them all into cache reads.
      Stage.scoped { st =>
        val sigs = st.cache(Dedup.signatureTable(seen, w = 5, numHashes = 8))
        sigs.count()
        Dedup.incrementalNearDupVerified(incoming,
            Dedup.bandTableFromSignatures(sigs, bandWidth = 2), sigs,
            w = 5, numHashes = 8, bandWidth = 2, minEstJaccard = 0.5)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .orderBy("doc_id")
      }
    }),

    "dedup_state_append" -> ((s, d) => {
      // the WRITE half of incremental admission, two batches deep: build
      // and persist the seen corpus's band state, admit batch 1 against
      // it, APPEND the admitted docs' bands to the state, then admit
      // batch 2 against the UPDATED state. A batch-2 doc colliding with
      // an ADMITTED batch-1 doc must be rejected — exactly what the
      // append exists for; without it the state stops deduplicating
      // against everything after the initial corpus.
      val docs = Tables.documents(s, d)
      val seenSrc = (0 to 9).map(i => s"src$i")
      val b1Src = (10 to 14).map(i => s"src$i")
      val seen = docs.filter(col("source").isin(seenSrc: _*))
      val batch1 = docs.filter(col("source").isin(b1Src: _*))
      val batch2 = docs.filter(!col("source").isin((seenSrc ++ b1Src): _*))
      val tmp = TempDirs.create("graft-state-append-").toString
      val stateDir = s"$tmp/bands"
      // PARTITIONED state (band/bpfx cells): both admissions below read
      // the state pruned to the cells their batch probes — the
      // VectorIndex nprobe discipline applied to dedup state. Values
      // are identical to a flat-state run (pruning is exact); the flat
      // legacy path stays covered by dedup_state_retention.
      Dedup.writeBandState(
        Dedup.bandTable(seen, w = 5, numHashes = 8, bandWidth = 2),
        stateDir, mode = "errorifexists")
      val adm1 = Dedup.incrementalNearDupFromState(s, batch1, stateDir,
        w = 5, numHashes = 8, bandWidth = 2)
      Dedup.appendBandState(s, stateDir, adm1,
        w = 5, numHashes = 8, bandWidth = 2)
      val adm2 = Dedup.incrementalNearDupFromState(s, batch2, stateDir,
        w = 5, numHashes = 8, bandWidth = 2)
      detachAndClean(
        adm1.unionByName(adm2)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .orderBy("doc_id"),
        tmp)
    }),

    "dedup_state_retention" -> ((s, d) => {
      // dedup-STATE lifecycle round-trip: build and PERSIST the band-table
      // state for the accumulated corpus, remove a third of its documents
      // (deleted / re-licensed out), run key-based retention over the
      // state files (semi-join staged rewrite, ScaleOps.retainRows, via
      // the object-store-safe POINTER promotion so resolve/migrate/prune
      // are all driver-visible), then admit the incoming batch against the
      // RETAINED state. The oracle computes admission against a seen-set
      // that never contained the removed docs — pass ⟺ retention made
      // them never-existed, which is exactly what a ghost state row (a
      // rejection against a doc no longer in the corpus) would break.
      val docs = Tables.documents(s, d)
      val seenSrc = (0 to 9).map(i => s"src$i")
      val seen = docs.filter(col("source").isin(seenSrc: _*))
      val incoming = docs.filter(!col("source").isin(seenSrc: _*))
      val tmp = TempDirs.create("graft-dedup-state-").toString
      val stateDir = s"$tmp/bands"
      Dedup.bandTable(seen, w = 5, numHashes = 8, bandWidth = 2)
        .repartition(8) // small state files — retention compacts them too
        .write.parquet(stateDir)
      val stagedFiles = s.read.parquet(stateDir)
        .select(input_file_name()).distinct().count()
      val survivors = seen.filter(col("doc_id") % 3 =!= 0)
      graft.operators.ScaleOps.retainRows(s, stateDir,
        survivors.select(col("doc_id")), Seq("doc_id"),
        promotion = graft.operators.ScaleOps.PointerSwap)
      val retained = graft.operators.ScaleOps.readMaintained(s, stateDir,
        graft.operators.ScaleOps.PointerSwap)
      val files = retained.select(input_file_name()).distinct().count()
      require(files < stagedFiles,
        s"retention rewrite should compact the $stagedFiles staged state " +
          s"files, found $files")
      detachAndClean(
        Dedup.incrementalNearDup(incoming, retained,
            w = 5, numHashes = 8, bandWidth = 2)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .orderBy("doc_id"),
        tmp)
    }),

    "dedup_embedding_cosine" -> ((s, d) =>
      Dedup.embeddingCosinePairs(Tables.embeddings(s, d), threshold = 0.42)
        .orderBy("i", "j")),

    "dedup_state_expire" -> ((s, d) => {
      // AGE/TTL retention for persisted dedup state (round 12): band
      // rows carry an `admitted_ts` EVENT-time stamp written by the
      // append path (never wall clock — deterministic, oracle-checkable);
      // the watermark expires cohort ts=0 in a staged rewrite through
      // the object-store-safe POINTER promotion, and admission against
      // the aged state must equal admission against a state freshly
      // built over the surviving cohort alone. Expired docs become
      // never-seen — the ghost-row failure mode (rejecting new content
      // against documents aged out of the corpus) is exactly what the
      // oracle would catch.
      val docs = Tables.documents(s, d)
      val srcA = (0 to 4).map(i => s"src$i")   // window ts=0 — expires
      val srcB = (5 to 9).map(i => s"src$i")   // window ts=1 — survives
      val cohortA = docs.filter(col("source").isin(srcA: _*))
      val cohortB = docs.filter(col("source").isin(srcB: _*))
      val incoming = docs.filter(!col("source").isin((srcA ++ srcB): _*))
      val tmp = TempDirs.create("graft-state-expire-").toString
      val stateDir = s"$tmp/bands"
      Dedup.writeBandState(
        Dedup.bandTable(cohortA, w = 5, numHashes = 8, bandWidth = 2)
          .withColumn("admitted_ts", lit(0L)),
        stateDir, mode = "errorifexists")
      Dedup.writeBandState(
        Dedup.bandTable(cohortB, w = 5, numHashes = 8, bandWidth = 2)
          .withColumn("admitted_ts", lit(1L)),
        stateDir, mode = "append")
      graft.operators.ScaleOps.expireRowsOlderThan(s, stateDir,
        "admitted_ts", watermark = 1L,
        promotion = graft.operators.ScaleOps.PointerSwap)
      val retained = graft.operators.ScaleOps.readMaintained(s, stateDir,
        graft.operators.ScaleOps.PointerSwap)
      detachAndClean(
        Dedup.incrementalNearDup(incoming, retained,
            w = 5, numHashes = 8, bandWidth = 2)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .orderBy("doc_id"),
        tmp)
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_copies, min(doc_id) AS keeper
        |FROM documents GROUP BY 1 ORDER BY keeper""".stripMargin,

    "dedup_ngram_jaccard" -> s"$ngramPairsCoreSql\nORDER BY d1, d2",

    "dedup_repeated_spans" ->
      """WITH rtoks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), rpos AS (
        |  SELECT doc_id, u.i AS s, array_to_string(t[u.i:u.i+7], ' ') AS sh
        |  FROM rtoks, UNNEST(range(1, len(t)-8+2)) AS u(i)
        |), rdup AS (
        |  SELECT sh FROM rpos GROUP BY sh HAVING count(DISTINCT doc_id) >= 2
        |), rstarts AS (
        |  SELECT doc_id, s FROM rpos JOIN rdup USING (sh)
        |), rflag AS (
        |  SELECT doc_id, s,
        |         CASE WHEN s > coalesce(max(s + 7) OVER (
        |             PARTITION BY doc_id ORDER BY s
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |           THEN 1 ELSE 0 END AS new_span
        |  FROM rstarts
        |), rspan AS (
        |  SELECT doc_id, s,
        |         sum(new_span) OVER (PARTITION BY doc_id ORDER BY s) AS span_id
        |  FROM rflag
        |), ragg AS (
        |  SELECT doc_id, span_id, max(s) + 7 - min(s) + 1 AS covered,
        |         count(*) AS nw
        |  FROM rspan GROUP BY doc_id, span_id
        |), rper AS (
        |  SELECT doc_id, CAST(sum(nw) AS BIGINT) AS dup_windows,
        |         count(*) AS dup_spans,
        |         CAST(sum(covered) AS BIGINT) AS covered_tokens
        |  FROM ragg GROUP BY doc_id
        |)
        |SELECT d.doc_id, len(string_split(d.text, ' ')) AS n_tokens,
        |       p.dup_windows, p.dup_spans, p.covered_tokens
        |FROM rper p JOIN documents d USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // exact >= 0.5 pairs left-joined against the banded-MinHash verified
    // set: found ⟺ the banding surfaced the pair (verification shared,
    // so found ⊆ exact by construction).
    "dedup_recall_eval" ->
      s"""WITH e AS (SELECT d1, d2, jaccard FROM (${ngramPairsSqlAt(0.5)}) t),
         |l AS (SELECT d1, d2 FROM ($minhashPairsCoreSql) t)
         |SELECT e.d1, e.d2, e.jaccard, l.d1 IS NOT NULL AS found
         |FROM e LEFT JOIN l ON l.d1 = e.d1 AND l.d2 = e.d2
         |ORDER BY e.d1, e.d2""".stripMargin,

    // per-band-width recall: the same verified-pair chain at widths
    // 1/2/4, counted against the exact set.
    "dedup_banding_sweep" -> {
      def leg(bw: Int) =
        s"SELECT CAST($bw AS INTEGER) AS band_width, " +
          "(SELECT count(*) FROM e) AS n_exact, " +
          s"(SELECT count(*) FROM f$bw) AS n_found, " +
          s"CAST((SELECT count(*) FROM f$bw) AS DOUBLE) / " +
          "CAST((SELECT count(*) FROM e) AS DOUBLE) AS recall"
      s"""WITH e AS (SELECT d1, d2 FROM (${ngramPairsSqlAt(0.5)}) t),
         |f1 AS (SELECT d1, d2 FROM (${minhashPairsSqlBanded(None, 1)}) t),
         |f2 AS (SELECT d1, d2 FROM (${minhashPairsSqlBanded(None, 2)}) t),
         |f4 AS (SELECT d1, d2 FROM (${minhashPairsSqlBanded(None, 4)}) t)
         |${leg(1)}
         |UNION ALL
         |${leg(2)}
         |UNION ALL
         |${leg(4)}
         |ORDER BY band_width""".stripMargin
    },

    // variable-length form: positions covered by any duplicated window
    // union into contiguous runs (gap-group: q − rank constant within a
    // run), and only runs covering >= 12 tokens qualify.
    "dedup_maximal_spans" ->
      """WITH mtoks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), mpos AS (
        |  SELECT doc_id, u.i AS s, array_to_string(t[u.i:u.i+7], ' ') AS sh
        |  FROM mtoks, UNNEST(range(1, len(t)-8+2)) AS u(i)
        |), mdup AS (
        |  SELECT sh FROM mpos GROUP BY sh HAVING count(DISTINCT doc_id) >= 2
        |), mcover AS (
        |  SELECT DISTINCT p.doc_id, p.s + o.off AS q
        |  FROM mpos p JOIN mdup USING (sh), UNNEST(range(0, 8)) AS o(off)
        |), mrun AS (
        |  SELECT doc_id, q,
        |         q - row_number() OVER (PARTITION BY doc_id ORDER BY q) AS grp
        |  FROM mcover
        |), mspan AS (
        |  SELECT doc_id, min(q) AS span_start, max(q) AS span_end,
        |         count(*) AS span_len
        |  FROM mrun GROUP BY doc_id, grp
        |)
        |SELECT doc_id, span_start, span_end, CAST(span_len AS BIGINT) AS span_len
        |FROM mspan WHERE span_len >= 12
        |ORDER BY doc_id, span_start""".stripMargin,

    // removal at variable length: only non-canonical covered runs of
    // >= 12 tokens cut; rebuild mirrors dedup_span_removal.
    "dedup_maximal_span_removal" ->
      """WITH vtoks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), vtok AS (
        |  SELECT doc_id, u.i AS p, t[u.i] AS tok
        |  FROM vtoks, UNNEST(range(1, len(t)+1)) AS u(i)
        |), vwins AS (
        |  SELECT doc_id, u.i AS p, array_to_string(t[u.i:u.i+7], ' ') AS w
        |  FROM vtoks, UNNEST(range(1, greatest(len(t)-8+2, 1))) AS u(i)
        |), vdup AS (
        |  SELECT w, min(doc_id) AS canon FROM vwins
        |  GROUP BY w HAVING count(DISTINCT doc_id) >= 2
        |), vcover AS (
        |  SELECT DISTINCT wi.doc_id, wi.p + o.off AS q
        |  FROM vwins wi JOIN vdup d ON wi.w = d.w AND wi.doc_id <> d.canon,
        |       UNNEST(range(0, 8)) AS o(off)
        |), vrun AS (
        |  SELECT doc_id, q,
        |         q - row_number() OVER (PARTITION BY doc_id ORDER BY q) AS grp
        |  FROM vcover
        |), vqual AS (
        |  SELECT doc_id, grp FROM vrun GROUP BY doc_id, grp
        |  HAVING count(*) >= 12
        |), vcut AS (
        |  SELECT r.doc_id, r.q FROM vrun r JOIN vqual s
        |    ON r.doc_id = s.doc_id AND r.grp = s.grp
        |), vmarked AS (
        |  SELECT vtok.doc_id, vtok.p, vtok.tok, vcut.q IS NOT NULL AS dropped
        |  FROM vtok LEFT JOIN vcut
        |    ON vtok.doc_id = vcut.doc_id AND vtok.p = vcut.q
        |)
        |SELECT doc_id, count(*) AS n_tokens,
        |       count(*) FILTER (WHERE dropped) AS n_dropped,
        |       coalesce(array_to_string(
        |         list(tok ORDER BY p) FILTER (WHERE NOT dropped), ' '), '')
        |         AS clean_text
        |FROM vmarked GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same tokenizer/window contract as dedup_repeated_spans; the
    // canonical occurrence (min doc_id per window text) keeps its
    // tokens, every other occurrence's w positions are cut, and the
    // text is rebuilt from the surviving positions.
    "dedup_span_removal" ->
      """WITH stoks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), stok AS (
        |  SELECT doc_id, u.i AS p, t[u.i] AS tok
        |  FROM stoks, UNNEST(range(1, len(t)+1)) AS u(i)
        |), swins AS (
        |  SELECT doc_id, u.i AS p, array_to_string(t[u.i:u.i+7], ' ') AS w
        |  FROM stoks, UNNEST(range(1, greatest(len(t)-8+2, 1))) AS u(i)
        |), sdup AS (
        |  SELECT w, min(doc_id) AS canon FROM swins
        |  GROUP BY w HAVING count(DISTINCT doc_id) >= 2
        |), scover AS (
        |  SELECT DISTINCT wi.doc_id, wi.p + o.off AS q
        |  FROM swins wi JOIN sdup d ON wi.w = d.w AND wi.doc_id <> d.canon,
        |       UNNEST(range(0, 8)) AS o(off)
        |), smarked AS (
        |  SELECT stok.doc_id, stok.p, stok.tok, scover.q IS NOT NULL AS dropped
        |  FROM stok LEFT JOIN scover
        |    ON stok.doc_id = scover.doc_id AND stok.p = scover.q
        |)
        |SELECT doc_id, count(*) AS n_tokens,
        |       count(*) FILTER (WHERE dropped) AS n_dropped,
        |       coalesce(array_to_string(
        |         list(tok ORDER BY p) FILTER (WHERE NOT dropped), ' '), '')
        |         AS clean_text
        |FROM smarked GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_clusters" ->
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
         |)
         |SELECT node AS doc_id, min(m) AS cluster_id
         |FROM reach GROUP BY 1
         |ORDER BY doc_id""".stripMargin,

    "dedup_minhash_lsh" -> minhashOracle,

    "dedup_lsh_capped" ->
      s"${minhashPairsSql(Some(2))}\nORDER BY d1, d2",

    "dedup_keep_best" ->
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
         |), j AS (
         |  SELECT cl.cluster_id, cl.doc_id, d.n_chars
         |  FROM cl JOIN documents d USING (doc_id)
         |), r AS (
         |  SELECT cluster_id, doc_id, n_chars,
         |         row_number() OVER (PARTITION BY cluster_id
         |                            ORDER BY n_chars DESC, doc_id ASC) AS rn,
         |         count(*) OVER (PARTITION BY cluster_id) AS n_members
         |  FROM j
         |)
         |SELECT cluster_id, doc_id AS keeper, n_chars AS keeper_quality,
         |  CAST(n_members AS BIGINT) AS n_members
         |FROM r WHERE rn = 1
         |ORDER BY cluster_id""".stripMargin,

    // candidate-level clustering from the band state: star edges to the
    // bucket min are connectivity-equivalent to the within-bucket clique;
    // singletons (docs with no colliding bands, incl. shingle-less docs)
    // keep themselves.
    "dedup_compact_global" ->
      s"""WITH RECURSIVE $triSql,
         |$bandCteSql,
         |bmin AS (
         |  SELECT band, bkey, min(doc_id) AS root FROM bands GROUP BY 1, 2),
         |edges0 AS (
         |  SELECT DISTINCT m.root AS a, b.doc_id AS b
         |  FROM bands b JOIN bmin m USING (band, bkey)
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
         |  FROM documents d LEFT JOIN cl USING (doc_id)),
         |r AS (
         |  SELECT cluster_id, doc_id, n_chars,
         |         row_number() OVER (PARTITION BY cluster_id
         |                            ORDER BY n_chars DESC, doc_id ASC) AS rn,
         |         count(*) OVER (PARTITION BY cluster_id) AS n_members
         |  FROM allc)
         |SELECT cluster_id, doc_id AS keeper, n_chars AS keeper_quality,
         |  CAST(n_members AS BIGINT) AS n_members
         |FROM r WHERE rn = 1
         |ORDER BY cluster_id""".stripMargin,

    "dedup_incremental_near" ->
      s"""WITH $triSql,
         |$bandCteSql,
         |docsrc AS (SELECT doc_id, source FROM documents),
         |seenb AS (
         |  SELECT DISTINCT band, bkey
         |  FROM bands JOIN docsrc USING (doc_id)
         |  WHERE source IN (${(0 to 9).map(i => s"'src$i'").mkString(",")})),
         |incb AS (
         |  SELECT b.doc_id, b.band, b.bkey
         |  FROM bands b JOIN docsrc s ON s.doc_id = b.doc_id
         |  WHERE s.source NOT IN (${(0 to 9).map(i => s"'src$i'").mkString(",")})),
         |rejected AS (
         |  SELECT DISTINCT doc_id FROM incb
         |  JOIN seenb k USING (band, bkey)
         |  UNION
         |  SELECT DISTINCT y.doc_id FROM incb x
         |  JOIN incb y ON x.band = y.band AND x.bkey = y.bkey
         |             AND x.doc_id < y.doc_id)
         |SELECT d.doc_id, d.source, d.n_chars FROM documents d
         |WHERE d.source NOT IN (${(0 to 9).map(i => s"'src$i'").mkString(",")})
         |  AND d.doc_id NOT IN (SELECT doc_id FROM rejected)
         |ORDER BY doc_id""".stripMargin,

    "dedup_state_expire" -> {
      // the seen-set is the SURVIVING cohort only (src5-9): cohort A's
      // state rows expired, so its docs must be never-seen — any
      // rejection an expired band row would have produced fails the hash.
      val seenList = (5 to 9).map(i => s"'src$i'").mkString(",")
      val allList = (0 to 9).map(i => s"'src$i'").mkString(",")
      s"""WITH $triSql,
         |$bandCteSql,
         |docsrc AS (SELECT doc_id, source FROM documents),
         |seenb AS (
         |  SELECT DISTINCT band, bkey
         |  FROM bands JOIN docsrc USING (doc_id)
         |  WHERE source IN ($seenList)),
         |incb AS (
         |  SELECT b.doc_id, b.band, b.bkey
         |  FROM bands b JOIN docsrc s ON s.doc_id = b.doc_id
         |  WHERE s.source NOT IN ($allList)),
         |rejected AS (
         |  SELECT DISTINCT doc_id FROM incb
         |  JOIN seenb k USING (band, bkey)
         |  UNION
         |  SELECT DISTINCT y.doc_id FROM incb x
         |  JOIN incb y ON x.band = y.band AND x.bkey = y.bkey
         |             AND x.doc_id < y.doc_id)
         |SELECT d.doc_id, d.source, d.n_chars FROM documents d
         |WHERE d.source NOT IN ($allList)
         |  AND d.doc_id NOT IN (SELECT doc_id FROM rejected)
         |ORDER BY doc_id""".stripMargin
    },

    "dedup_incremental_near_verified" -> {
      val matchSum = (0 until 8).map(k =>
        s"CASE WHEN a.mh$k = b.mh$k THEN 1 ELSE 0 END").mkString(" + ")
      val seenList = (0 to 9).map(i => s"'src$i'").mkString(",")
      s"""WITH $triSql,
         |$bandCteSql,
         |docsrc AS (SELECT doc_id, source FROM documents),
         |seenb AS (
         |  SELECT DISTINCT b.doc_id, band, bkey
         |  FROM bands b JOIN docsrc USING (doc_id)
         |  WHERE source IN ($seenList)),
         |incb AS (
         |  SELECT b.doc_id, b.band, b.bkey
         |  FROM bands b JOIN docsrc s ON s.doc_id = b.doc_id
         |  WHERE s.source NOT IN ($seenList)),
         |candseen AS (
         |  SELECT DISTINCT i.doc_id, s.doc_id AS partner_id
         |  FROM incb i JOIN seenb s USING (band, bkey)),
         |candbatch AS (
         |  SELECT DISTINCT x.doc_id AS partner_id, y.doc_id
         |  FROM incb x JOIN incb y ON x.band = y.band AND x.bkey = y.bkey
         |             AND x.doc_id < y.doc_id),
         |rejected AS (
         |  SELECT c.doc_id FROM candseen c
         |  JOIN mh a ON a.doc_id = c.doc_id
         |  JOIN mh b ON b.doc_id = c.partner_id
         |  WHERE CAST($matchSum AS DOUBLE) / 8.0 >= 0.5
         |  UNION
         |  SELECT c.doc_id FROM candbatch c
         |  JOIN mh a ON a.doc_id = c.doc_id
         |  JOIN mh b ON b.doc_id = c.partner_id
         |  WHERE CAST($matchSum AS DOUBLE) / 8.0 >= 0.5)
         |SELECT d.doc_id, d.source, d.n_chars FROM documents d
         |WHERE d.source NOT IN ($seenList)
         |  AND d.doc_id NOT IN (SELECT doc_id FROM rejected)
         |ORDER BY doc_id""".stripMargin
    },

    "dedup_state_append" -> {
      // two-phase admission: batch 2's seen-set is the initial corpus
      // PLUS batch 1's admitted docs — the Spark side gets this answer
      // only if the state append really carried admitted bands forward.
      val seenList = (0 to 9).map(i => s"'src$i'").mkString(",")
      val b1List = (10 to 14).map(i => s"'src$i'").mkString(",")
      s"""WITH $triSql,
         |$bandCteSql,
         |docsrc AS (SELECT doc_id, source FROM documents),
         |seenb AS (
         |  SELECT DISTINCT band, bkey FROM bands JOIN docsrc USING (doc_id)
         |  WHERE source IN ($seenList)),
         |b1 AS (
         |  SELECT b.doc_id, b.band, b.bkey
         |  FROM bands b JOIN docsrc s ON s.doc_id = b.doc_id
         |  WHERE s.source IN ($b1List)),
         |rej1 AS (
         |  SELECT DISTINCT doc_id FROM b1 JOIN seenb USING (band, bkey)
         |  UNION
         |  SELECT DISTINCT y.doc_id FROM b1 x
         |  JOIN b1 y ON x.band = y.band AND x.bkey = y.bkey
         |             AND x.doc_id < y.doc_id),
         |adm1 AS (
         |  SELECT d.doc_id FROM docsrc d
         |  WHERE d.source IN ($b1List)
         |    AND d.doc_id NOT IN (SELECT doc_id FROM rej1)),
         |seenb2 AS (
         |  SELECT band, bkey FROM seenb
         |  UNION
         |  SELECT DISTINCT band, bkey FROM bands JOIN adm1 USING (doc_id)),
         |b2 AS (
         |  SELECT b.doc_id, b.band, b.bkey
         |  FROM bands b JOIN docsrc s ON s.doc_id = b.doc_id
         |  WHERE s.source NOT IN ($seenList, $b1List)),
         |rej2 AS (
         |  SELECT DISTINCT doc_id FROM b2 JOIN seenb2 USING (band, bkey)
         |  UNION
         |  SELECT DISTINCT y.doc_id FROM b2 x
         |  JOIN b2 y ON x.band = y.band AND x.bkey = y.bkey
         |             AND x.doc_id < y.doc_id)
         |SELECT d.doc_id, d.source, d.n_chars FROM documents d
         |WHERE (d.source IN ($b1List)
         |       AND d.doc_id NOT IN (SELECT doc_id FROM rej1))
         |   OR (d.source NOT IN ($seenList, $b1List)
         |       AND d.doc_id NOT IN (SELECT doc_id FROM rej2))
         |ORDER BY doc_id""".stripMargin
    },

    "dedup_state_retention" -> {
      // admission against a seen-set that NEVER contained the removed
      // docs: the Spark side gets the same answer only if retention truly
      // erased their state rows.
      val seenList = (0 to 9).map(i => s"'src$i'").mkString(",")
      s"""WITH $triSql,
         |$bandCteSql,
         |docsrc AS (SELECT doc_id, source FROM documents),
         |seenb AS (
         |  SELECT DISTINCT band, bkey
         |  FROM bands JOIN docsrc USING (doc_id)
         |  WHERE source IN ($seenList) AND doc_id % 3 <> 0),
         |incb AS (
         |  SELECT b.doc_id, b.band, b.bkey
         |  FROM bands b JOIN docsrc s ON s.doc_id = b.doc_id
         |  WHERE s.source NOT IN ($seenList)),
         |rejected AS (
         |  SELECT DISTINCT doc_id FROM incb
         |  JOIN seenb k USING (band, bkey)
         |  UNION
         |  SELECT DISTINCT y.doc_id FROM incb x
         |  JOIN incb y ON x.band = y.band AND x.bkey = y.bkey
         |             AND x.doc_id < y.doc_id)
         |SELECT d.doc_id, d.source, d.n_chars FROM documents d
         |WHERE d.source NOT IN ($seenList)
         |  AND d.doc_id NOT IN (SELECT doc_id FROM rejected)
         |ORDER BY doc_id""".stripMargin
    },

    "dedup_embedding_lsh" -> embLshOracle,

    "dedup_incremental" ->
      """WITH first_half AS (SELECT * FROM documents WHERE doc_id < 250),
        |second_half AS (SELECT * FROM documents WHERE doc_id >= 250),
        |incoming AS (
        |  SELECT doc_id, text FROM second_half
        |  UNION ALL SELECT doc_id + 10000, text FROM first_half
        |  UNION ALL SELECT doc_id + 20000, text FROM second_half
        |), seen AS (SELECT DISTINCT md5(text) AS content_hash FROM first_half),
        |hashed AS (SELECT doc_id, md5(text) AS content_hash FROM incoming),
        |novel AS (
        |  SELECT h.doc_id, h.content_hash FROM hashed h
        |  WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.content_hash = h.content_hash)
        |), r AS (
        |  SELECT doc_id, content_hash,
        |         row_number() OVER (PARTITION BY content_hash ORDER BY doc_id ASC) AS rn
        |  FROM novel
        |)
        |SELECT doc_id, content_hash FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    "dedup_embedding_cosine" ->
      s"""WITH p AS (
         |  SELECT a.vec_id AS i, b.vec_id AS j,
         |         ${cosineSql("a.embedding", "b.embedding")} AS sim
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |)
         |SELECT i, j, sim FROM p WHERE sim >= 0.42
         |ORDER BY i, j""".stripMargin,
  )
}
