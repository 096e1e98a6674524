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

/** Text analysis: token stats, tf-idf, quality, langid, fingerprints, BPE.
  *
  * One slice of the driver registry ([[graft.SparkEntry]] merges the
  * family registries; EntrySmokeSpec proves the merged contract). Split
  * out of the monolithic SparkEntry in round 11 — entries are verbatim,
  * shared harness helpers and oracle CTE fragments live in [[Shared]].
  */
private[graft] object TextRegistry {

  /** Holdout one-vs-rest margins + labels over the [[Shared.nbCteFor]]
    * chain — the CTE suffix the AUC and calibration oracles share:
    * `mg` computes each (doc, label)'s margin against the best OTHER
    * label (the bounded self-join form of Classifier.nbMargins), `lab`
    * attaches the boolean ground truth.
    */
  private lazy val nbMarginLabCte: String =
    s""", mg AS (
       |  SELECT a.doc_id, a.label,
       |         CAST(a.score_fp - max(b.score_fp) AS BIGINT) AS margin_fp
       |  FROM fin a JOIN fin b ON b.doc_id = a.doc_id AND b.label <> a.label
       |  WHERE ${splitBucketSql("a.doc_id")} >= 80
       |  GROUP BY a.doc_id, a.label, a.score_fp
       |), lab AS (
       |  SELECT m.label, m.margin_fp AS s, (d.lang = m.label) AS is_pos
       |  FROM mg m JOIN documents d USING (doc_id)
       |)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_token_stats" -> ((s, d) =>
      TextAnalysis.tokenStats(Tables.documents(s, d)).orderBy("doc_id")),

    "text_top_tokens" -> ((s, d) =>
      TextAnalysis.topTokens(Tables.documents(s, d), 20)),

    "text_quality" -> ((s, d) =>
      TextAnalysis.qualityScore(Tables.documents(s, d)).orderBy("doc_id")),

    "text_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(Tables.documents(s, d)).orderBy("doc_id")),

    "text_tfidf" -> ((s, d) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, d), k = 3)
        .orderBy("doc_id", "rnk")),

    "text_langid" -> ((s, d) =>
      TextAnalysis.languageId(s, Tables.documents(s, d)).orderBy("doc_id")),

    "text_simhash" -> ((s, d) =>
      Dedup.simhash16(Tables.documents(s, d)).orderBy("doc_id")),

    "text_repetition" -> ((s, d) =>
      // Gopher-style repetition filter signal: duplicated-trigram
      // fraction per document; threshold it to drop boilerplate/spam.
      TextAnalysis.repetitionStats(Tables.documents(s, d), n = 3)
        .orderBy("doc_id")),

    "text_lm_score" -> ((s, d) => {
      // CCNet-style model-based quality: a bigram LM trained on the
      // corpus scores each document's per-pair log-likelihood (1e-3
      // fixed point before the sum — cross-engine associative).
      val docs = Tables.documents(s, d)
      TextAnalysis.lmScoreBigram(docs, TextAnalysis.bigramLmTrain(docs))
        .orderBy("doc_id")
    }),

    "text_lm_buckets" -> ((s, d) => {
      // head/middle/tail perplexity split at frozen thresholds
      // (profiled once on sf0.01: tertiles of avg_lp ≈ −3.40 / −3.375)
      val docs = Tables.documents(s, d)
      TextAnalysis.lmBuckets(
        TextAnalysis.lmScoreBigram(docs, TextAnalysis.bigramLmTrain(docs)),
        headMin = -3.375, middleMin = -3.40)
        .orderBy("doc_id")
    }),

    "text_lm_score_by_lang" -> ((s, d) => {
      // the per-language CCNet form: one model per lang, every doc
      // scored by its own language's model (pooled scoring conflates
      // "unusual text" with "not the majority language").
      val docs = Tables.documents(s, d)
      TextAnalysis.lmScoreBigramBy(docs, TextAnalysis.bigramLmTrainBy(docs))
        .orderBy("doc_id")
    }),

    "text_bpe_merges" -> ((s, d) =>
      // BPE tokenizer merge training, 4 rounds: each round counts
      // adjacent symbol pairs (exact integer, weighted by word
      // frequency), merges the argmax pair corpus-wide. The learned
      // merge table is deterministic end to end (leftmost-nonoverlap
      // literal replace, lexicographic tie-break), so the oracle
      // unrolls the rounds like sim_ivf_kmeans.
      TextAnalysis.bpeMerges(Tables.documents(s, d), rounds = 4)
        .orderBy("round")),

    "text_bpe_encode" -> ((s, d) =>
      // the APPLY step of BPE: train 4 merges, then tokenize every
      // document with them — per-doc token counts are what the trained
      // table exists to produce. Encoding runs over the distinct-word
      // vocab, never the corpus; the oracle unrolls the same 4 training
      // rounds and the same replace chain.
      TextAnalysis.bpeEncode(Tables.documents(s, d), rounds = 4)
        .orderBy("doc_id")),

    "text_bpe_tokenize" -> ((s, d) => Stage.scratch("graft-bpevocab-") { tmp =>
      // the full deployed-tokenizer lifecycle: train 4 merges, build the
      // deterministic vocab (lexicographic stable ids), PERSIST it with
      // the merge count stamped, then tokenize every document into its
      // token-ID SEQUENCE against the loaded vocab. The sequence is
      // serialized to a space-joined string for the compare (the driver
      // sorts rows by column values — arrays don't sort); the oracle
      // unrolls the same merges, the same id assignment, and the same
      // (word pos, symbol pos) reassembly, so a wrong id, a dropped
      // token, or an out-of-order sequence all hash-mismatch.
      val docs = Tables.documents(s, d)
      val merges = TextAnalysis.bpeMergeList(docs, rounds = 4)
      TextAnalysis.bpeVocabWrite(
        TextAnalysis.bpeVocab(docs, merges), s"$tmp/vocab", merges.length)
      TextAnalysis.bpeTokenizeWith(docs, merges, s.read.parquet(s"$tmp/vocab"))
        .select(col("doc_id"),
          size(col("token_ids")).as("n_tokens"),
          array_join(transform(col("token_ids"), _.cast("string")), " ")
            .as("token_ids"))
        .orderBy("doc_id")
    }),

    "text_nb_train" -> ((s, d) =>
      // closed-form supervised classifier train (round 12 cont.): the
      // fastText-style quality/domain classifier as multinomial Naive
      // Bayes over hashed uni+bigram occurrences — counting, smoothing
      // and fixed-point logs only, so the full dense model (5 labels ×
      // 1024 buckets + 5 prior sentinel rows) is bit-reproducible by
      // the oracle. Train is one corpus pass to a bounded count state.
      // the model's constant geometry-stamp column (buckets) is an
      // internal validation rider, not part of the published model —
      // the oracle emits the dense table alone
      graft.ext.Classifier.nbTrain(Tables.documents(s, d))
        .select(col("label"), col("bucket"), col("lp_fp"))
        .orderBy("label", "bucket")),

    "text_nb_classify" -> ((s, d) => {
      // the APPLY step: every document scored against the trained
      // dense model (broadcast by construction), fixed-point score
      // sums, argmax label with (score desc, label asc) tie-break.
      // True label carried alongside so the result doubles as the
      // confusion audit a curation pipeline reviews.
      val docs = Tables.documents(s, d)
      docs.select(col("doc_id"), col("lang"))
        .join(graft.ext.Classifier.nbClassify(docs,
          graft.ext.Classifier.nbTrain(docs)), Seq("doc_id"))
        .orderBy("doc_id")
    }),

    "text_nb_confusion" -> ((s, d) => {
      // the classifier's quality AUDIT: true-label × predicted-label
      // counts. One bounded aggregate over the classification — the
      // table a curation team actually reviews before trusting the
      // classifier to gate or rebalance a corpus.
      val docs = Tables.documents(s, d)
      docs.select(col("doc_id"), col("lang"))
        .join(graft.ext.Classifier.nbClassify(docs,
          graft.ext.Classifier.nbTrain(docs)), Seq("doc_id"))
        .groupBy(col("lang"), col("pred_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_label")
    }),

    "text_nb_eval_holdout" -> ((s, d) => {
      // LEAKAGE-FREE evaluation: train ONLY on the hash-split train
      // cohort (Corpus.splitAssign — the same salted md5 bucket every
      // split consumer uses), score ONLY the held-out docs. The
      // resubstitution form (text_nb_classify) flatters the model;
      // this is the number that predicts behavior on unseen corpus.
      val docs = Tables.documents(s, d)
      val split = graft.ext.Corpus.splitAssign(docs)
      val model = graft.ext.Classifier.nbTrain(
        split.filter(col("bucket") < 80).drop("bucket", "split"))
      val holdout = split.filter(col("bucket") >= 80)
        .drop("bucket", "split")
      holdout.select(col("doc_id"), col("lang"))
        .join(graft.ext.Classifier.nbClassify(holdout, model), Seq("doc_id"))
        .orderBy("doc_id")
    }),

    "text_nb_auc" -> ((s, d) => {
      // threshold-free RANKING quality of the classifier (round 15
      // cont.): exact one-vs-rest ROC AUC per class over the
      // leakage-free holdout, scored by the per-class MARGIN
      // (score_fp − best other — exact long arithmetic, the
      // document-length term cancels). The confusion matrix answers
      // "how often is the argmax right"; AUC answers whether the
      // margin ORDERS positives above negatives at every cut — the
      // prior question for margin-thresholded gating. Scale shape:
      // collapse to (class, margin) tie-groups, then ONE keyed
      // two-pass prefix sum (Eval.aucByKey) evaluates all five
      // classes together — no per-class loop, no global window.
      val docs = Tables.documents(s, d)
      val split = graft.ext.Corpus.splitAssign(docs)
      val model = graft.ext.Classifier.nbTrain(
        split.filter(col("bucket") < 80).drop("bucket", "split"))
      val holdout = split.filter(col("bucket") >= 80).drop("bucket", "split")
      val scored = graft.ext.Classifier.nbMargins(
          graft.ext.Classifier.nbScores(holdout, model))
        .join(holdout.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("label"), col("margin_fp"),
          (col("lang") === col("label")).as("is_pos"))
      graft.ext.Eval.aucByKey(scored, "label", "margin_fp", "is_pos")
        .orderBy("label")
    }),

    "text_nb_calibration" -> ((s, d) => {
      // the RELIABILITY table for the same margins: fixed-width bins
      // (4 log units in 1e-3 fixed point) of the one-vs-rest margin,
      // each with population, positives and empirical positive rate —
      // does a margin of +4 actually mean "almost surely this class"?
      // This is what turns an AUC-worthy score into a TRUSTED
      // threshold (the admission ensemble's LM sweep picks a cut; a
      // curation team believes it because the reliability curve is
      // monotone where the cut sits). One bounded aggregate; bin ids
      // use exact floor division, portable for negative margins.
      val docs = Tables.documents(s, d)
      val split = graft.ext.Corpus.splitAssign(docs)
      val model = graft.ext.Classifier.nbTrain(
        split.filter(col("bucket") < 80).drop("bucket", "split"))
      val holdout = split.filter(col("bucket") >= 80).drop("bucket", "split")
      val scored = graft.ext.Classifier.nbMargins(
          graft.ext.Classifier.nbScores(holdout, model))
        .join(holdout.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("label"), col("margin_fp"),
          (col("lang") === col("label")).as("is_pos"))
      graft.ext.Eval.calibrationBins(scored, "label", "margin_fp",
          "is_pos", binWidth = 4000L)
        .orderBy("label", "bin")
    }),

    "text_nb_forget" -> ((s, d) => {
      // right-to-be-forgotten for the classifier: subtract the removed
      // cohort's class-conditional counts from the accumulated state
      // (bit-identical to retraining on the survivors, no corpus
      // rescan), then classify the survivors against the forgotten
      // model. The oracle trains on the survivors directly.
      val docs = Tables.documents(s, d)
      val removed = docs.filter(col("doc_id") % 10 === 3)
      val surv = docs.filter(col("doc_id") % 10 =!= 3)
      val model = graft.ext.Classifier.nbModelFromCounts(
        graft.ext.Classifier.nbCountsSubtract(
          graft.ext.Classifier.nbCountsBuild(docs),
          graft.ext.Classifier.nbCountsBuild(removed)))
      surv.select(col("doc_id"), col("lang"))
        .join(graft.ext.Classifier.nbClassify(surv, model), Seq("doc_id"))
        .orderBy("doc_id")
    }),

    "text_lm_forget" -> ((s, d) => {
      // right-to-be-forgotten for the LM: subtract the removed
      // cohort's n-gram counts (zeroed n-grams DROP, so the vocabulary
      // V shrinks exactly as a rebuild would), then score the
      // survivors with the forgotten model. The oracle trains and
      // scores the survivors directly.
      val docs = Tables.documents(s, d)
      val removed = docs.filter(col("doc_id") % 10 === 3)
      val surv = docs.filter(col("doc_id") % 10 =!= 3)
      val model = TextAnalysis.lmModelFromCounts(
        TextAnalysis.lmCountsSubtract(
          TextAnalysis.lmCountsBuild(docs),
          TextAnalysis.lmCountsBuild(removed)))
      TextAnalysis.lmScoreBigram(surv, model).orderBy("doc_id")
    }),

    "text_ngram_freq" -> ((s, d) =>
      // corpus bigram document frequencies: one explode + one agg, top-30
      // with a full deterministic tie-break.
      Dedup.shingles(Tables.documents(s, d), w = 2)
        .groupBy(col("sh").as("bigram"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("bigram").asc)
        .limit(30)),
  )

  val oracleSql: Map[String, String] = Map(
    "text_nb_train" ->
      (nbCte + """
        |SELECT label, bucket, lp_fp FROM dense
        |UNION ALL
        |SELECT label, CAST(-1 AS INTEGER) AS bucket, lp_fp FROM prior
        |ORDER BY label, bucket""".stripMargin),

    "text_nb_classify" -> nbClassifySql,

    "text_nb_confusion" ->
      (nbCte + """
        |SELECT d.lang, f.label AS pred_label, count(*) AS n
        |FROM documents d JOIN fin f ON f.doc_id = d.doc_id AND f.rn = 1
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),

    "text_nb_eval_holdout" ->
      (nbCteFor(splitBucketSql("doc_id") + " < 80") + s"""
        |SELECT d.doc_id, d.lang, f.label AS pred_label, f.n_feats, f.score_fp
        |FROM documents d JOIN fin f ON f.doc_id = d.doc_id AND f.rn = 1
        |WHERE ${splitBucketSql("d.doc_id")} >= 80
        |ORDER BY d.doc_id""".stripMargin),

    // one-vs-rest margin AUC on the holdout: the margin CTE self-joins
    // the per-(doc, label) score table (bounded label-enum fan-out),
    // tie-groups collapse per (class, margin), the cumulative-negatives
    // window runs over DISTINCT margins only, and the final division is
    // the single float op — u2 pins the exact integer numerator.
    "text_nb_auc" ->
      (nbCteFor(splitBucketSql("doc_id") + " < 80") + nbMarginLabCte + """
        |, g AS (
        |  SELECT label, s,
        |         count(*) FILTER (WHERE is_pos) AS np,
        |         count(*) FILTER (WHERE NOT is_pos) AS nn
        |  FROM lab GROUP BY 1, 2
        |), c AS (
        |  SELECT label, np, nn,
        |         coalesce(sum(nn) OVER (PARTITION BY label ORDER BY s
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |           0) AS cneg
        |  FROM g
        |)
        |SELECT label, CAST(sum(np) AS BIGINT) AS n_pos,
        |       CAST(sum(nn) AS BIGINT) AS n_neg,
        |       CAST(sum(np * (2 * cneg + nn)) AS BIGINT) AS u2,
        |       CASE WHEN sum(np) > 0 AND sum(nn) > 0
        |         THEN CAST(sum(np * (2 * cneg + nn)) AS DOUBLE) /
        |              (2.0 * sum(np) * sum(nn)) END AS auc
        |FROM c GROUP BY label
        |ORDER BY label""".stripMargin),

    // reliability bins of the same margins: exact floor-division bin
    // ids (pmod subtraction — portable where engines disagree on the
    // sign of % for negatives; `//` keeps the division integral so the
    // id is exact over the full BIGINT range, mirroring Spark's `div`),
    // empirical rate as the one float op.
    "text_nb_calibration" ->
      (nbCteFor(splitBucketSql("doc_id") + " < 80") + nbMarginLabCte + """
        |, b AS (
        |  SELECT label,
        |         CAST((s - (((s % 4000) + 4000) % 4000)) // 4000 AS BIGINT) AS bin,
        |         count(*) AS n,
        |         count(*) FILTER (WHERE is_pos) AS n_pos
        |  FROM lab GROUP BY 1, 2
        |)
        |SELECT label, bin, CAST(bin * 4000 AS BIGINT) AS bin_lo,
        |       CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
        |       CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS pos_rate
        |FROM b
        |ORDER BY label, bin""".stripMargin),

    "text_lm_score" ->
      (lmPerDocCte + """
        |SELECT doc_id, n_pairs, sum_lp_fp, avg_lp FROM lm
        |ORDER BY doc_id""".stripMargin),

    "text_nb_forget" ->
      (nbCteFor("doc_id % 10 <> 3") + """
        |SELECT d.doc_id, d.lang, f.label AS pred_label, f.n_feats, f.score_fp
        |FROM documents d JOIN fin f ON f.doc_id = d.doc_id AND f.rn = 1
        |WHERE d.doc_id % 10 <> 3
        |ORDER BY d.doc_id""".stripMargin),

    "text_lm_forget" ->
      (lmPerDocCteFor(id => s"$id % 10 <> 3") + """
        |SELECT doc_id, n_pairs, sum_lp_fp, avg_lp FROM lm
        |ORDER BY doc_id""".stripMargin),

    "text_lm_buckets" ->
      (lmPerDocCte + """
        |SELECT doc_id, n_pairs, avg_lp,
        |  CASE WHEN avg_lp IS NULL THEN 'tail'
        |       WHEN avg_lp >= -3.375 THEN 'head'
        |       WHEN avg_lp >= -3.40 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM lm ORDER BY doc_id""".stripMargin),

    "text_lm_score_by_lang" ->
      """WITH tk AS (SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents),
        |pairs AS (
        |  SELECT doc_id, lang, s.w1 AS w1, s.w2 AS w2 FROM (
        |    SELECT doc_id, lang, unnest(list_transform(generate_series(1, len(l)-1),
        |      i -> {'w1': l[i], 'w2': l[i+1]})) AS s
        |    FROM tk WHERE len(l) >= 2)
        |), big AS (SELECT lang, w1, w2, count(*) AS c2 FROM pairs GROUP BY 1, 2, 3),
        |ctx AS (SELECT lang, w1, sum(c2) AS c1 FROM big GROUP BY 1, 2),
        |v AS (SELECT lang, count(DISTINCT t) AS v
        |      FROM (SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents)
        |      GROUP BY lang),
        |scored AS (
        |  SELECT p.doc_id,
        |    CAST(round(ln((CAST(COALESCE(b.c2, 0) AS DOUBLE) + 1.0) /
        |                  (CAST(COALESCE(c.c1, 0) AS DOUBLE) + CAST(v.v AS DOUBLE)))
        |               * 1000) AS BIGINT) AS lp_fp
        |  FROM pairs p
        |  LEFT JOIN big b ON b.lang = p.lang AND b.w1 = p.w1 AND b.w2 = p.w2
        |  LEFT JOIN ctx c ON c.lang = p.lang AND c.w1 = p.w1
        |  LEFT JOIN v ON v.lang = p.lang
        |), per AS (
        |  SELECT doc_id, count(*) AS n_pairs, sum(lp_fp) AS sum_lp_fp
        |  FROM scored GROUP BY 1
        |)
        |SELECT d.doc_id, d.lang, CAST(COALESCE(per.n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(COALESCE(per.sum_lp_fp, 0) AS BIGINT) AS sum_lp_fp,
        |  CASE WHEN per.n_pairs > 0 THEN CAST(per.sum_lp_fp AS DOUBLE) /
        |    (CAST(per.n_pairs AS DOUBLE) * 1000.0) END AS avg_lp
        |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "text_token_stats" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS l FROM documents)
        |SELECT doc_id,
        |  CAST(len(l) AS INTEGER) AS n_tokens,
        |  CAST(len(list_distinct(l)) AS INTEGER) AS n_distinct_tokens,
        |  CAST(list_sum(list_transform(l, x -> length(x))) AS INTEGER) AS sum_tok_len,
        |  CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS INTEGER) AS n_subword_tokens,
        |  CAST(CAST(list_sum(list_transform(l, x -> length(x))) AS BIGINT) AS DOUBLE)
        |    / CAST(len(l) AS DOUBLE) AS avg_tok_len
        |FROM t ORDER BY doc_id""".stripMargin,

    "text_top_tokens" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token
        |ORDER BY n DESC, token ASC
        |LIMIT 20""".stripMargin,

    "text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, length(text) AS n_chars, string_split(text, ' ') AS l
        |  FROM documents
        |), c AS (
        |  SELECT doc_id,
        |    CAST(n_chars AS INTEGER) AS n_chars,
        |    CAST(len(l) AS INTEGER) AS n_tokens,
        |    CAST(len(list_distinct(l)) AS INTEGER) AS n_distinct_tokens,
        |    CAST(len(list_filter(l, x -> list_contains(['the','a','of','and','in'], x))) AS INTEGER) AS n_stopwords
        |  FROM t
        |)
        |SELECT doc_id, n_chars, n_tokens, n_distinct_tokens, n_stopwords,
        |  CAST(n_stopwords AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS stopword_ratio,
        |  CAST(n_distinct_tokens AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS diversity,
        |  (CAST(n_stopwords AS DOUBLE)/CAST(n_tokens AS DOUBLE)) * 0.5 +
        |  (CAST(n_distinct_tokens AS DOUBLE)/CAST(n_tokens AS DOUBLE)) * 0.5 AS quality_score
        |FROM c ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_langid" -> {
      val lexValues = TextAnalysis.langLexicon
        .map { case (l, t) => s"('$l','$t')" }.mkString(", ")
      s"""WITH lex(lex_lang, lex_token) AS (VALUES $lexValues),
         |langs AS (SELECT DISTINCT lex_lang AS cand_lang FROM lex),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         |hits AS (
         |  SELECT t.doc_id, l.lex_lang AS cand_lang, count(*) AS hits
         |  FROM tok t JOIN lex l ON t.token = l.lex_token GROUP BY 1, 2
         |), allh AS (
         |  SELECT d.doc_id, g.cand_lang, COALESCE(h.hits, 0) AS hits
         |  FROM (SELECT doc_id FROM documents) d
         |  CROSS JOIN langs g
         |  LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.cand_lang = g.cand_lang
         |), r AS (
         |  SELECT doc_id, cand_lang, hits,
         |         row_number() OVER (PARTITION BY doc_id
         |                            ORDER BY hits DESC, cand_lang ASC) AS rn
         |  FROM allh
         |)
         |SELECT doc_id,
         |  CASE WHEN hits > 0 THEN cand_lang ELSE 'unknown' END AS pred_lang,
         |  hits AS best_hits
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin
    },

    "text_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS doc_len FROM tok GROUP BY 1),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.token,
        |         (CAST(t.tf AS DOUBLE)/CAST(dl.doc_len AS DOUBLE)) *
        |         (CAST(n.n_docs AS DOUBLE)/CAST(df.df AS DOUBLE)) AS score
        |  FROM tf t JOIN dl ON dl.doc_id = t.doc_id
        |  JOIN df ON df.token = t.token CROSS JOIN n
        |), r AS (
        |  SELECT doc_id, token, score,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY score DESC, token ASC) AS rnk
        |  FROM scored
        |)
        |SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, token, score
        |FROM r WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,

    "text_simhash" -> simhashOracle,

    "text_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         unnest(list_transform(generate_series(1, len(l)-2),
        |                i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
        |  FROM toks WHERE len(l) >= 3
        |), a AS (
        |  SELECT doc_id, count(*) AS n_ngrams, count(DISTINCT sh) AS n_distinct
        |  FROM g GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  CAST(COALESCE(a.n_ngrams, 0) AS BIGINT) AS n_ngrams,
        |  CAST(COALESCE(a.n_distinct, 0) AS BIGINT) AS n_distinct,
        |  CASE WHEN a.n_ngrams IS NULL THEN 0.0
        |       ELSE CAST(a.n_ngrams - a.n_distinct AS DOUBLE)
        |            / CAST(a.n_ngrams AS DOUBLE) END AS dup_frac
        |FROM documents d LEFT JOIN a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "text_bpe_merges" -> {
      // 4 unrolled BPE rounds: pair counting from the space-delimited
      // symbol string, argmax with (count desc, pair asc) tie-break,
      // leftmost-nonoverlapping space-anchored replace — identical
      // semantics verified for both engines' replace().
      val rounds = 4
      val cte = (1 to rounds).map { r =>
        s"""p$r AS (
           |  SELECT l[i] AS p1, l[i+1] AS p2, CAST(sum(cnt) AS BIGINT) AS pc
           |  FROM (SELECT string_split(trim(seq), ' ') AS l, cnt FROM s${r - 1}) t,
           |       unnest(generate_series(1, len(l)-1)) AS u(i)
           |  GROUP BY 1, 2
           |), b$r AS (
           |  SELECT p1, p2, pc FROM p$r ORDER BY pc DESC, p1 ASC, p2 ASC LIMIT 1
           |), s$r AS (
           |  SELECT replace(seq, ' '||b.p1||' '||b.p2||' ', ' '||b.p1||b.p2||' ') AS seq, cnt
           |  FROM s${r - 1}, b$r b
           |)""".stripMargin
      }.mkString(",\n")
      val out = (1 to rounds).map(r =>
        s"SELECT $r AS round, p1 AS left_sym, p2 AS right_sym, pc AS pair_count FROM b$r")
        .mkString("\nUNION ALL\n")
      s"""WITH w0 AS (
         |  SELECT word, count(*) AS cnt
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE len(word) > 0 GROUP BY 1
         |), s0 AS (
         |  SELECT ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS seq, cnt
         |  FROM w0
         |),
         |$cte
         |$out
         |ORDER BY round""".stripMargin
    },

    "text_bpe_encode" -> {
      // the same 4 unrolled training rounds as text_bpe_merges, then the
      // encode chain: each distinct word's symbol sequence through the 4
      // replaces in round order (b1..b4 are single-row CTEs), symbol
      // counts joined back onto the doc word stream, zero-fill for
      // wordless documents.
      val rounds = 4
      val cte = (1 to rounds).map { r =>
        s"""p$r AS (
           |  SELECT l[i] AS p1, l[i+1] AS p2, CAST(sum(cnt) AS BIGINT) AS pc
           |  FROM (SELECT string_split(trim(seq), ' ') AS l, cnt FROM s${r - 1}) t,
           |       unnest(generate_series(1, len(l)-1)) AS u(i)
           |  GROUP BY 1, 2
           |), b$r AS (
           |  SELECT p1, p2, pc FROM p$r ORDER BY pc DESC, p1 ASC, p2 ASC LIMIT 1
           |), s$r AS (
           |  SELECT replace(seq, ' '||b.p1||' '||b.p2||' ', ' '||b.p1||b.p2||' ') AS seq, cnt
           |  FROM s${r - 1}, b$r b
           |)""".stripMargin
      }.mkString(",\n")
      val applied = (1 to rounds).foldLeft(
        "' ' || array_to_string(string_split(v.word, ''), ' ') || ' '") {
        (acc, r) =>
          s"replace($acc, ' '||b$r.p1||' '||b$r.p2||' ', ' '||b$r.p1||b$r.p2||' ')"
      }
      val bs = (1 to rounds).map(r => s"b$r").mkString(", ")
      s"""WITH w0 AS (
         |  SELECT word, count(*) AS cnt
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE len(word) > 0 GROUP BY 1
         |), s0 AS (
         |  SELECT ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS seq, cnt
         |  FROM w0
         |),
         |$cte,
         |wt AS (
         |  SELECT v.word,
         |         len(string_split(trim($applied), ' ')) AS n_sym
         |  FROM (SELECT word FROM w0) v, $bs
         |), dw AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
         |), agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |         CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens
         |  FROM dw JOIN wt USING (word)
         |  WHERE len(word) > 0 GROUP BY 1
         |)
         |SELECT d.doc_id,
         |  CAST(COALESCE(a.n_words, 0) AS BIGINT) AS n_words,
         |  CAST(COALESCE(a.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    "text_bpe_tokenize" -> {
      // same 4 unrolled training rounds, then: vocab ids by
      // lexicographic rank over the distinct encoded symbols, per-word
      // id lists in symbol order, per-doc flattening in word order.
      val rounds = 4
      val cte = (1 to rounds).map { r =>
        s"""p$r AS (
           |  SELECT l[i] AS p1, l[i+1] AS p2, CAST(sum(cnt) AS BIGINT) AS pc
           |  FROM (SELECT string_split(trim(seq), ' ') AS l, cnt FROM s${r - 1}) t,
           |       unnest(generate_series(1, len(l)-1)) AS u(i)
           |  GROUP BY 1, 2
           |), b$r AS (
           |  SELECT p1, p2, pc FROM p$r ORDER BY pc DESC, p1 ASC, p2 ASC LIMIT 1
           |), s$r AS (
           |  SELECT replace(seq, ' '||b.p1||' '||b.p2||' ', ' '||b.p1||b.p2||' ') AS seq, cnt
           |  FROM s${r - 1}, b$r b
           |)""".stripMargin
      }.mkString(",\n")
      val applied = (1 to rounds).foldLeft(
        "' ' || array_to_string(string_split(v.word, ''), ' ') || ' '") {
        (acc, r) =>
          s"replace($acc, ' '||b$r.p1||' '||b$r.p2||' ', ' '||b$r.p1||b$r.p2||' ')"
      }
      val bs = (1 to rounds).map(r => s"b$r").mkString(", ")
      s"""WITH w0 AS (
         |  SELECT word, count(*) AS cnt
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE len(word) > 0 GROUP BY 1
         |), s0 AS (
         |  SELECT ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS seq, cnt
         |  FROM w0
         |),
         |$cte,
         |vw AS (
         |  SELECT v.word, string_split(trim($applied), ' ') AS syms
         |  FROM (SELECT word FROM w0) v, $bs
         |), vocab AS (
         |  SELECT token, CAST(row_number() OVER (ORDER BY token) - 1 AS INTEGER) AS id
         |  FROM (SELECT DISTINCT unnest(syms) AS token FROM vw)
         |), wsym AS (
         |  SELECT w.word, u.i, w.syms[u.i] AS token
         |  FROM vw w, unnest(generate_series(1, len(w.syms))) AS u(i)
         |), wid AS (
         |  SELECT word, list(v.id ORDER BY s.i) AS ids
         |  FROM wsym s JOIN vocab v USING (token)
         |  GROUP BY word
         |), dw AS (
         |  SELECT doc_id, l[i] AS word, i AS wpos
         |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) t,
         |       unnest(generate_series(1, len(l))) AS u(i)
         |  WHERE len(l[i]) > 0
         |), agg AS (
         |  SELECT d.doc_id, flatten(list(w.ids ORDER BY d.wpos)) AS ids
         |  FROM dw d JOIN wid w USING (word)
         |  GROUP BY 1
         |)
         |SELECT d.doc_id,
         |  CAST(COALESCE(len(a.ids), 0) AS INTEGER) AS n_tokens,
         |  COALESCE(array_to_string(a.ids, ' '), '') AS token_ids
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    "text_ngram_freq" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2
        |), big AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(list_transform(generate_series(1, len(l)-1),
        |                i -> l[i] || ' ' || l[i+1])) AS bigram
        |  FROM toks)
        |SELECT bigram, count(*) AS n_docs FROM big
        |GROUP BY 1 ORDER BY n_docs DESC, bigram LIMIT 30""".stripMargin,
  )
}
