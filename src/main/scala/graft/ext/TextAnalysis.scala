package graft.ext

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline (builder mandate
  * §2.11 — beyond the reference surface): token statistics, quality
  * scoring, language ID, document fingerprinting.
  *
  * Scale design: every operator is a per-row projection or a single
  * partial+final aggregation — no driver-side loops; the expressions
  * are Catalyst built-ins (split/transform/aggregate are evaluated
  * per-row inside the scan stage) except the LM scorer, a typed UDF over
  * the broadcast model ([[resolveLm]]). At 100 TB the only shuffle
  * here is the token-frequency groupBy, which map-side combines on a
  * ~vocabulary-sized key space.
  */
object TextAnalysis {

  private val toks = split(col("text"), " ")

  /** Per-document token statistics. Averages are exact-int / exact-int →
    * bit-identical across engines.
    */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct_tokens"),
      // Σ token lengths ≡ non-delimiter chars — codegen'd `replace`
      // instead of an interpreted aggregate(transform(...)) lambda.
      length(regexp_replace(col("text"), " ", "")).as("sum_tok_len"),
      // BPE-ish subword count: greedy fixed-width chunks, the regex
      // analog of byte-pair segment counting (engine-portable pattern).
      size(regexp_extract_all(col("text"), lit("[a-z]{1,4}"), lit(0)))
        .as("n_subword_tokens"))
      .withColumn("avg_tok_len",
        col("sum_tok_len").cast("double") / col("n_tokens").cast("double"))

  /** Global top-k token frequencies — explode → count with map-side
    * combine; deterministic total order (count desc, token asc).
    */
  def topTokens(docs: DataFrame, k: Int): DataFrame =
    docs.select(explode(toks).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)

  /** Stopwords used by quality scoring — a small fixed public list. */
  val qualityStopwords: Seq[String] = Seq("the", "a", "of", "and", "in")

  /** Per-document quality score from length/stopword/diversity ratios
    * (the heuristics used by public web-corpus cleaning pipelines).
    * All ratios are exact-int divisions; the score is a fixed linear
    * combination evaluated in one deterministic expression shape.
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val stopArr = array(qualityStopwords.map(lit): _*)
    docs.select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct_tokens"),
      size(filter(toks, t => array_contains(stopArr, t))).as("n_stopwords"))
      .withColumn("stopword_ratio",
        col("n_stopwords").cast("double") / col("n_tokens").cast("double"))
      .withColumn("diversity",
        col("n_distinct_tokens").cast("double") / col("n_tokens").cast("double"))
      .withColumn("quality_score",
        col("stopword_ratio") * lit(0.5) + col("diversity") * lit(0.5))
  }

  /** The corpus-ETL admission predicate ([[qualityScore]]'s stats
    * thresholded the way `Pipeline.runCorpusEtl` gates) applied as a
    * pure PROJECTION FILTER that keeps the input row intact — the form
    * a STREAMING stage needs (no self-join back onto the stream, no
    * state; identical keep/drop set to the batch semi-join).
    */
  /** The quality gate's keep predicate over a `text` column — ONE
    * definition shared by the batch filter ([[qualityGateDocs]]), the
    * streaming front door and the admission report's quality verdict,
    * so the three can never drift: >= 5 tokens, >= 1 stopword, and a
    * distinct-token ratio of at least ¼ (the repetition screen).
    */
  val qualityPass: org.apache.spark.sql.Column = {
    val stopArr = array(qualityStopwords.map(lit): _*)
    // arrays_overlap == "at least one stopword hit" (round 17): same
    // truth value as size(filter(...)) >= 1 over non-null token arrays,
    // without the interpreted per-element lambda — this predicate runs
    // on every document at the streaming front door and in every
    // admission report.
    size(toks) >= 5 &&
      arrays_overlap(toks, stopArr) &&
      size(array_distinct(toks)) * 4 >= size(toks)
  }

  def qualityGateDocs(docs: DataFrame): DataFrame =
    docs.filter(qualityPass)

  /** TF-IDF-style salient terms per document: tf = in-doc frequency,
    * idf = N/df (rational inverse document frequency — no logarithm, so
    * every score is a fixed sequence of exact-int IEEE divisions and one
    * multiply, bit-identical across engines). Top-k per doc by score with
    * a deterministic tie-break. One token explode + two aggregations +
    * one broadcast-sized join — the join+agg tf-idf shape at any scale.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(toks).as("token"))
    val tf = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    // doc_len and df both roll up from tf — the raw token stream is
    // exploded and shuffled ONCE; the rollups aggregate the (much
    // smaller) per-term counts.
    val docLen = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("doc_len"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(docLen, "doc_id").join(df, "token").crossJoin(n)
      .withColumn("score",
        (col("tf").cast("double") / col("doc_len").cast("double")) *
          (col("n_docs").cast("double") / col("df").cast("double")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("token"), col("score"))
  }

  /** Normalized-content fingerprint: lowercase, collapse whitespace,
    * trim, md5. Identical normalization is SQL-expressible in any engine,
    * making the fingerprint portable across systems.
    */
  /** Gopher-style repetition signal: the fraction of DUPLICATED word
    * n-grams per document (`1 − distinct/total`) — natural text sits near
    * 0, boilerplate/spam and degenerate generations spike, so thresholding
    * this column is the standard repetition filter for training corpora.
    * Shingles are generated WITH multiplicity (contrast [[Dedup.shingles]],
    * which dedups for Jaccard) by the same typed flatMap (codegen-friendly,
    * no interpreted array lambdas); then one partial+final aggregation and
    * a zero-fill join for documents too short to have any n-gram.
    * dup_frac is exact-int / exact-int — bit-identical across engines.
    */
  def repetitionStats(docs: DataFrame, n: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val grams = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val t = text.split(" ", -1)
        if (t.length < n) Iterator.empty
        else t.sliding(n).map(s => (id, s.mkString(" ")))
      }
      .toDF("doc_id", "sh")
    val agg = grams.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"),
        countDistinct(col("sh")).as("n_distinct"))
    docs.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        when(col("n_ngrams").isNull, lit(0.0))
          .otherwise((col("n_ngrams") - col("n_distinct")).cast("double") /
            col("n_ngrams").cast("double")).as("dup_frac"))
  }

  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
        .as("fingerprint"))

  /** Public per-language stopword lexicons for the n-gram/stopword-hit
    * language-ID heuristic.
    */
  val langLexicon: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "of", "en" -> "and", "en" -> "in",
    "de" -> "der", "de" -> "die", "de" -> "und", "de" -> "das", "de" -> "ist",
    "fr" -> "le", "fr" -> "la", "fr" -> "et", "fr" -> "les", "fr" -> "des",
    "es" -> "el", "es" -> "los", "es" -> "las", "es" -> "y", "es" -> "de",
    "zh" -> "的", "zh" -> "是", "zh" -> "在", "zh" -> "了", "zh" -> "不")

  /** Language ID: count lexicon hits (with multiplicity) per (doc, lang),
    * pick the argmax with a deterministic tie-break, fall back to
    * "unknown" when no lexicon matches at all. The lexicon is broadcast;
    * the per-doc argmax is a window over ≤ |langs| rows.
    */
  def languageId(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val lex = langLexicon.toDF("lex_lang", "lex_token")
    val hits = docs.select(col("doc_id"), explode(toks).as("token"))
      .join(broadcast(lex), col("token") === col("lex_token"))
      .groupBy(col("doc_id"), col("lex_lang").as("cand_lang"))
      .agg(count(lit(1)).as("hits"))
    // argmax as a partial aggregation (round 18, guide §2.4): the
    // round-10 form cross-joined docs × |langs|, zero-filled, and ranked
    // a per-doc window — a 5× row expansion plus a sort whose only
    // survivors are the rank-1 rows. min(struct(-hits, lang)) picks the
    // identical row (largest hits, ties to the lexicographically
    // smallest language — struct ordering == the window's (hits desc,
    // lang asc)), map-side combined; docs with zero lexicon hits come
    // back through the zero-fill LEFT join as 'unknown' exactly as the
    // cross-join form emitted them.
    val best = hits
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("hits")).as("neg_hits"),
        col("cand_lang").as("lang"))).as("b"))
      .select(col("doc_id"), col("b.lang").as("cand_lang"),
        (-col("b.neg_hits")).as("hits"))
    docs.select(col("doc_id")).join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("hits") > 0, col("cand_lang")).otherwise(lit("unknown"))
          .as("pred_lang"),
        coalesce(col("hits"), lit(0L)).as("best_hits"))
  }

  /** Byte-pair-encoding MERGE TRAINING, distributed — the tokenizer-
    * vocabulary step an LLM data pipeline runs over its corpus. Classic
    * BPE on word frequencies: start from character symbols, then each
    * round (1) count adjacent symbol pairs weighted by word frequency,
    * (2) merge the globally most frequent pair (ties: lexicographically
    * smallest) in every word. Returns the learned merge table —
    * (round, left_sym, right_sym, pair_count) — which IS the tokenizer
    * artifact BPE training exists to produce.
    *
    * Scale shape per round: one partial+final count over symbol-pair
    * rows (key space ≈ vocabulary², map-side combined), ONE best-pair
    * row to the driver (the same K-sized hop as ivfKMeans centroids),
    * and a per-row string `replace` to apply the merge — no shuffle of
    * the word table itself, which stays (distinct words × counts),
    * never the corpus. Everything is exact integer counting plus
    * leftmost-nonoverlapping literal replacement, with symbols
    * space-delimited and the sequence space-padded so a pair match can
    * never straddle a symbol boundary — Spark's `replace` and DuckDB's
    * behave identically, so N chained rounds stay bit-identical and the
    * oracle simply unrolls them.
    *
    * DOCUMENTED DEVIATION from classic BPE on repeated-symbol runs: the
    * space-anchored replace consumes the boundary space shared by
    * adjacent matches, so a run of ≥4 identical symbols merges only its
    * leftmost occurrence per round (" a a a a " → " aa a a ", where
    * classic leftmost-nonoverlapping pairing yields " aa aa "). The
    * merge TABLE (which pair wins each round) is unaffected unless
    * counts tie at exactly this margin; [[bpeEncode]] applies merges
    * with the identical single-pass semantics, so train and encode
    * always agree with each other and with the oracle, which replicates
    * the same replace behavior.
    */
  def bpeMerges(docs: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "bpeMerges: at least one merge round")
    val spark = docs.sparkSession
    import spark.implicits._
    graft.Stage.scoped { st =>
      // word-frequency table: BPE's working set (distinct words, not the
      // corpus). Empty tokens (double spaces) carry no symbols — dropped.
      var words = st.cache(docs.select(explode(toks).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .select(concat(lit(" "),
          array_join(split(col("word"), ""), " "), lit(" ")).as("seq"),
          col("cnt")))
      val merges = Seq.newBuilder[(Int, String, String, Long)]
      for (r <- 1 to rounds) {
        // Typed flatMap (round 18): the pair projection ran as
        // explode(transform(sequence(...))) — interpreted per symbol,
        // once per merge ROUND over the distinct-word table (the r17
        // Block-A finding applied to the BPE trainer). Same rows: seq
        // is " s1 s2 ... sn " by construction (one boundary space each
        // side, symbols non-empty and space-free), so slicing off the
        // two boundary fields of a keep-empties split yields exactly
        // the symbol list Spark's split(trim(seq), " ") produced — and
        // unlike String.trim it cannot eat a control-char symbol.
        // Words with <2 symbols contribute nothing; adjacent-pair
        // multiplicity is weighted by cnt exactly as the grouped sum.
        val pairs = words.select(col("seq"), col("cnt"))
          .as[(String, Long)]
          .flatMap { case (seq, cnt) =>
            val t0 = seq.split(" ", -1)
            val t = t0.slice(1, t0.length - 1)
            if (t.length < 2) Iterator.empty
            else (0 until t.length - 1).iterator
              .map(i => (t(i), t(i + 1), cnt))
          }
          .toDF("p1", "p2", "cnt")
          .groupBy(col("p1"), col("p2"))
          .agg(sum(col("cnt")).as("pc"))
        val best = pairs
          .orderBy(col("pc").desc, col("p1").asc, col("p2").asc)
          .limit(1).collect()
        if (best.isEmpty) {
          // every word is a single symbol — nothing left to merge
          return merged(spark, merges.result())
        }
        val (p1, p2, pc) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        merges += ((r, p1, p2, pc))
        val next = st.cache(words.withColumn("seq",
          org.apache.spark.sql.functions.replace(col("seq"),
            lit(s" $p1 $p2 "), lit(s" $p1$p2 "))))
        next.count() // materialize before releasing the predecessor
        st.release(words)
        words = next
      }
      merged(spark, merges.result())
    }
  }

  private def merged(spark: SparkSession,
                     ms: Seq[(Int, String, String, Long)]): DataFrame = {
    import spark.implicits._
    ms.toDF("round", "left_sym", "right_sym", "pair_count")
  }

  /** BPE ENCODE — the apply step that makes the learned merge table a
    * tokenizer rather than an artifact: train `rounds` merges
    * ([[bpeMerges]]), then tokenize every document with them and return
    * per-document token counts. The merge list is collected to the
    * driver (≤ `rounds` rows — the same K-sized hop as the k-means
    * centroids) and applied as a chain of literal replaces in ROUND
    * ORDER, each with the identical single-pass leftmost-nonoverlap
    * semantics training used — so an encoded word's final symbol
    * sequence is exactly the training loop's final state for that word,
    * by construction, and the oracle unrolls the same chain.
    *
    * Scale shape: encoding runs over the DISTINCT-word table (vocab-
    * sized, never the corpus — the working-set reduction BPE training
    * already exploits), then one equi-join maps per-word symbol counts
    * back onto the corpus word stream and a partial+final agg rolls
    * them up per document. Documents with no words zero-fill.
    * Output: (doc_id, n_words, n_bpe_tokens).
    */
  def bpeEncode(docs: DataFrame, rounds: Int): DataFrame =
    bpeEncodeWith(docs, bpeMergeList(docs, rounds))

  /** Train [[bpeMerges]] and collect the merge list in round order —
    * the ≤ `rounds`-row driver hop every apply-side entry point shares.
    */
  def bpeMergeList(docs: DataFrame, rounds: Int): Seq[(String, String)] =
    bpeMerges(docs, rounds).orderBy(col("round"))
      .select(col("left_sym"), col("right_sym")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  /** A word's space-delimited symbol sequence after the merge chain —
    * the single definition of "apply the tokenizer" shared by encode,
    * vocab construction and tokenization (train/apply agreement is by
    * construction, see [[bpeMerges]]'s replace-semantics note).
    */
  private def bpeSeq(merges: Seq[(String, String)]): Column = {
    val baseSeq = concat(lit(" "),
      array_join(split(col("word"), ""), " "), lit(" "))
    merges.foldLeft(baseSeq) { case (c, (p1, p2)) =>
      org.apache.spark.sql.functions.replace(c,
        lit(s" $p1 $p2 "), lit(s" $p1$p2 "))
    }
  }

  /** [[bpeEncode]] against an EXPLICIT merge list — the deployed-
    * tokenizer path: merges are trained once, persisted, and applied to
    * every later corpus without retraining.
    */
  def bpeEncodeWith(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val vocab = docs.select(explode(toks).as("word"))
      .filter(length(col("word")) > 0).distinct()
      .select(col("word"), size(split(trim(bpeSeq(merges)), " ")).as("n_sym"))
    val perDoc = docs.select(col("doc_id"), explode(toks).as("word"))
      .filter(length(col("word")) > 0)
      .join(vocab, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sym")).cast("long").as("n_bpe_tokens"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }

  /** Deterministic BPE VOCAB for a trained merge list: the distinct
    * symbols the encoded distinct-word table produces, with STABLE ids
    * assigned by lexicographic token order — a pure function of (corpus,
    * merges), identical across engines, partitionings and re-runs, so
    * persisted token-id sequences stay comparable forever (the property
    * a training corpus's tokenizer must have; hash-assigned or
    * first-seen ids have neither). The rank window runs over the
    * vocab-sized distinct-symbol table, never the corpus.
    * Output: (token STRING, id INT), ids 0..|vocab|-1.
    */
  def bpeVocab(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val w = Window.orderBy(col("token"))
    docs.select(explode(toks).as("word"))
      .filter(length(col("word")) > 0).distinct()
      .select(explode(split(trim(bpeSeq(merges)), " ")).as("token"))
      .distinct()
      .withColumn("id", (row_number().over(w) - 1).cast("int"))
  }

  /** Persist a BPE vocab with its merge count stamped — the tokenizer
    * artifact a training pipeline trains once and applies to every
    * later corpus. Same layout-stamp discipline as the sketch family
    * ([[Sketches.countMinWrite]]) and the vector index: ids produced
    * under a different merge chain do not correspond, so the apply side
    * cross-validates the stamp before tokenizing.
    */
  def bpeVocabWrite(vocab: DataFrame, dir: String, nMerges: Int): Unit = {
    require(Seq("token", "id").forall(vocab.columns.contains),
      "bpeVocabWrite: not a BPE vocab — need (token, id) as built by bpeVocab")
    vocab.select(col("token"), col("id"))
      .withColumn("n_merges", lit(nMerges))
      .write.mode("overwrite").parquet(dir)
  }

  /** TOKENIZE — documents to token-ID SEQUENCES against a persisted
    * vocab: each word runs through the merge chain once (over the
    * DISTINCT-word table, never the corpus), its symbols map to ids via
    * the broadcast vocab, and per-document sequences reassemble in
    * (word position, symbol position) order. Out-of-vocab symbols (a
    * corpus the vocab wasn't built from) map to -1 — the UNK id — so
    * drift is visible in the output instead of silently dropped.
    * Validates the vocab's n_merges stamp against the supplied merge
    * list when present; mismatched ids would not correspond to any
    * tokenizer. Output: (doc_id, token_ids ARRAY<INT>), empty array for
    * wordless documents.
    */
  def bpeTokenizeWith(docs: DataFrame, merges: Seq[(String, String)],
                      vocab0: DataFrame): DataFrame = {
    Stamp.require(vocab0, "bpeTokenizeWith vocab", Seq("n_merges" -> merges.length))
    require(Seq("token", "id").forall(vocab0.columns.contains),
      "bpeTokenizeWith: not a BPE vocab — need (token, id) as built by bpeVocab")
    val vocab = vocab0.select(col("token"), col("id"))
    // distinct-word grain: encode once per word, ids in symbol order
    val wordIds = docs.select(explode(toks).as("word"))
      .filter(length(col("word")) > 0).distinct()
      .select(col("word"),
        posexplode(split(trim(bpeSeq(merges)), " ")).as(Seq("spos", "token")))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("word"))
      .agg(sort_array(collect_list(struct(col("spos"),
        coalesce(col("id"), lit(-1)).as("id")))).as("sid"))
      .select(col("word"), transform(col("sid"), s => s.getField("id")).as("ids"))
    // corpus grain: one equi-join word→ids, reassemble in word order
    val perDoc = docs.select(col("doc_id"), posexplode(toks).as(Seq("wpos", "word")))
      .filter(length(col("word")) > 0)
      .join(wordIds, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("wpos"), col("ids")))),
        w => w.getField("ids"))).as("token_ids"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("token_ids"),
          array().cast("array<int>")).as("token_ids"))
  }

  /** Consecutive whitespace-token bigrams of each document, one row per
    * occurrence: `(doc_id, w1, w2)`. Pairs are formed INSIDE the scan
    * stage (no positional self-join, no shuffle); documents shorter than
    * two tokens contribute nothing. A typed flatMap rather than the
    * round-13 `explode(transform(sequence(...)))` chain: Catalyst array
    * lambdas are interpreted per element, and this projection runs over
    * the FULL corpus in every LM train — the
    * [[graft.ext.Dedup.shingles]] finding (~7× at sf0.1) applied to the
    * bigram kernel (round 17). Same rows: [[LmTable.pairTokens]] keeps
    * trailing empty tokens (limit -1), `size < 2` docs drop, pair
    * multiplicity kept.
    */
  private def bigramPairs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val t = LmTable.pairTokens(text)
        (0 until t.length - 1).iterator.map(i => (id, t(i), t(i + 1)))
      }
      .toDF("doc_id", "w1", "w2")
  }

  /** Add-one-smoothed bigram language model trained over `docs` — the
    * CCNet/Gopher-style model-based quality signal's trainable half.
    * One row per distinct corpus bigram: `(w1, w2, c2, c1, v)` where
    * `c2` = count of the bigram, `c1` = occurrences of `w1` in
    * non-final position (the smoothing denominator's context count,
    * rolled up from `c2` — the token stream is exploded and shuffled
    * ONCE), and `v` = |distinct corpus tokens| replicated onto every
    * row so the frame is a self-contained persistable model (write it
    * with any parquet sink; [[lmScoreBigram]] re-derives the context
    * and vocab tables from it).
    *
    * Scale: the only shuffles are vocabulary-keyed partial+final
    * aggregations (map-side combine collapses the token stream to
    * distinct-bigram grain before the exchange). The model is
    * distinct-bigram-sized — far smaller than the corpus at 100 TB —
    * and v rides along as a column instead of a driver-side collect.
    */
  def bigramLmTrain(docs: DataFrame): DataFrame = {
    val big = bigramPairs(docs).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val ctx = big.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val v = docs.select(explode(toks).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    big.join(ctx, "w1").crossJoin(v)
      .select(col("w1"), col("w2"), col("c2"), col("c1"), col("v"))
  }

  /** Row cap on an LM resolved for in-scan scoring ([[resolveLm]]): the
    * model is collected to the driver and broadcast, so a model past
    * this many rows (distinct bigrams) is refused loudly instead of
    * exhausting driver memory. 2^20 rows is about 100 MB of hash maps;
    * the registered corpora train models of under a thousand rows.
    */
  val LmBroadcastCap: Int = 1 << 20

  /** Resolve a [[bigramLmTrain]] model ONCE for in-scan scoring: one
    * bounded collect (`limit(cap + 1)`, refused above `cap`), the
    * per-pair fixed-point log-probabilities precomputed per model row,
    * then `sparkContext.broadcast`. Scoring a document is then hash
    * lookups inside the scan of the documents — no pair explode, no
    * model join, no doc_id rollup. A long-lived consumer (a streaming
    * gate) resolves once and scores every micro-batch against the
    * handle.
    */
  def resolveLm(model: DataFrame, cap: Int = LmBroadcastCap): LmScorer = {
    require(Seq("w1", "w2", "c2", "c1", "v").forall(model.columns.contains),
      "lmScoreBigram: not a bigram LM — need (w1, w2, c2, c1, v) as " +
        "built by bigramLmTrain")
    val rows = model.select(col("w1"), col("w2"), col("c2").cast("double"),
        col("c1").cast("double"), col("v").cast("double"))
      .limit(cap + 1).collect()
    require(rows.length <= cap,
      s"lmScoreBigram: the LM has more than $cap rows, above the in-scan " +
        s"broadcast cap of $cap distinct bigrams (TextAnalysis.LmBroadcastCap) " +
        "— score it with a smaller model or raise the cap deliberately")
    new LmScorer(model.sparkSession.sparkContext.broadcast(LmTable(rows)))
  }

  /** Per-document log-likelihood under a [[bigramLmTrain]] model — the
    * model-based quality score (CCNet trains on the target domain and
    * buckets the scored corpus into head/middle/tail by this number).
    * Per-pair probability is add-one smoothed,
    * `p = (c2+1)/(c1+V)`; unseen bigrams degrade to `(0+1)/(c1+V)` and
    * unseen contexts to `1/V` — exactly the smoothing's
    * out-of-vocabulary semantics, no special cases. An EMPTY model
    * (trainable only from a corpus with no bigrams at all, which cannot
    * carry V) scores every document NULL at its true `n_pairs` — the
    * same unknown-model semantics as [[lmScoreBigramBy]]'s missing key.
    *
    * Cross-engine determinism: `p` is an exact-int ratio (IEEE division
    * of integers is correctly rounded → bit-identical in any engine);
    * the per-pair natural log is snapped to 1e-3 FIXED POINT
    * (`round(ln(p)·1000)` as a long) BEFORE the per-document sum, the
    * same convention as the embedding-centroid fixed-point sums — long
    * addition is associative, so the sum is partition-order-invariant
    * and the float-summation trap never opens. `avg_lp` (mean per-pair
    * log-prob; e^-avg_lp is per-token perplexity) divides the two
    * exact integers at the end. Documents with fewer than two tokens
    * score NULL with `n_pairs = 0`.
    *
    * Scale: the model is resolved once ([[resolveLm]]) and every
    * document is scored in the scan that reads it — one projection,
    * no shuffle, no join; the output keeps the input's rows.
    */
  def lmScoreBigram(docs: DataFrame, model: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        resolveLm(model).scoreColumn(col("text")).as("_lm"))
      .select(col("doc_id"),
        coalesce(col("_lm.n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("_lm.sum_lp_fp"), lit(0L)).as("sum_lp_fp"),
        avgLp(col("_lm.n_pairs"), col("_lm.sum_lp_fp")).as("avg_lp"))

  /** Mean per-pair log-probability: the two exact integers divided at
    * the end; NULL when the document has no pairs or the model cannot
    * score them.
    */
  private[graft] def avgLp(nPairs: Column, sumLpFp: Column): Column =
    sumLpFp.cast("double") / (nPairs.cast("double") * lit(1000.0))

  /** [[lmScoreBigram]] restricted to documents with ≥ 1 bigram pair:
    * `(doc_id, n_pairs, sum_lp_fp, avg_lp)` with n_pairs ≥ 1 and avg_lp
    * NULL only under an empty model — for a consumer that keeps only
    * documents clearing an `avg_lp` cut ([[graft.streaming.Streams
    * .lmGatePipeline]]). A typed flatMap, so the scorer runs once per
    * row: a filter over the projected score would be pushed below the
    * projection and evaluate it twice.
    */
  private[graft] def lmScoreBigramSparse(docs: DataFrame,
                                         lm: LmScorer): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val table = lm.table
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        Option(table.value.score(text)).map(s => (id, s.n_pairs, s.sum_lp_fp))
      }
      .toDF("doc_id", "n_pairs", "sum_lp_fp")
      .withColumn("avg_lp", avgLp(col("n_pairs"), col("sum_lp_fp")))
  }

  /** [[bigramLmTrain]] per partition key (CCNet trains ONE MODEL PER
    * LANGUAGE and scores every document with its own language's model —
    * a mixed-language corpus scored by a single pooled model conflates
    * "unusual text" with "not the majority language"). One model frame
    * for all keys: `(key, w1, w2, c2, c1, v)` with every statistic
    * computed WITHIN the key partition (`v` = that key's distinct
    * vocabulary). Same aggregation shapes as the pooled form, with the
    * key prepended to each grouping — no extra shuffles.
    */
  def bigramLmTrainBy(docs: DataFrame, key: String = "lang"): DataFrame = {
    val big = bigramPairsBy(docs, key).groupBy(col(key), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val ctx = big.groupBy(col(key), col("w1")).agg(sum(col("c2")).as("c1"))
    val v = docs.select(col(key), explode(toks).as("t"))
      .groupBy(col(key)).agg(countDistinct(col("t")).as("v"))
    big.join(ctx, Seq(key, "w1")).join(v, Seq(key))
      .select(col(key), col("w1"), col("w2"), col("c2"), col("c1"), col("v"))
  }

  /** [[lmScoreBigram]] against a keyed [[bigramLmTrainBy]] model: each
    * document's pairs consult ITS OWN key's model (bigram, context and
    * vocabulary all within-key). Documents whose key has no model (or a
    * NULL key) score NULL — every per-pair probability needs that key's
    * V, so there is no half-scored state to leak. Fixed-point and
    * smoothing semantics are identical to the pooled form.
    */
  def lmScoreBigramBy(docs: DataFrame, model: DataFrame,
                      key: String = "lang"): DataFrame = {
    require(Seq(key, "w1", "w2", "c2", "c1", "v").forall(model.columns.contains),
      s"lmScoreBigramBy: not a keyed bigram LM — need ($key, w1, w2, " +
        "c2, c1, v) as built by bigramLmTrainBy")
    val big = model.select(col(key), col("w1"), col("w2"), col("c2"))
    val ctx = model.select(col(key), col("w1"), col("c1")).distinct()
    val v = model.select(col(key), col("v")).distinct()
    val p = (coalesce(col("c2"), lit(0L)).cast("double") + lit(1.0)) /
      (coalesce(col("c1"), lit(0L)).cast("double") + col("v").cast("double"))
    val scored = bigramPairsBy(docs, key)
      .join(big, Seq(key, "w1", "w2"), "left")
      .join(ctx, Seq(key, "w1"), "left")
      .join(v, Seq(key), "left")
      .select(col("doc_id"),
        round(log(p) * lit(1000), 0).cast("long").as("lp_fp"))
    val per = scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("lp_fp")).as("sum_lp_fp"))
    docs.select(col("doc_id"), col(key)).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col(key),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("sum_lp_fp"), lit(0L)).as("sum_lp_fp"),
        when(col("n_pairs").isNotNull && col("sum_lp_fp").isNotNull,
          col("sum_lp_fp").cast("double") /
            (col("n_pairs").cast("double") * lit(1000.0))).as("avg_lp"))
  }

  /** [[bigramPairs]] with the partition key carried alongside — the same
    * typed flatMap (round 17). The key column must be a string (every
    * caller keys on a language/source tag); a non-string key would
    * silently change the model frame's key type through the encoder, so
    * refuse loudly instead.
    */
  private def bigramPairsBy(docs: DataFrame, key: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(docs.schema(key).dataType ==
      org.apache.spark.sql.types.StringType,
      s"bigramPairsBy: key column '$key' must be a string, got " +
        docs.schema(key).dataType)
    docs.select(col("doc_id").cast("long"), col(key), col("text"))
      .as[(Long, String, String)]
      .flatMap { case (id, k, text) =>
        val t = LmTable.pairTokens(text)
        (0 until t.length - 1).iterator.map(i => (id, k, t(i), t(i + 1)))
      }
      .toDF("doc_id", key, "w1", "w2")
  }

  /** ADDITIVE n-gram count state for incremental LM training: one row
    * per distinct unigram (`kind='uni'`, `w2=''`) and bigram
    * (`kind='bi'`) with its occurrence count. Counts add —
    * `build(A) ⊕ build(B) == build(A ∪ B)` under [[lmCountsMerge]] —
    * which is what lets a stream maintain the model without ever
    * re-reading the corpus ([[graft.streaming.Streams.lmMaintainPipeline]]).
    * The unigram rows carry V (vocabulary = row count) and the bigram
    * rows carry everything [[bigramLmTrain]] derives, so
    * [[lmModelFromCounts]] reconstructs that model bit-identically.
    */
  def lmCountsBuild(docs: DataFrame): DataFrame = {
    val uni = docs.select(explode(toks).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c"))
      .select(lit("uni").as("kind"), col("w1"), lit("").as("w2"), col("c"))
    val bi = bigramPairs(docs).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
      .select(lit("bi").as("kind"), col("w1"), col("w2"), col("c"))
    uni.unionByName(bi)
  }

  /** Additive merge of two [[lmCountsBuild]] frames — union + one
    * partial+final re-aggregation on the (kind, w1, w2) key. NOT
    * idempotent (a re-folded batch double-counts): stream maintenance
    * must pair it with batch-id insert-if-absent, the
    * histogram-maintainer discipline.
    */
  def lmCountsMerge(a: DataFrame, b: DataFrame): DataFrame = {
    val cols = Seq("kind", "w1", "w2", "c").map(col)
    a.select(cols: _*).unionByName(b.select(cols: _*))
      .groupBy(col("kind"), col("w1"), col("w2"))
      .agg(sum(col("c")).as("c"))
  }

  /** Right-to-be-forgotten for the LM: subtract a removed cohort's
    * [[lmCountsBuild]] from the accumulated n-gram counts —
    * bit-identical to rebuilding on the survivors WITHOUT a corpus
    * rescan. Zeroed n-grams DROP from the state, which is load-bearing
    * here: the vocabulary size V is the COUNT of unigram rows
    * ([[lmModelFromCounts]]), so a token living only in the removed
    * cohort must leave V exactly as a rebuild would shrink it.
    * Refuses a cohort the state never folded in.
    */
  def lmCountsSubtract(state: DataFrame, removed: DataFrame): DataFrame =
    graft.operators.ScaleOps.subtractCounts(state, removed,
      keys = Seq("kind", "w1", "w2"), counts = Seq("c"),
      what = "lmCountsSubtract")

  /** Reconstruct the [[bigramLmTrain]] model frame `(w1, w2, c2, c1, v)`
    * from accumulated [[lmCountsBuild]] state: `c2` from the bigram
    * rows, `c1` rolled up over first words, `v` = the unigram row count
    * (distinct corpus tokens). Bit-identical to training on the
    * concatenated corpus — the equivalence the streaming oracle pins.
    */
  def lmModelFromCounts(counts: DataFrame): DataFrame = {
    require(Seq("kind", "w1", "w2", "c").forall(counts.columns.contains),
      "lmModelFromCounts: not an LM count state — need (kind, w1, w2, c) " +
        "as built by lmCountsBuild")
    val bi = counts.filter(col("kind") === "bi")
      .select(col("w1"), col("w2"), col("c").as("c2"))
    val ctx = bi.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val v = counts.filter(col("kind") === "uni")
      .agg(count(lit(1)).as("v"))
    bi.join(ctx, "w1").crossJoin(v)
      .select(col("w1"), col("w2"), col("c2"), col("c1"), col("v"))
  }

  /** Head/middle/tail perplexity bucketing over [[lmScoreBigram]]
    * scores — the CCNet split. Thresholds are CALLER-PROVIDED constants
    * (profile once on a sample, then bucket the corpus with a pure
    * map-side CASE), not per-run quantiles: a global rank would cost a
    * corpus-wide sort every run and make each document's bucket depend
    * on every other document — the production discipline is frozen
    * thresholds, re-profiled deliberately. Unscorable documents
    * (`n_pairs = 0`) land in `tail` explicitly.
    */
  def lmBuckets(scores: DataFrame, headMin: Double,
                middleMin: Double): DataFrame = {
    require(headMin > middleMin,
      "head threshold must sit above the middle threshold")
    scores.select(col("doc_id"), col("n_pairs"), col("avg_lp"),
      when(col("avg_lp").isNull, lit("tail"))
        .when(col("avg_lp") >= lit(headMin), lit("head"))
        .when(col("avg_lp") >= lit(middleMin), lit("middle"))
        .otherwise(lit("tail")).as("bucket"))
  }
}

/** One document's bigram-LM score: its pair count and the fixed-point
  * log-probability sum (None when the model cannot score any pair — an
  * empty model has no V).
  */
private[graft] final case class LmScore(n_pairs: Long,
                                        sum_lp_fp: Option[Long])

/** A bigram LM resolved for in-scan scoring ([[TextAnalysis.resolveLm]]):
  * a handle on the broadcast [[LmTable]]. Serializable, so a streaming
  * pipeline can hold it for its lifetime.
  */
final class LmScorer private[ext] (private[ext] val table: Broadcast[LmTable])
    extends Serializable {

  /** `struct<n_pairs: bigint, sum_lp_fp: bigint>` of a text column, NULL
    * for a document with fewer than two tokens — evaluated in the
    * projection that reads the text.
    */
  def scoreColumn(text: Column): Column = {
    val t = table
    udf((s: String) => t.value.score(s)).apply(text)
  }
}

/** The broadcast form of a [[TextAnalysis.bigramLmTrain]] model: per
  * context word, the fixed-point log-probability of each seen
  * continuation and of an unseen one, plus the unseen-context value.
  * Every value is precomputed at resolve time, so scoring a pair is two
  * hash lookups and no arithmetic beyond the long sum.
  */
private[graft] final class LmTable private (
    contexts: java.util.HashMap[String, LmTable.Context],
    unseenLp: Long) extends Serializable {
  import LmTable.NullLp

  /** Score one document; NULL below two tokens. Sums skip pairs the
    * model cannot score and are None when none can — Spark's `sum`
    * over NULLs.
    */
  def score(text: String): LmScore = {
    val t = LmTable.pairTokens(text)
    if (t.length < 2) null
    else {
      var sum = 0L
      var scored = false
      var i = 0
      while (i < t.length - 1) {
        val c = contexts.get(t(i))
        val lp =
          if (c == null) unseenLp
          else {
            val s = c.seen.get(t(i + 1))
            if (s == null) c.missLp else s.longValue
          }
        if (lp != NullLp) { sum += lp; scored = true }
        i += 1
      }
      LmScore(t.length - 1, if (scored) Some(sum) else None)
    }
  }
}

private[graft] object LmTable {

  /** Marks a log-probability the model cannot produce (no V) — the NULL
    * of the join form. Unreachable as a real value: |ln p|·1000 of any
    * representable p is far below 2^63.
    */
  private val NullLp = Long.MinValue

  private val NoTokens = new Array[String](0)

  final class Context(val missLp: Long,
                      val seen: java.util.HashMap[String, java.lang.Long])
      extends Serializable

  /** The whitespace tokens a document's bigrams are formed over: split
    * on " " with limit -1 (trailing empty tokens kept, like
    * split()/string_split); empty for NULL text and for fewer than two
    * tokens, which have no pairs.
    */
  def pairTokens(text: String): Array[String] =
    if (text == null) NoTokens
    else {
      val t = text.split(" ", -1)
      if (t.length < 2) NoTokens else t
    }

  /** `round(log(num / den) * 1000, 0).cast("long")` as Spark evaluates
    * it: `StrictMath.log`, NULL at or below log's asymptote, then
    * HALF_UP on the decimal form of the double (`BigDecimal.valueOf`,
    * Spark's Round). A zero divisor (no [[TextAnalysis.bigramLmTrain]]
    * model has one: V ≥ 1 whenever a row exists) is NULL, as in
    * non-ANSI division.
    */
  def lpFp(num: Double, den: Double): Long =
    if (den == 0.0) NullLp
    else {
      val p = num / den
      if (p <= 0.0) NullLp
      else java.math.BigDecimal.valueOf(StrictMath.log(p) * 1000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
    }

  /** Build from collected `(w1, w2, c2, c1, v)` rows, the counts as
    * doubles. V is the maximum over every row (NULL for an empty
    * model); a NULL count is 0, the join form's coalesce. A model whose
    * context carries two c1 values, or that repeats a bigram, is not a
    * [[TextAnalysis.bigramLmTrain]] model (the join form would
    * duplicate pairs) and is refused.
    */
  def apply(rows: Array[Row]): LmTable = {
    val vs = rows.filter(!_.isNullAt(4)).map(_.getDouble(4))
    val v = if (vs.isEmpty) None else Some(vs.max)
    def lp(c2: Double, c1: Double): Long =
      v.fold(NullLp)(vv => lpFp(c2 + 1.0, c1 + vv))
    def count(r: Row, i: Int): Double = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
    val contexts = new java.util.HashMap[String, Context]()
    rows.filter(!_.isNullAt(0)).groupBy(_.getString(0)).foreach {
      case (w1, rs) =>
        val c1s = rs.map(r => if (r.isNullAt(3)) None else Some(r.getDouble(3)))
          .distinct
        require(c1s.length == 1,
          s"lmScoreBigram: not a bigram LM — context '$w1' carries " +
            s"${c1s.length} different c1 values (bigramLmTrain emits one)")
        val c1 = c1s.head.getOrElse(0.0)
        val seen = new java.util.HashMap[String, java.lang.Long]()
        rs.filter(!_.isNullAt(1)).foreach { r =>
          require(seen.put(r.getString(1), lp(count(r, 2), c1)) == null,
            s"lmScoreBigram: not a bigram LM — bigram ($w1, " +
              s"${r.getString(1)}) appears twice (bigramLmTrain emits one)")
        }
        contexts.put(w1, new Context(lp(0.0, c1), seen))
    }
    new LmTable(contexts, lp(0.0, 0.0))
  }
}
