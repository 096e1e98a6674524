package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ext.TextAnalysis

class TextAnalysisSpec extends AnyFunSuite {
  import SparkTestBase._
  import spark.implicits._

  test("BPE learns the textbook merge sequence on the low/lower/lowest corpus") {
    // the classic BPE example: 5×"low" + 2×"lower" + 1×"lowest".
    // Expected merges: (l,o) and (o,w) tie at 8 → lexicographic tie-break
    // picks (l,o); then (lo,w)=8; (low,e)=3; (lowe,r)=2.
    val docs = Seq((1L, "low low low low low lower lower lowest"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(docs, rounds = 4)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (1, "l", "o", 8L),
      (2, "lo", "w", 8L),
      (3, "low", "e", 3L),
      (4, "lowe", "r", 2L)))
  }

  test("BPE merge application is leftmost-nonoverlapping (the 'a a a' case)") {
    // "aaa" has adjacent pairs (a,a)×2 but the merge must consume
    // left-to-right without overlap: ' a a a ' → ' aa a ', so round 2
    // merges (aa, a) — an overlap bug would instead produce (a, aa) or
    // double-count round 1.
    val docs = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(docs, rounds = 2)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq((1, "a", "a", 4L), (2, "aa", "a", 2L)))
  }

  test("BPE stops early when every word is a single symbol") {
    val docs = Seq((1L, "ab ab cd")).toDF("doc_id", "text")
    // round 1 merges (a,b)=2; round 2 merges (c,d)=1; nothing remains —
    // asking for more rounds returns just the learnable merges.
    val got = TextAnalysis.bpeMerges(docs, rounds = 10)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq((1, "a", "b", 2L), (2, "c", "d", 1L)))
  }

  test("BPE is deterministic across runs on real documents") {
    val docs = Tables.documents(spark, sfDir)
    val a = TextAnalysis.bpeMerges(docs, rounds = 3).collect().toSeq
    val b = TextAnalysis.bpeMerges(docs, rounds = 3).collect().toSeq
    assert(a === b)
    assert(a.size === 3)
  }

  test("BPE encode: zero merges = one token per char; trained merges shrink counts") {
    // textbook corpus again: with no merges every character is a symbol,
    // so n_bpe_tokens == non-space char count; after the 4 learned
    // merges, "low"→1 symbol, "lower"→2 ("lowe","r" — wait: rounds
    // (l,o)(lo,w)(low,e)(lowe,r) make "lower" 1), "lowest"→3.
    val docs = Seq((1L, "low low lower lowest"), (2L, ""))
      .toDF("doc_id", "text")
    val none = TextAnalysis.bpeEncodeWith(docs, Nil).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(none.toSeq === Seq((1L, 4L, 17L), (2L, 0L, 0L)))
    val enc = TextAnalysis.bpeEncode(docs, rounds = 4).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // merges learned on THIS corpus: (l,o),(lo,w),(low,e),(lowe,r) →
    // low=1 sym ×2, lower=1 sym ("lower"), lowest: ' lowe s t ' → 3.
    assert(enc.toSeq === Seq((1L, 4L, 2L + 1L + 3L), (2L, 0L, 0L)))
  }

  test("BPE encode on real documents: counts bounded by chars below and words above") {
    val docs = Tables.documents(spark, sfDir).limit(100)
    val base = TextAnalysis.bpeEncodeWith(docs, Nil)
      .agg(org.apache.spark.sql.functions.sum("n_bpe_tokens")).head().getLong(0)
    val enc = TextAnalysis.bpeEncode(docs, rounds = 4)
    import org.apache.spark.sql.functions.{col, sum}
    val row = enc.agg(sum("n_bpe_tokens"), sum("n_words")).head()
    val (tokens, words) = (row.getLong(0), row.getLong(1))
    assert(tokens < base, s"4 merges should shrink $base")
    assert(tokens >= words, "a word is at least one token")
    // every doc individually respects the word lower bound
    assert(enc.filter(col("n_bpe_tokens") < col("n_words")).count() === 0L)
  }

  test("BPE tokenize: stable vocab ids, sequences consistent with encode, stamp validated, UNK = -1") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir).limit(100)
    val merges = TextAnalysis.bpeMergeList(docs, rounds = 4)
    val vocab = TextAnalysis.bpeVocab(docs, merges)
    // ids are a dense 0..n-1 ranking in lexicographic token order —
    // stable across runs by construction
    val vs = vocab.orderBy("id").collect().map(r => (r.getString(0), r.getInt(1)))
    assert(vs.map(_._2).toSeq === vs.indices.toSeq)
    assert(vs.map(_._1).toSeq === vs.map(_._1).sorted.toSeq)
    val tmp = tmpDir("graft_bpe_vocab").toString
    TextAnalysis.bpeVocabWrite(vocab, s"$tmp/vocab", merges.length)
    val loaded = spark.read.parquet(s"$tmp/vocab")
    // per-doc sequence length == bpeEncode's per-doc token count (two
    // independent paths over the same merge chain)
    val seqLens = TextAnalysis.bpeTokenizeWith(docs, merges, loaded)
      .select(col("doc_id"), size(col("token_ids")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val encCounts = TextAnalysis.bpeEncodeWith(docs, merges)
      .collect().map(r => r.getLong(0) -> r.getLong(2).toInt).toMap
    assert(seqLens === encCounts)
    // no UNK on the training corpus; every id within vocab range
    val ids = TextAnalysis.bpeTokenizeWith(docs, merges, loaded)
      .select(explode(col("token_ids")).as("id")).distinct()
      .collect().map(_.getInt(0))
    assert(ids.forall(i => i >= 0 && i < vs.length))
    // a FOREIGN corpus (symbols the vocab never saw) surfaces as -1,
    // not silently dropped
    import spark.implicits._
    val foreign = Seq((1L, "zzzz qqqq")).toDF("doc_id", "text")
    val fIds = TextAnalysis.bpeTokenizeWith(foreign, merges, loaded)
      .select(explode(col("token_ids")).as("id"))
      .collect().map(_.getInt(0))
    assert(fIds.nonEmpty && fIds.contains(-1))
    // tokenizing with a merge list the vocab wasn't stamped for refuses
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.bpeTokenizeWith(docs, merges.take(2), loaded)
    }
    assert(e.getMessage.contains("would not correspond"))
    graft.plans.Pipeline.deleteRecursively(java.nio.file.Paths.get(tmp))
  }

  test("bigram LM: hand-computed smoothed log-likelihoods on a 2-doc corpus") {
    // corpus: "a b a" + "a b b". bigrams: (a,b)×2, (b,a)×1, (b,b)×1;
    // contexts: a→2, b→2; V = 2.
    //   p(a,b) = (2+1)/(2+2) = 0.75 → round(ln .75 ·1000) = −288
    //   p(b,a) = p(b,b) = (1+1)/(2+2) = 0.5 → −693
    // both docs: n_pairs = 2, sum = −981, avg = −0.4905.
    val docs = Seq((1L, "a b a"), (2L, "a b b")).toDF("doc_id", "text")
    val model = TextAnalysis.bigramLmTrain(docs)
    val m = model.collect().map(r => ((r.getString(0), r.getString(1)),
      (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(m === Map(
      ("a", "b") -> ((2L, 2L, 2L)),
      ("b", "a") -> ((1L, 2L, 2L)),
      ("b", "b") -> ((1L, 2L, 2L))))
    val got = TextAnalysis.lmScoreBigram(docs, model).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.toSeq === Seq((1L, 2L, -981L, -0.4905),
      (2L, 2L, -981L, -0.4905)))
  }

  test("bigram LM: unseen bigrams and contexts degrade to the smoothing floor; 1-token docs score NULL") {
    val train = Seq((1L, "a b a"), (2L, "a b b")).toDF("doc_id", "text")
    val model = TextAnalysis.bigramLmTrain(train)
    // (c,c): bigram AND context both unseen → p = 1/(0+V) = 0.5 → −693
    val fresh = Seq((10L, "c c"), (11L, "a")).toDF("doc_id", "text")
    val got = TextAnalysis.lmScoreBigram(fresh, model).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(got.toSeq === Seq((10L, 1L, -693L, Some(-0.693)),
      (11L, 0L, 0L, None)))
  }

  test("bigram LM scores are partition-layout-invariant (fixed-point sums)") {
    val docs = Tables.documents(spark, sfDir)
    val model = TextAnalysis.bigramLmTrain(docs)
    val a = TextAnalysis.lmScoreBigram(docs, model)
      .orderBy("doc_id").collect().toSeq
    val b = TextAnalysis.lmScoreBigram(docs.repartition(13), model)
      .orderBy("doc_id").collect().toSeq
    assert(a === b)
  }

  test("bigram LM: an empty model (bigramless corpus) scores NULL at true n_pairs, never annihilates") {
    // a corpus of single-token docs trains to ZERO model rows — V has
    // no bigram row to ride on, so scoring cannot apply the 1/V floor;
    // the contract is NULL at the doc's true pair count (the keyed
    // form's unknown-model semantics), NOT a silent empty crossJoin
    // that misreports n_pairs = 0.
    val model = TextAnalysis.bigramLmTrain(
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"))
    assert(model.count() === 0L)
    val got = TextAnalysis.lmScoreBigram(
      Seq((5L, "a b c")).toDF("doc_id", "text"), model).collect()
    assert(got.length === 1)
    assert(got(0).getLong(1) === 2L, "true pair count must be reported")
    assert(got(0).isNullAt(3), "score must be NULL, not fabricated")
  }

  test("per-language LM: statistics stay within the key partition; unknown keys score NULL") {
    // same surface bigram (a,b) in two languages with different
    // within-language statistics: en has (a,b)×2 of 3 bigrams
    // (V={a,b,c}), de has (a,b)×1 of 1 (V={a,b}).
    val docs = Seq(
      (1L, "en", "a b a b c"), (2L, "de", "a b")).toDF("doc_id", "lang", "text")
    val model = TextAnalysis.bigramLmTrainBy(docs)
    val m = model.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2)) -> (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    //   en: (a,b) c2=2 c1=2 v=3; (b,a) 1/2/3; (b,c) 1/2/3
    //   de: (a,b) c2=1 c1=1 v=2
    assert(m === Map(
      ("en", "a", "b") -> ((2L, 2L, 3L)),
      ("en", "b", "a") -> ((1L, 2L, 3L)),
      ("en", "b", "c") -> ((1L, 2L, 3L)),
      ("de", "a", "b") -> ((1L, 1L, 2L))))
    // scoring "a b" under each model: en p=(2+1)/(2+3)=0.6 → −511;
    // de p=(1+1)/(1+2)=2/3 → −405. A pooled model could give neither.
    val probe = Seq((10L, Some("en"), "a b"), (11L, Some("de"), "a b"),
      (12L, Some("fr"), "a b"), (13L, None, "a b"))
      .toDF("doc_id", "lang", "text")
    val got = TextAnalysis.lmScoreBigramBy(probe, model).orderBy("doc_id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getString(1)), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    assert(got.toSeq === Seq(
      (10L, Some("en"), 1L, -511L, Some(-0.511)),
      (11L, Some("de"), 1L, -405L, Some(-0.405)),
      // fr has no model: V is unknowable, so the doc scores NULL —
      // with its TRUE n_pairs reported (the DuckDB oracle left-joins V
      // to match exactly this: n_pairs counts the pairs that exist,
      // avg_lp certifies only what the model can score)
      (12L, Some("fr"), 1L, 0L, None),
      // NULL key: same unknown-model semantics (a NULL lang matches no
      // model row under equi-join), pinned so the oracle's LEFT JOIN v
      // and this path can never drift apart on n_pairs
      (13L, None, 1L, 0L, None)))
  }

  test("lm buckets: thresholds classify, unscorable docs land in tail, bad thresholds refuse") {
    val scores = Seq(
      (1L, 5L, Some(-1.0)),   // ≥ headMin → head
      (2L, 5L, Some(-2.5)),   // between → middle
      (3L, 5L, Some(-9.0)),   // below → tail
      (4L, 0L, None)          // unscorable → tail
    ).toDF("doc_id", "n_pairs", "avg_lp")
    val got = TextAnalysis.lmBuckets(scores, headMin = -2.0, middleMin = -3.0)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(3)))
    assert(got.toSeq === Seq((1L, "head"), (2L, "middle"),
      (3L, "tail"), (4L, "tail")))
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.lmBuckets(scores, headMin = -3.0, middleMin = -2.0)
    }
    assert(e.getMessage.contains("above"))
    // malformed model refuses
    val e2 = intercept[IllegalArgumentException] {
      TextAnalysis.lmScoreBigram(scores,
        Seq((1L, 2L)).toDF("w1", "w2"))
    }
    assert(e2.getMessage.contains("bigramLmTrain"))
  }
}
