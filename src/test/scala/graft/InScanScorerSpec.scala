package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Classifier, TextAnalysis}

/** The in-scan LM and NB scorers against the join-based forms they
  * replaced. The reference forms below are those forms verbatim — pair
  * explode or per-doc bucket collapse, broadcast model join, per-doc
  * rollup — except that the NB features are formed with Spark
  * built-ins (`md5` of the `nb|`-salted feature, first 8 hex digits)
  * instead of the shared JVM kernel, so the reference shares no code
  * with what it checks.
  */
class InScanScorerSpec extends AnyFunSuite {
  import SparkTestBase._
  import spark.implicits._

  /** The sf0.01 corpus next to the shared test scale. */
  private lazy val docs001 = Tables.documents(spark,
    new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath)

  private def refPairs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        if (text == null) Iterator.empty
        else {
          val t = text.split(" ", -1)
          if (t.length < 2) Iterator.empty
          else (0 until t.length - 1).iterator.map(i => (id, t(i), t(i + 1)))
        }
      }
      .toDF("doc_id", "w1", "w2")

  /** The join form of `lmScoreBigramSparse`. */
  private def refLmSparse(docs: DataFrame, model: DataFrame): DataFrame = {
    val big = model.select(col("w1"), col("w2"), col("c2"))
    val ctx = model.select(col("w1"), col("c1")).distinct()
    val v = model.agg(max(col("v")).as("v"))
    val p = (coalesce(col("c2"), lit(0L)).cast("double") + lit(1.0)) /
      (coalesce(col("c1"), lit(0L)).cast("double") + col("v").cast("double"))
    refPairs(docs)
      .join(big, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .crossJoin(v)
      .select(col("doc_id"),
        round(log(p) * lit(1000), 0).cast("long").as("lp_fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("lp_fp")).as("sum_lp_fp"))
      .select(col("doc_id"), col("n_pairs"), col("sum_lp_fp"),
        (col("sum_lp_fp").cast("double") /
          (col("n_pairs").cast("double") * lit(1000.0))).as("avg_lp"))
  }

  /** The join form of `lmScoreBigram` (zero-filled). */
  private def refLm(docs: DataFrame, model: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(refLmSparse(docs, model), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("sum_lp_fp"), lit(0L)).as("sum_lp_fp"),
        col("avg_lp"))

  /** `(doc_id, bucket, n)`: hashed uni+bigram occurrences per document. */
  private def refFeatureCounts(docs: DataFrame, buckets: Int): DataFrame = {
    val t = split(col("text"), " ", -1)
    val feats = docs.select(col("doc_id").cast("long").as("doc_id"),
      concat(t, when(size(t) >= 2,
        transform(sequence(lit(0), size(t) - 2),
          i => concat(element_at(t, i + 1), lit(" "), element_at(t, i + 2))))
        .otherwise(array().cast("array<string>"))).as("fs"))
    feats.select(col("doc_id"), explode(col("fs")).as("f"))
      .select(col("doc_id"),
        (conv(substring(md5(concat(lit("nb|"), col("f"))), 1, 8), 16, 10)
          .cast("long") % buckets).cast("int").as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** The join form of `nbScores`. */
  private def refNbScores(docs: DataFrame, model: DataFrame,
                          buckets: Int): DataFrame = {
    val feat = model.filter(col("bucket") =!= Classifier.DocCountBucket)
      .select(col("label"), col("bucket"), col("lp_fp"))
    val prior = model.filter(col("bucket") === Classifier.DocCountBucket)
      .select(col("label"), col("lp_fp").as("prior_fp"))
    refFeatureCounts(docs, buckets)
      .join(broadcast(feat), Seq("bucket"))
      .groupBy(col("doc_id"), col("label"))
      .agg(sum(col("n")).as("n_feats"),
        sum(col("n") * col("lp_fp")).as("sum_lp_fp"))
      .join(broadcast(prior), Seq("label"))
      .select(col("doc_id"), col("label"), col("n_feats"),
        (col("sum_lp_fp") + col("prior_fp")).as("score_fp"))
  }

  /** The join form of `nbClassify`: min(struct(-score, label, n_feats)). */
  private def refNbClassify(docs: DataFrame, model: DataFrame,
                            buckets: Int): DataFrame =
    refNbScores(docs, model, buckets)
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("score_fp")).as("neg_score"),
        col("label"), col("n_feats"))).as("b"))
      .select(col("doc_id"), col("b.label").as("pred_label"),
        col("b.n_feats").as("n_feats"),
        (-col("b.neg_score")).as("score_fp"))

  private def assertSameRows(got: DataFrame, want: DataFrame,
                             what: String): Unit = {
    val n = want.count()
    assert(got.count() === n, s"$what: row count")
    assert(got.exceptAll(want).count() === 0L, s"$what: rows only in the kernel")
    assert(want.exceptAll(got).count() === 0L, s"$what: rows only in the join form")
  }

  test("LM kernel is bit-identical to the join form on the sf0.01 corpus (self and held-out models)") {
    val docs = docs001
    val self = TextAnalysis.bigramLmTrain(docs).localCheckpoint(eager = true)
    // a model trained on a third of the corpus leaves unseen bigrams and
    // unseen contexts in the rest
    val held = TextAnalysis.bigramLmTrain(docs.filter(col("doc_id") % 3 === 0))
      .localCheckpoint(eager = true)
    Seq("self" -> self, "held-out" -> held).foreach { case (name, model) =>
      assertSameRows(TextAnalysis.lmScoreBigram(docs, model),
        refLm(docs, model), s"lmScoreBigram ($name model)")
      assertSameRows(
        TextAnalysis.lmScoreBigramSparse(docs, TextAnalysis.resolveLm(model)),
        refLmSparse(docs, model), s"lmScoreBigramSparse ($name model)")
    }
    assert(TextAnalysis.lmScoreBigram(docs, held)
      .filter(col("avg_lp").isNotNull).count() > 0)
  }

  test("NB kernel is bit-identical to the join form on the sf0.01 corpus (scores and argmax)") {
    val docs = docs001
    // 1024 buckets on the full corpus, and 64 buckets (heavy collisions)
    // trained on a slice
    Seq(1024 -> docs, 64 -> docs.filter(col("doc_id") % 4 === 1)).foreach {
      case (buckets, train) =>
        val model = Classifier.nbTrain(train, buckets = buckets)
          .localCheckpoint(eager = true)
        assertSameRows(Classifier.nbScores(docs, model, buckets),
          refNbScores(docs, model, buckets), s"nbScores ($buckets buckets)")
        assertSameRows(Classifier.nbClassify(docs, model, buckets),
          refNbClassify(docs, model, buckets), s"nbClassify ($buckets buckets)")
    }
  }

  test("edge cases: NULL text, one-token and empty documents, an empty LM") {
    val docs = Seq[(Long, String)]((1L, null), (2L, "a"), (3L, ""),
      (4L, "a b"), (5L, "x y x y")).toDF("doc_id", "text")
    val model = TextAnalysis.bigramLmTrain(
      Seq((10L, "a b a"), (11L, "a b b")).toDF("doc_id", "text"))
    assertSameRows(TextAnalysis.lmScoreBigram(docs, model), refLm(docs, model),
      "lmScoreBigram edge documents")
    val lm = TextAnalysis.lmScoreBigram(docs, model).orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    // fewer than two tokens: no pairs, NULL score
    Seq(1L, 2L, 3L).foreach(id => assert(lm(id) === ((0L, 0L, None))))
    assert(lm(4L) === ((1L, -288L, Some(-0.288))))
    // an empty model scores NULL at the true pair count
    val empty = TextAnalysis.bigramLmTrain(
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"))
    assertSameRows(TextAnalysis.lmScoreBigram(docs, empty), refLm(docs, empty),
      "lmScoreBigram under an empty model")
    val sparse = TextAnalysis.lmScoreBigramSparse(docs,
        TextAnalysis.resolveLm(empty)).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.isNullAt(2),
        r.isNullAt(3)))
    assert(sparse.toSeq === Seq((4L, 1L, true, true), (5L, 3L, true, true)))
    // NB: NULL text has no features and emits nothing; "" and "a" have
    // one unigram feature each
    val nb = Classifier.nbTrain(
      Seq((10L, "a b", "en"), (11L, "x y", "es")).toDF("doc_id", "text", "lang"),
      buckets = 64)
    assertSameRows(Classifier.nbScores(docs, nb, 64), refNbScores(docs, nb, 64),
      "nbScores edge documents")
    assertSameRows(Classifier.nbClassify(docs, nb, 64),
      refNbClassify(docs, nb, 64), "nbClassify edge documents")
    val classified = Classifier.nbClassify(docs, nb, 64)
      .collect().map(_.getLong(0)).toSet
    assert(classified === Set(2L, 3L, 4L, 5L))
    assert(Classifier.nbScores(docs, nb, 64).filter(col("doc_id") === 1L)
      .count() === 0L)
  }

  test("NB ties go to the ascending label in UTF8String order") {
    // symmetric corpora: every score ties across labels. U+FF61 sorts
    // BEFORE U+1F600 in UTF-8 bytes (EF < F0) but AFTER it in UTF-16
    // code units (0xFF61 > 0xD83D) — Spark compares UTF8String bytes.
    val hi = "😀"
    val lo = "｡"
    val train = Seq((1L, "zz yy", hi), (2L, "zz yy", lo))
      .toDF("doc_id", "text", "lang")
    val model = Classifier.nbTrain(train, buckets = 64)
    val docs = Seq((7L, "zz yy"), (8L, "yy")).toDF("doc_id", "text")
    assertSameRows(Classifier.nbClassify(docs, model, 64),
      refNbClassify(docs, model, 64), "nbClassify ties")
    val got = Classifier.nbClassify(docs, model, 64)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(7L -> lo, 8L -> lo))
  }

  test("an LM above the broadcast cap is refused, naming the cap") {
    val model = TextAnalysis.bigramLmTrain(
      Seq((1L, "a b c d e")).toDF("doc_id", "text"))
    assert(model.count() === 4L)
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.resolveLm(model, cap = 3)
    }
    assert(e.getMessage.contains("cap of 3"), e.getMessage)
    // at the cap it resolves
    TextAnalysis.resolveLm(model, cap = 4)
  }
}
