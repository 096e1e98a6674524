package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Classifier, Corpus}

class ClassifierSpec extends AnyFunSuite {
  import SparkTestBase._
  import spark.implicits._

  private val B = 64 // small bucket space so collisions actually occur

  test("NB counts are additive: build(A) ⊕ build(B) == build(A ∪ B)") {
    val docs = Tables.documents(spark, sfDir)
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 =!= 0)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val merged = asMap(Classifier.nbCountsMerge(
      Classifier.nbCountsBuild(a, buckets = B),
      Classifier.nbCountsBuild(b, buckets = B)))
    val whole = asMap(Classifier.nbCountsBuild(docs, buckets = B))
    assert(merged === whole)
  }

  test("model is dense (labels × (buckets+1) rows) and NULL-label docs are excluded from training") {
    val docs = Seq(
      (1L, "alpha beta", "en"), (2L, "alpha beta gamma", "en"),
      (3L, "uno dos", "es"), (4L, "mystery words", null.asInstanceOf[String])
    ).toDF("doc_id", "text", "lang")
    val model = Classifier.nbTrain(docs, buckets = B)
    val byLabel = model.groupBy("label").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // doc 4's NULL label must not mint a label row
    assert(byLabel.keySet === Set("en", "es"))
    assert(byLabel.values.toSet === Set(B + 1L))
    // priors: ln(2/3) and ln(1/3) in 1e-3 fixed point
    val priors = model.filter(col("bucket") === Classifier.DocCountBucket)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(priors("en") === math.round(math.log(2.0 / 3.0) * 1000))
    assert(priors("es") === math.round(math.log(1.0 / 3.0) * 1000))
  }

  test("classify labels every doc (including unlabeled), matches the max-score label with asc tie-break") {
    val docs = Seq(
      (1L, "alpha beta", "en"), (2L, "alpha beta gamma", "en"),
      (3L, "uno dos", "es"), (4L, "alpha beta", null.asInstanceOf[String])
    ).toDF("doc_id", "text", "lang")
    val model = Classifier.nbTrain(docs, buckets = B)
    val out = Classifier.nbClassify(docs, model, buckets = B)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L))
    // doc 4 duplicates doc 1's text: same features → same prediction,
    // and 'en' has both the matching counts and the larger prior
    assert(out(4L) === out(1L))
    assert(out(1L) === "en")
    assert(out(3L) === "es")
    // exact tie (two labels, symmetric corpora): asc label must win.
    val tied = Seq((10L, "zz yy", "aa"), (11L, "zz yy", "bb"))
      .toDF("doc_id", "text", "lang")
    val tm = Classifier.nbTrain(tied, buckets = B)
    val tout = Classifier.nbClassify(tied.select("doc_id", "text"), tm, B)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tout.values.toSet === Set("aa"))
  }

  test("classify refuses a frame that is not a model") {
    val docs = Seq((1L, "x", "en")).toDF("doc_id", "text", "lang")
    val e = intercept[IllegalArgumentException] {
      Classifier.nbClassify(docs, docs.select(col("doc_id")))
    }
    assert(e.getMessage.contains("not an NB model"))
  }

  test("releaseDiff classifies added/removed/changed/unchanged exactly") {
    val prev = Seq((1L, "one"), (2L, "two"), (3L, "three"))
      .toDF("doc_id", "text")
    val next = Seq((2L, "two"), (3L, "three v2"), (4L, "four"))
      .toDF("doc_id", "text")
    val out = Corpus.releaseDiff(prev, next)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
    // hash columns carry the content address on the side(s) that have it
    val row1 = Corpus.releaseDiff(prev, next)
      .filter(col("doc_id") === 1).collect()(0)
    assert(!row1.isNullAt(2) && row1.isNullAt(3))
  }

  test("classify plan: the broadcast model scores inside the scan — no join, exchange, aggregate or window on the corpus side") {
    val docs = Tables.documents(spark, sfDir)
    val out = Classifier.nbClassify(docs, Classifier.nbTrain(docs))
    out.collect() // materialize under AQE so the final plan is real
    val plan = out.queryExecution.executedPlan.toString
    // the model is collected and broadcast once at resolve time, so the
    // classify plan is the documents read (its own round-robin
    // repartition included) plus per-row work: a regression to a model
    // join re-pays the per-doc bucket collapse, its hash exchange and
    // the per-doc argmax rollup on every classify
    Seq("Join", "CartesianProduct", "hashpartitioning", "Aggregate", "Window")
      .foreach(op => assert(!plan.contains(op),
        s"classify plan must not contain $op:\n$plan"))
  }

  test("classification against streamed-equivalent folded counts equals batch train") {
    val docs = Tables.documents(spark, sfDir)
    val folded = Classifier.nbCountsMerge(
      Classifier.nbCountsMerge(
        Classifier.nbCountsBuild(docs.filter(col("doc_id") % 3 === 0), buckets = B),
        Classifier.nbCountsBuild(docs.filter(col("doc_id") % 3 === 1), buckets = B)),
      Classifier.nbCountsBuild(docs.filter(col("doc_id") % 3 === 2), buckets = B))
    val viaFold = Classifier.nbClassify(docs,
      Classifier.nbModelFromCounts(folded, B), B)
    val viaBatch = Classifier.nbClassify(docs,
      Classifier.nbTrain(docs, buckets = B), B)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    assert(m(viaFold) === m(viaBatch))
  }

  test("bucket-geometry stamp: derive/classify/merge under a different buckets refuses loudly") {
    val docs = Seq((1L, "alpha beta", "en"), (2L, "uno dos", "es"))
      .toDF("doc_id", "text", "lang")
    val counts = Classifier.nbCountsBuild(docs, buckets = B)
    // deriving the model with a smaller geometry would silently drop
    // bucket >= buckets rows from the dense grid while still inflating
    // the smoothing totals — the stamp turns that into a loud refusal
    val e1 = intercept[IllegalArgumentException] {
      Classifier.nbModelFromCounts(counts, buckets = B / 2)
    }
    assert(e1.getMessage.contains("layout mismatch") &&
      e1.getMessage.contains("buckets"))
    // classifying with a different geometry hashes features into the
    // wrong space
    val model = Classifier.nbModelFromCounts(counts, B)
    val e2 = intercept[IllegalArgumentException] {
      Classifier.nbClassify(docs, model, buckets = B * 2)
    }
    assert(e2.getMessage.contains("layout mismatch") &&
      e2.getMessage.contains("buckets"))
    // merging/subtracting counts from two hash spaces is meaningless
    val e3 = intercept[IllegalArgumentException] {
      Classifier.nbCountsMerge(counts,
        Classifier.nbCountsBuild(docs, buckets = B * 2))
    }
    assert(e3.getMessage.contains("different layouts") &&
      e3.getMessage.contains("buckets"))
    val e4 = intercept[IllegalArgumentException] {
      Classifier.nbCountsSubtract(counts,
        Classifier.nbCountsBuild(docs, buckets = B * 2))
    }
    assert(e4.getMessage.contains("different layouts") &&
      e4.getMessage.contains("buckets"))
    // an unstamped (hand-assembled) frame still derives under any
    // geometry — the stamp gates persisted state, not ad-hoc frames
    val handRolled = counts.drop("buckets")
    assert(Classifier.nbModelFromCounts(handRolled, B).count() > 0)
    // DSIR side: same discipline on the importance-count state
    val pred = col("lang") === "en"
    val iCounts = Corpus.importanceCountsBuild(docs, pred, buckets = B)
    val e5 = intercept[IllegalArgumentException] {
      Corpus.importanceRatiosFromCounts(iCounts, buckets = B / 2)
    }
    assert(e5.getMessage.contains("layout mismatch") &&
      e5.getMessage.contains("buckets"))
    val e6 = intercept[IllegalArgumentException] {
      Corpus.importanceWeights(docs,
        Corpus.importanceRatiosFromCounts(iCounts, B), buckets = B * 2)
    }
    assert(e6.getMessage.contains("layout mismatch") &&
      e6.getMessage.contains("buckets"))
    val e7 = intercept[IllegalArgumentException] {
      Corpus.importanceCountsMerge(iCounts,
        Corpus.importanceCountsBuild(docs, pred, buckets = B * 2))
    }
    assert(e7.getMessage.contains("different layouts") &&
      e7.getMessage.contains("buckets"))
  }
}
