package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Admission, Classifier, Corpus, Dedup, Similarity, TextAnalysis, VectorIndex}
import graft.streaming.Streams

/** Every operator that caches an intermediate releases it on every
  * path: after it returns, and after a job inside it throws. Each case
  * runs the operator on a clean input, then on an input whose rows
  * throw (a throwing UDF, or a null text the shingler cannot split),
  * and asserts that neither run left a cache entry or a persistent RDD
  * behind — the style of DedupSpec's "a failing input leaves no
  * staging directory or cache entry behind".
  */
class StagedReleaseSpec extends AnyFunSuite {
  import SparkTestBase._

  private val boomText = udf { (t: String) =>
    if (t != null) throw new IllegalStateException("boom"); t
  }
  private val boomLong = udf { (x: Long) =>
    if (x >= 0) throw new IllegalStateException("boom"); x
  }
  private val boomVec = udf { (e: Seq[Float]) =>
    if (e != null) throw new IllegalStateException("boom"); e
  }

  private def docs = Tables.documents(spark, sfDir)
  private def failing(df: DataFrame) = df.withColumn("text", boomText(col("text")))
  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  /** A copy of the sf0.001 corpus whose every fifth document has a NULL
    * text: any shingle pass over it throws.
    */
  private lazy val nullTextDir: String = {
    val dir = tmp("graft-nulltext-")
    spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("text", when(col("doc_id") % 5 === 0, lit(null).cast("string"))
        .otherwise(col("text")))
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** One case: `ok` must return and `bad` must throw, each releasing
    * everything it cached.
    */
  private def releases(name: String)(ok: => Any)(bad: => Any): Unit =
    test(s"$name releases what it cached on return and on a throw") {
      assertReleased(s"$name (returning)")(ok)
      assertReleased(s"$name (throwing)")(intercept[Exception](bad))
    }

  // ---- the leak-on-throw paths: each cached before its first try ----

  releases("Dedup.clusterPairs") {
    Dedup.clusterPairs(spark.range(1, 4).select(col("id").as("d1"),
      (col("id") + 1).as("d2"))).count()
  } {
    Dedup.clusterPairs(spark.range(1, 4).select(boomLong(col("id")).as("d1"),
      (col("id") + 1).as("d2")))
  }

  releases("Corpus.contaminationBloomGated") {
    Corpus.contaminationBloomGated(docs, Seq("src0", "src1")).count()
  } {
    Corpus.contaminationBloomGated(failing(docs), Seq("src0", "src1"))
  }

  releases("Similarity.pqCodebooksTrained") {
    val emb = Tables.embeddings(spark, sfDir)
    Similarity.pqCodebooksTrained(emb, iters = 0).count()
    Similarity.pqCodebooksTrained(emb, iters = 1).count()
  } {
    Similarity.pqCodebooksTrained(Tables.embeddings(spark, sfDir)
      .withColumn("embedding", boomVec(col("embedding"))), iters = 1)
  }

  test("Streams.admissionPipeline releases each micro-batch's band table, committed or failed") {
    val base = tmp("graft-release-stream-")
    val src = s"$base/src"
    // two files → two micro-batches: the first admits cleanly, the
    // second carries NULL texts and throws in its band-state probe
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(src)
    docs.filter(col("doc_id") % 2 === 1)
      .withColumn("text", when(col("doc_id") % 5 === 1, lit(null).cast("string"))
        .otherwise(col("text")))
      .coalesce(1).write.mode("append").parquet(src)
    val stateDir = s"$base/bands"
    Dedup.writeBandState(Dedup.bandTable(docs.filter(col("doc_id") % 7 === 3),
      w = 5, numHashes = 8, bandWidth = 2), stateDir, "overwrite")
    val (lm, nb) = (TextAnalysis.bigramLmTrain(docs), Classifier.nbTrain(docs))
    assertReleased("admissionPipeline") {
      val q = Streams.admissionPipeline(spark, spark.read.parquet(src).schema,
        src, s"$base/out", s"$base/ck", Seq("src0", "src1"), _ => lit(false),
        0.3, None, lm, -3.40, nb, Seq("en"),
        nearDup = Some(Admission.NearDupCfg(spark.read.parquet(stateDir),
          w = 5, numHashes = 8, bandWidth = 2, stateDir = Some(stateDir))))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.awaitTermination())
    }
    assert(spark.read.parquet(s"$base/out").count() > 0,
      "the clean micro-batch must have committed its report")
  }

  releases("TextAnalysis.bpeMerges") {
    TextAnalysis.bpeMerges(docs, rounds = 3).count()
    // every word a single symbol: the first round returns early
    TextAnalysis.bpeMerges(docs.select(lit("a b c").as("text")), rounds = 3)
      .count()
  } {
    TextAnalysis.bpeMerges(failing(docs), rounds = 3)
  }

  Seq("dedup_incremental_near_verified", "stats_rebuild_forget").foreach { q =>
    releases(s"registered query $q") {
      SparkEntry.queries(q)(spark, sfDir).count()
    } {
      SparkEntry.queries(q)(spark, nullTextDir).count()
    }
  }

  // ---- query scratch directories: deleted on a throw too ----

  Seq("stats_rebuild_forget", "corpus_admission_report_state",
    "dedup_state_append", "stream_corpus_clean").foreach { q =>
    test(s"registered query $q leaves no temp entry behind when it throws") {
      val dir = nullTextDir
      val added = newTmpEntries("graft")(
        intercept[Exception](SparkEntry.queries(q)(spark, dir).count()))
      assert(added.isEmpty, s"$q left $added behind")
    }
  }

  // ---- every other migrated call site ----

  test("registered query stats_sketch_state releases its token table") {
    // a NULL text tokenizes to no rows, so this one has no throwing input
    assertReleased("stats_sketch_state")(
      SparkEntry.queries("stats_sketch_state")(spark, sfDir).count())
  }

  private def seen = docs.filter(col("doc_id") % 2 === 0)
  private def incoming = docs.filter(col("doc_id") % 2 === 1)
  private def seenBands = Dedup.bandTable(seen, w = 3, numHashes = 8, bandWidth = 2)
  private def bandState(): String = {
    val dir = tmp("graft-release-bands-") + "/state"
    Dedup.writeBandState(seenBands, dir, "overwrite")
    dir
  }

  releases("Dedup.incrementalNearDup") {
    Dedup.incrementalNearDup(incoming, seenBands).count()
  } {
    Dedup.incrementalNearDup(failing(incoming), seenBands)
  }

  releases("Dedup.incrementalNearDupFromState") {
    Dedup.incrementalNearDupFromState(spark, incoming, bandState()).count()
  } {
    Dedup.incrementalNearDupFromState(spark, failing(incoming), bandState())
  }

  releases("Dedup.admitAndMaintainState") {
    Dedup.admitAndMaintainState(spark, incoming, bandState()).count()
  } {
    Dedup.admitAndMaintainState(spark, failing(incoming), bandState())
  }

  releases("Dedup.incrementalNearDupVerified") {
    val sigs = Dedup.signatureTable(seen)
    Dedup.incrementalNearDupVerified(incoming,
      Dedup.bandTableFromSignatures(sigs, bandWidth = 2), sigs).count()
  } {
    val sigs = Dedup.signatureTable(seen)
    Dedup.incrementalNearDupVerified(failing(incoming),
      Dedup.bandTableFromSignatures(sigs, bandWidth = 2), sigs)
  }

  releases("VectorIndex.build and append") {
    val dir = tmp("graft-release-vidx-") + "/index"
    val emb = Tables.embeddings(spark, sfDir)
    VectorIndex.build(emb.filter(col("vec_id") % 2 === 0), dir)
    VectorIndex.append(spark, dir, emb.filter(col("vec_id") % 2 === 1))
  } {
    val dir = tmp("graft-release-vidx-") + "/index"
    val emb = Tables.embeddings(spark, sfDir)
    VectorIndex.build(emb, dir)
    VectorIndex.append(spark, dir, emb.select(
      boomLong(col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
  }

  releases("Pipeline.runCorpusEtl") {
    graft.plans.Pipeline.runCorpusEtl(spark, sfDir, tmp("graft-release-etl-"))
  } {
    graft.plans.Pipeline.runCorpusEtl(spark, sfDir, tmp("graft-release-etl-"),
      probe = (stage, _) =>
        if (stage == "near_dup_clusters") throw new IllegalStateException("boom"))
  }
}
