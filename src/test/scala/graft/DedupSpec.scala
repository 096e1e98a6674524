package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Dedup

class DedupSpec extends AnyFunSuite {
  import SparkTestBase._
  import spark.implicits._

  private val fixture = Seq(
    (0L, "the quick brown fox jumps over the lazy dog today"),
    (1L, "the quick brown fox jumps over the lazy dog today"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat today"), // near dup
    (3L, "completely different words about spark query engines here"),
    (4L, "one two"), // shorter than the shingle width
  ).toDF("doc_id", "text")

  /** A rewrite leaves exactly one new directory: its output table, which
    * the returned frame reads cold (the staged shingles are gone).
    */
  private def assertRewriteOutputOnly(prefix: String,
                                      rewrite: => org.apache.spark.sql.DataFrame)
      : Array[org.apache.spark.sql.Row] = {
    var out: org.apache.spark.sql.DataFrame = null
    val added = newTmpEntries(prefix) { out = rewrite }
    assert(added.size === 1, s"$prefix: expected one output directory, got $added")
    val dir = added.head
    assert(dir.toFile.list().toSeq === Seq("out"),
      s"$prefix: staged shingles must not outlive the rewrite")
    assert(out.inputFiles.nonEmpty &&
      out.inputFiles.forall(_.contains(dir.resolve("out").toString)),
      s"$prefix: returned frame must read its output table")
    assert(cacheIsEmpty, s"$prefix left a cache entry behind")
    val rows = out.collect()
    assert(spark.read.parquet(dir.resolve("out").toString).collect()
      .sortBy(_.getLong(0)).toSeq === rows.sortBy(_.getLong(0)).toSeq)
    rows
  }

  test("exact dedup groups identical texts and keeps the min id") {
    val out = Dedup.exact(fixture).filter(col("n_copies") > 1).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("keeper") === 0L)
    assert(out.head.getAs[Long]("n_copies") === 2L)
  }

  test("ngram jaccard finds exact and near duplicates, skips short docs") {
    var pairs: Array[(Long, Long, Double)] = null
    // the shingle table is staged to parquet, and gone once the call returns
    assert(newTmpEntries("graft-ngram-stage-") {
      pairs = Dedup.ngramJaccard(fixture, w = 3, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    }.isEmpty, "ngramJaccard left its staging directory behind")
    assert(cacheIsEmpty, "ngramJaccard left a cache entry behind")
    assert(pairs.exists(p => p._1 == 0 && p._2 == 1 && p._3 == 1.0)) // identical
    assert(pairs.exists(p => p._1 == 0 && p._2 == 2 && p._3 > 0.5))  // near
    assert(!pairs.exists(p => p._1 == 4 || p._2 == 4)) // too short to shingle
  }

  test("minhash LSH detects identical documents with certainty") {
    // identical shingle sets → identical signatures → same bucket, jac 1.0
    val out = Dedup.minhashLsh(fixture, w = 3, numHashes = 8, bandWidth = 2,
      threshold = 0.99)
    val hits = out.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hits.contains((0L, 1L)))
  }

  test("minhash LSH candidates are verified: no pair below the threshold escapes") {
    val out = Dedup.minhashLsh(fixture, w = 3, numHashes = 8, bandWidth = 2,
      threshold = 0.9).collect()
    out.foreach(r => assert(r.getDouble(2) >= 0.9))
  }

  test("bucket cap drops hot-bucket pairs only; uncapped pairs are a superset") {
    import spark.implicits._
    // a boilerplate corpus: five documents sharing one identical text
    // (every band bucket they occupy has 5 members) plus one near-dup
    // pair of distinct text (buckets of 2).
    val boiler = (0L to 4L).map(i => (i, "common header text repeated across the site today"))
    val pair = Seq(
      (10L, "a unique sentence about distributed shuffles and joins"),
      (11L, "a unique sentence about distributed shuffles and join"))
    val docs = (boiler ++ pair).toDF("doc_id", "text")
    val uncapped = Dedup.minhashLsh(docs, w = 3, numHashes = 8,
      bandWidth = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.minhashLsh(docs, w = 3, numHashes = 8,
      bandWidth = 2, threshold = 0.5, maxBucketSize = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the boilerplate clique (10 pairs) is suppressed — that is the
    // quadratic fanout the cap exists to bound...
    assert(!capped.exists { case (a, b) => a <= 4 && b <= 4 })
    // ...while the informative near-dup pair survives (its buckets are
    // under the cap), and nothing NEW appears.
    assert(capped.contains((10L, 11L)))
    assert(capped.subsetOf(uncapped))
    assert(uncapped.exists { case (a, b) => a <= 4 && b <= 4 })
  }

  test("simhash: identical docs share a signature; near dups are close in hamming") {
    val sigs = Dedup.simhash16(fixture).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sigs(0L) === sigs(1L))
    val hammingNear = Integer.bitCount(sigs(0L) ^ sigs(2L))
    val hammingFar = Integer.bitCount(sigs(0L) ^ sigs(3L))
    assert(hammingNear < hammingFar)
  }

  test("LSH agrees with exhaustive jaccard on the driver corpus at threshold 0.8") {
    val docs = Tables.documents(spark, sfDir)
    val exhaustive = Dedup.ngramJaccard(docs, w = 3, threshold = 0.8)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(docs, w = 3, numHashes = 8, bandWidth = 2, threshold = 0.8)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // verification step guarantees precision; near-identical dups make recall 1.0 here
    assert(lsh.subsetOf(exhaustive))
    assert(lsh === exhaustive)
  }

  test("clusterPairs resolves transitive chains into min-id components") {
    import spark.implicits._
    // chain 1-2-3 (2 and 3 never directly paired) + island 7-9 + singleton pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L), (20L, 21L))
      .toDF("d1", "d2")
    val got = Dedup.clusterPairs(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      7L -> 7L, 9L -> 7L, 20L -> 20L, 21L -> 20L))
  }

  test("incremental dedup drops replayed content and collapses in-batch copies") {
    import spark.implicits._
    val seen = Seq("old text one", "old text two").toDF("text")
      .select(org.apache.spark.sql.functions.md5($"text").as("content_hash"))
    val incoming = Seq(
      (10L, "brand new"),
      (11L, "old text one"),   // replay of seen content → dropped
      (12L, "brand new"),      // in-batch copy → loses to id 10
      (13L, "also new"))
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalExact(incoming, seen)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(10L, 13L))
  }

  test("keepBestPerCluster keeps the highest quality copy, ties to the smaller id") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("doc_id", "cluster_id")
    val quality = Seq((1L, 10L), (2L, 50L), (3L, 50L), (7L, 5L), (9L, 5L))
      .toDF("doc_id", "n_chars")
    val got = Dedup.keepBestPerCluster(clusters, quality, "n_chars")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // cluster 1: docs 2 and 3 tie at quality 50 → smaller id 2 wins
    assert(got(1L) === ((2L, 50L, 3L)))
    // cluster 7: tie at 5 → doc 7
    assert(got(7L) === ((7L, 5L, 2L)))
  }

  test("incremental admission fails loudly on a band-layout mismatch") {
    // state built with one layout, admission called with another: bucket
    // keys could never collide, so everything would be silently admitted
    // — the operator must raise instead.
    val seenBands = Dedup.bandTable(fixture, w = 3, numHashes = 8, bandWidth = 2)
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDup(fixture, seenBands,
        w = 5, numHashes = 8, bandWidth = 2)
    }
    assert(e.getMessage.contains("layout mismatch"))
    assert(e.getMessage.contains("w=3") && e.getMessage.contains("w=5"))
    // a band frame WITHOUT layout columns (hand-built, pre-upgrade) is
    // rejected too — silent admission is never an acceptable default.
    val bare = seenBands.select("doc_id", "band", "bkey")
    val e2 = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDup(fixture, bare, w = 3, numHashes = 8, bandWidth = 2)
    }
    assert(e2.getMessage.contains("lacks layout columns"))
    // an EMPTY state table validates trivially: admitting everything
    // against an empty corpus is correct, not an error.
    val kept = Dedup.incrementalNearDup(
      fixture.filter(col("doc_id") === 3), seenBands.filter(lit(false)),
      w = 3, numHashes = 8, bandWidth = 2)
    assert(kept.count() === 1)
  }

  test("bands derived from persisted signatures equal the direct band table") {
    val direct = Dedup.bandTable(fixture, w = 3, numHashes = 8, bandWidth = 2)
    val derived = Dedup.bandTableFromSignatures(
      Dedup.signatureTable(fixture, w = 3, numHashes = 8), bandWidth = 2)
    val cols = direct.columns.sorted.map(col).toSeq
    assert(derived.columns.sorted === direct.columns.sorted)
    assert(direct.select(cols: _*).exceptAll(derived.select(cols: _*)).count() === 0)
    assert(derived.select(cols: _*).exceptAll(direct.select(cols: _*)).count() === 0)
  }

  test("verified admission rejects true dups, buys back candidate-level false rejects") {
    val docs = Tables.documents(spark, sfDir)
    val seenSrc = (0 to 9).map(i => s"src$i")
    val seen = docs.filter(col("source").isin(seenSrc: _*))
    val incoming = docs.filter(!col("source").isin(seenSrc: _*))
    val bands = Dedup.bandTable(seen, w = 5, numHashes = 8, bandWidth = 2)
    val sigs = Dedup.signatureTable(seen, w = 5, numHashes = 8)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val candidateAdmits = ids(Dedup.incrementalNearDup(
      incoming, bands, w = 5, numHashes = 8, bandWidth = 2))
    val verifiedAdmits = ids(Dedup.incrementalNearDupVerified(
      incoming, bands, sigs, w = 5, numHashes = 8, bandWidth = 2,
      minEstJaccard = 0.5))
    // verification can only RESCUE docs the candidate-level form rejected
    // on a sub-threshold collision — never reject more.
    assert(candidateAdmits.subsetOf(verifiedAdmits),
      "verified admission must admit a superset of candidate-level admission")
    // an exact replay of seen content has est-Jaccard 1.0: still rejected.
    val incomingIds = ids(incoming)
    val rejectedByBoth = incomingIds -- verifiedAdmits
    assert(rejectedByBoth.nonEmpty,
      "driver corpus contains seen-content replays that must stay rejected")
    // the measured false-reject buy-back on the driver corpus.
    val candRejected = incomingIds -- candidateAdmits
    val rescued = verifiedAdmits -- candidateAdmits
    val rate = if (candRejected.isEmpty) 0.0
      else rescued.size.toDouble / candRejected.size
    info(f"candidate-level rejected ${candRejected.size}, verified rescued " +
      f"${rescued.size} (false-reject rate bought back: ${rate * 100}%.1f%%)")
    assert(rate >= 0.0 && rate <= 1.0)
  }

  test("near-dup operators release their internal shingle cache") {
    val docs = Tables.documents(spark, sfDir)
    spark.catalog.clearCache()
    Dedup.ngramJaccard(docs, w = 3, threshold = 0.8).count()
    assert(org.apache.spark.sql.graftbridge.Bridge.cacheIsEmpty(spark),
      "ngramJaccard left a cache entry behind")
    Dedup.minhashLsh(docs, w = 3, numHashes = 8, bandWidth = 2, threshold = 0.8).count()
    assert(org.apache.spark.sql.graftbridge.Bridge.cacheIsEmpty(spark),
      "minhashLsh left a cache entry behind")
  }

  test("LSH embedding dedup: candidates come from bucket joins, results are exact") {
    val emb = Tables.embeddings(spark, sfDir)
    val lsh = Dedup.embeddingCosinePairsLsh(emb, threshold = 0.42)
    // scale shape: the candidate join is an equi-join on (band, bkey) —
    // never a nested-loop cross product.
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"LSH pair join must not be a cross product:\n$plan")
    // precision 1 within recall: every emitted pair is a genuine pair of
    // the exhaustive kernel, with the same similarity value.
    val all = Dedup.embeddingCosinePairs(emb, threshold = 0.42)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = lsh.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(got.nonEmpty, "banded dedup should surface at least one pair")
    got.foreach { case (k, sim) => assert(all.get(k).contains(sim)) }
  }

  test("embedding LSH cap drops hot buckets only; capped pairs are a subset") {
    val emb = Tables.embeddings(spark, sfDir)
    def pairs(cap: Int) =
      Dedup.embeddingCosinePairsLsh(emb, threshold = 0.42, maxBucketSize = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Int.MaxValue)
    // bucket-size distribution: pick a cap that BINDS (some bucket
    // exceeds it) so the exclusion semantics are exercised, not a no-op.
    val sizes = graft.ext.Similarity.withBandKeys(emb, "vid", 16, 4, 64)
      .groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("n"))
      .select("n").collect().map(_.getLong(0))
    val cap = (sizes.min + sizes.max).toInt / 2
    assume(sizes.max > cap, "distribution too flat to bind at this SF")
    val capped = pairs(cap)
    assert(capped.subsetOf(exact), "cap may only DROP pairs, never invent them")
    assert(capped.size < exact.size, "a binding cap must drop hot-bucket pairs")
    // an identical-embedding flood signs identically on every plane: the
    // capped form must stay bounded instead of emitting k²/2 pairs.
    val flood = spark.range(20000).select(col("id").as("vec_id"),
      org.apache.spark.sql.functions.array(
        (0 until 64).map(i => lit(math.sin(i + 1).toFloat)): _*).as("embedding"))
    val t0 = System.nanoTime()
    val n = Dedup.embeddingCosinePairsLsh(flood, threshold = 0.9, maxBucketSize = 64)
      .count()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"20k-identical-embedding flood, cap 64: $n pairs in $secs%.1f s")
    assert(n === 0, "every flood bucket exceeds the cap — no pairs may emit")
    assert(secs < 60.0, f"capped flood took $secs%.1f s — exclusion is not pre-join")
  }

  test("repeated spans: overlapping duplicated windows merge, coverage is exact") {
    val docs = Seq(
      (10L, "a b c d e f g h i j unique1 unique2 unique3"),
      (11L, "a b c d e f g h i j other4 other5"),
      (12L, "totally different text with no shared span at all xyz qq")
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(docs, w = 8, minDocs = 2).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // 10-token shared run -> 8-token windows at starts 1..3, all
    // duplicated, merging into ONE span covering tokens 1..10
    assert(out.keySet === Set(10L, 11L))
    assert(out(10L) === ((13L, 3L, 1L, 10L)))
    assert(out(11L) === ((12L, 3L, 1L, 10L)))
  }

  test("repeated spans: disjoint duplicated regions stay separate spans") {
    val docs = Seq(
      (20L, "s1 s2 s3 s4 s5 s6 s7 s8 mid1 mid2 mid3 t1 t2 t3 t4 t5 t6 t7 t8"),
      (21L, "s1 s2 s3 s4 s5 s6 s7 s8 zot1 zot2 zot3 t1 t2 t3 t4 t5 t6 t7 t8")
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(docs, w = 8, minDocs = 2).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // two shared 8-token blocks with non-shared middles: windows at
    // s=1 and s=12 only -> two spans, 16 covered tokens of 19
    assert(out(20L) === ((19L, 2L, 2L, 16L)))
    assert(out(21L) === ((19L, 2L, 2L, 16L)))
  }

  test("repeated spans: equi-joins only — no pair blow-up in the plan") {
    val docs = Seq(
      (10L, "a b c d e f g h i j unique1 unique2 unique3"),
      (11L, "a b c d e f g h i j other4 other5")
    ).toDF("doc_id", "text")
    // audit the PRE-checkpoint plan (repeatedSpans truncates lineage on
    // return): the duplicated-set groupBy must flow into an equi-join
    // back to positions — never a nested-loop/cartesian pair join.
    val pos = Dedup.positionalShingles(docs, 8)
    val plan = Dedup.repeatedSpansOn(docs, pos, 8, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"span candidates must come from an equi-join:\n$plan")
  }

  test("maximal spans: variable-length detection — threshold binds, adjacent coverage fuses") {
    // a 14-token shared run: windows at 7 consecutive starts, fusing
    // into ONE maximal span of exactly the run's extent in each holder
    val docs = Seq(
      (50L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12 a13 a14 u1 u2"),
      (51L, "z1 a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12 a13 a14 z2")
    ).toDF("doc_id", "text")
    val out = Dedup.maximalRepeatedSpans(docs, w = 8, minDocs = 2,
        minLen = 12).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out === Map(50L -> ((1L, 14L, 14L)), 51L -> ((2L, 15L, 14L))))
    // a 10-token shared run covers only 10 positions — below minLen=12
    // it must NOT surface, even though the fixed-w family reports it
    val short = Seq(
      (60L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 uq1 uq2 uq3"),
      (61L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 oth1 oth2")
    ).toDF("doc_id", "text")
    assert(Dedup.maximalRepeatedSpans(short, w = 8, minDocs = 2,
      minLen = 12).count() === 0L)
    // ADJACENT coverage from different partners fuses into one span:
    // doc 70's first 8 tokens are shared with 71, its next 8 with 72 —
    // no single window crosses the seam, but the covered positions are
    // contiguous, so doc 70 reports ONE 16-token span; the partners'
    // own 8-token covers stay below the threshold
    val adj = Seq(
      (70L, "A1 A2 A3 A4 A5 A6 A7 A8 B1 B2 B3 B4 B5 B6 B7 B8"),
      (71L, "A1 A2 A3 A4 A5 A6 A7 A8 only71"),
      (72L, "pre72 B1 B2 B3 B4 B5 B6 B7 B8")
    ).toDF("doc_id", "text")
    val adjOut = Dedup.maximalRepeatedSpans(adj, w = 8, minDocs = 2,
        minLen = 12).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(adjOut === Map(70L -> ((1L, 16L, 16L))))
    // a threshold the window width cannot certify refuses
    val e = intercept[IllegalArgumentException] {
      Dedup.maximalRepeatedSpans(docs, w = 8, minDocs = 2, minLen = 5)
    }
    assert(e.getMessage.contains("must be >="))
  }

  test("maximal spans: equi-joins only — no pair blow-up in the plan") {
    val docs = Seq(
      (50L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12 a13 a14 u1 u2"),
      (51L, "z1 a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12 a13 a14 z2")
    ).toDF("doc_id", "text")
    // audit the PRE-checkpoint plan (maximalRepeatedSpans truncates
    // lineage on return): duplicated windows come from the hash-keyed
    // groupBy, coverage from an equi-join back to positions — never a
    // nested-loop/cartesian pair term
    val pos = Dedup.positionalShingles(docs, 8)
    val plan = Dedup.maximalRepeatedSpansOn(pos, 8, 2, 12)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"span coverage must come from an equi-join:\n$plan")
  }

  test("maximal span removal: long runs cut from non-canonical holders, short shared phrases survive") {
    val docs = Seq(
      (10L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12 a13 a14 u1 u2"),
      (11L, "z1 a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12 a13 a14 z2"),
      // an 8-token shared block: the fixed-w remover would cut it from
      // doc 21, but at minLen=12 it is language, not boilerplate
      (20L, "p1 p2 p3 p4 p5 p6 p7 p8 tail20"),
      (21L, "head21 p1 p2 p3 p4 p5 p6 p7 p8")
    ).toDF("doc_id", "text")
    val out = assertRewriteOutputOnly("graft-maxspan-rewrite-",
        Dedup.removeMaximalSpans(docs, w = 8, minDocs = 2, minLen = 12))
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(10L) === ((16L, 0L,
      "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12 a13 a14 u1 u2")),
      "canonical holder keeps the run")
    assert(out(11L) === ((16L, 14L, "z1 z2")),
      "non-canonical 14-token run is cut whole")
    assert(out(20L) === ((9L, 0L, "p1 p2 p3 p4 p5 p6 p7 p8 tail20")))
    assert(out(21L) === ((9L, 0L, "head21 p1 p2 p3 p4 p5 p6 p7 p8")),
      "8-token shared phrase is below the threshold — survives")
  }

  test("span removal: canonical doc keeps its text, others lose merged spans") {
    val docs = Seq(
      (10L, "a b c d e f g h i j u1 u2 u3"),
      (11L, "z1 a b c d e f g h i j z2"),
      (12L, "nothing shared here at all ok fine yes")
    ).toDF("doc_id", "text")
    val out = Dedup.removeCrossDocSpans(docs, w = 8, minDocs = 2).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // the 10-token shared run's three 8-windows are all canonical in
    // doc 10 (min id) — doc 10 survives verbatim; doc 11's overlapping
    // occurrences merge into one cut of tokens 2..11
    assert(out(10L) === ((13L, 0L, "a b c d e f g h i j u1 u2 u3")))
    assert(out(11L) === ((12L, 10L, "z1 z2")))
    assert(out(12L) === ((8L, 0L, "nothing shared here at all ok fine yes")))
  }

  test("span removal: a whole-boilerplate doc is reduced to empty text") {
    val docs = Seq(
      (40L, "p q r s t u v w y"),
      (41L, "p q r s t u v w"),
      (42L, "short doc")
    ).toDF("doc_id", "text")
    val out = Dedup.removeCrossDocSpans(docs, w = 8, minDocs = 2).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 41 IS one duplicated window whose canonical home is doc 40:
    // every token is cut, and the rewrite emits the row with '' —
    // a downstream filter on n_dropped/n_tokens decides retention.
    assert(out(40L) === ((9L, 0L, "p q r s t u v w y")))
    assert(out(41L) === ((8L, 8L, "")))
    // shorter than w: produces no windows, can never be cut
    assert(out(42L) === ((2L, 0L, "short doc")))
  }

  test("span removal: equi-joins only, hash-keyed shuffles, no cache left behind") {
    val docs = Seq(
      (10L, "a b c d e f g h i j u1 u2 u3"),
      (11L, "z1 a b c d e f g h i j z2")
    ).toDF("doc_id", "text")
    val plan = Dedup.removeCrossDocSpansOn(docs,
        Dedup.positionalShingles(docs, 8), 8, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"cut positions must come from equi-joins:\n$plan")
    // the warehouse-form audit: no exchange partitions on the window
    // TEXT — the dup-detect/cover shuffles carry the 128-bit (h1, h2)
    // window hash (map-side computed; pruning drops `sh` pre-exchange)
    assert(!plan.matches("(?s).*hashpartitioning\\([^)]*\\bsh#.*"),
      s"a shuffle still carries window text as its key:\n$plan")
    Dedup.removeCrossDocSpans(docs, w = 8).count()
    assert(org.apache.spark.sql.graftbridge.Bridge.cacheIsEmpty(spark),
      "removeCrossDocSpans left a cache entry behind")
  }

  test("span removal: hash-keyed kernel matches the text-keyed oracle-parity form") {
    val docs = Tables.documents(spark, sfDir)
    val pos = Dedup.positionalShingles(docs, 8).persist()
    try {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).sortBy(_._1).toSeq
      val hashed = rows(Dedup.removeCrossDocSpansOn(docs, pos, 8, 2))
      val text = rows(Dedup.removeCrossDocSpansTextKeyed(docs, pos, 8, 2))
      assert(hashed === text,
        "128-bit window-hash grouping diverged from text grouping")
    } finally pos.unpersist(blocking = false)
  }

  test("span removal: output reads cold from parquet, no staged shingles remain") {
    val docs = Seq(
      (10L, "a b c d e f g h i j u1 u2 u3"),
      (11L, "z1 a b c d e f g h i j z2"),
      (12L, "nothing shared here at all ok fine yes")
    ).toDF("doc_id", "text")
    val rows = assertRewriteOutputOnly("graft-span-rewrite-",
        Dedup.removeCrossDocSpans(docs, w = 8))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq
    assert(rows === Seq(
      (10L, 13L, 0L, "a b c d e f g h i j u1 u2 u3"),
      (11L, 12L, 10L, "z1 z2"),
      (12L, 8L, 0L, "nothing shared here at all ok fine yes")))
  }

  test("detection paths leave no staging directory and no cache entry") {
    // the detectors stage their shingle tables to parquet and return an
    // eagerly materialized result: nothing staged outlives the call
    val docs = fixture
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(p => (p._1, p._2)).toSeq
    var lsh: Seq[(Long, Long, Double)] = null
    assert(newTmpEntries("graft-lsh-stage-") {
      lsh = pairs(Dedup.minhashLsh(docs, w = 3, numHashes = 8,
        bandWidth = 2, threshold = 0.5))
    }.isEmpty, "minhashLsh left its staging directory behind")
    assert(lsh.contains((0L, 1L, 1.0)), "identical docs must pair")

    val spanDocs = Seq(
      (0L, "a b c d e f g h i j"), (1L, "a b c d e f g h i j k l m n")
    ).toDF("doc_id", "text")
    def spanRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
    var spans: Seq[Seq[Any]] = null
    assert(newTmpEntries("graft-span-stage-") {
      spans = spanRows(Dedup.repeatedSpans(spanDocs, w = 8, minDocs = 2))
    }.isEmpty, "repeatedSpans left its staging directory behind")
    // windows starting at 1..3 are shared: one 10-token span per doc
    assert(spans === Seq(Seq(0L, 10L, 3L, 1L, 10L), Seq(1L, 14L, 3L, 1L, 10L)))
    var maximal: Seq[Seq[Any]] = null
    assert(newTmpEntries("graft-maxspan-stage-") {
      maximal = spanRows(Dedup.maximalRepeatedSpans(spanDocs, w = 8,
        minDocs = 2, minLen = 8))
    }.isEmpty, "maximalRepeatedSpans left its staging directory behind")
    assert(maximal === Seq(Seq(0L, 1L, 10L, 10L), Seq(1L, 1L, 10L, 10L)))
    assert(cacheIsEmpty, "detection paths must not persist anything")
  }

  test("a NULL text is refused with an error naming the operator and the doc") {
    val docs = fixture.union(Seq((42L, null: String)).toDF("doc_id", "text"))
    Seq[(String, () => Any)](
      "Dedup.shingles" -> (() => Dedup.shingles(docs, w = 3).collect()),
      "Dedup.positionalShingles" -> (() =>
        Dedup.positionalShingles(docs, w = 3).collect())
    ).foreach { case (op, run) =>
      val e = intercept[Exception](run())
      val refusal = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).collectFirst {
          case iae: IllegalArgumentException => iae.getMessage
        }
      assert(refusal.exists(m => m.contains(op) && m.contains("doc_id 42")),
        s"$op: expected an IllegalArgumentException naming doc_id 42, got $e")
    }
  }

  test("a failing input leaves no staging directory or cache entry behind") {
    // the text column throws when the staging write evaluates it: every
    // operator must remove the directory it created, output included
    val boom = udf { (t: String) =>
      if (t != null) throw new IllegalStateException("boom"); t
    }
    val docs = fixture.withColumn("text", boom(col("text")))
    Seq[(String, () => Any)](
      "graft-ngram-stage-" -> (() =>
        Dedup.ngramJaccard(docs, w = 3, threshold = 0.5)),
      "graft-lsh-stage-" -> (() =>
        Dedup.minhashLsh(docs, w = 3, numHashes = 8, bandWidth = 2)),
      "graft-span-stage-" -> (() => Dedup.repeatedSpans(docs, w = 8)),
      "graft-maxspan-stage-" -> (() =>
        Dedup.maximalRepeatedSpans(docs, w = 8, minLen = 8)),
      "graft-span-rewrite-" -> (() => Dedup.removeCrossDocSpans(docs, w = 8)),
      "graft-maxspan-rewrite-" -> (() =>
        Dedup.removeMaximalSpans(docs, w = 8, minLen = 8))
    ).foreach { case (prefix, op) =>
      val added = newTmpEntries(prefix)(intercept[Exception](op()))
      assert(added.isEmpty, s"$prefix left $added behind after a failure")
      assert(cacheIsEmpty, s"$prefix left a cache entry behind after a failure")
    }
  }

  test("single-signature sweep: staged shingles+signatures reproduce every band width, banding never re-shingles") {
    // round 15 (verdict item 2): a banding sweep computes the corpus
    // shingle table and the 8-hash signature table ONCE (both staged)
    // and derives each band width as a projection of the signatures —
    // the round-14 form re-ran the full shingle→minhash pipeline per
    // width. Laws: (a) pairsFromBands over bandTableFromSignatures
    // equals the one-shot minhashLsh at every width; (b) the per-width
    // band table's plan reads ONLY the staged signature files — no
    // shingle machinery, no docs scan; (c) nothing persists.
    val docs = fixture
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(p => (p._1, p._2)).toSeq
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-sweep-staged-").toString
    Dedup.shingles(docs, w = 3).write.parquet(s"$tmp/shingles")
    val tri = spark.read.parquet(s"$tmp/shingles")
    Dedup.signatureTableFromShingles(tri, w = 3, numHashes = 8)
      .write.parquet(s"$tmp/sigs")
    val sigs = spark.read.parquet(s"$tmp/sigs")
    Seq(1, 2, 4).foreach { bw =>
      val bands = Dedup.bandTableFromSignatures(sigs, bandWidth = bw)
      val plan = bands.queryExecution.executedPlan.toString
      assert(pairs(Dedup.pairsFromBands(tri, bands, threshold = 0.5)) ===
        pairs(Dedup.minhashLsh(docs, w = 3, numHashes = 8, bandWidth = bw,
          threshold = 0.5)),
        s"band width $bw: staged-signature sweep leg must equal the " +
          "one-shot pipeline")
      // the banding projection must read the staged signature files,
      // never re-derive them from text: no md5/shingle machinery and
      // no scan of anything but the staged sigs table in its plan
      assert(plan.contains("sigs"), s"bands must scan the staged sigs:\n$plan")
      assert(!plan.contains("md5"),
        s"banding a persisted signature table must not re-minhash:\n$plan")
    }
    // the exact leg over the same staged shingles matches ngramJaccard
    assert(pairs(Dedup.ngramJaccardOnShingles(tri, threshold = 0.5)) ===
      pairs(Dedup.ngramJaccard(docs, w = 3, threshold = 0.5)))
    assert(org.apache.spark.sql.graftbridge.Bridge.cacheIsEmpty(spark),
      "sweep legs must not persist anything")
    graft.plans.Pipeline.deleteRecursively(java.nio.file.Paths.get(tmp))
  }

  test("repeated spans leaves no cache entries behind") {
    val docs = Seq(
      (0L, "a b c d e f g h i j"), (1L, "a b c d e f g h i j")
    ).toDF("doc_id", "text")
    Dedup.repeatedSpans(docs, w = 8).count()
    assert(org.apache.spark.sql.graftbridge.Bridge.cacheIsEmpty(spark),
      "repeatedSpans left a cache entry behind")
  }

  // ---- adversarial skew: a boilerplate flood (N identical docs in ONE
  // batch) is the workload incremental admission exists for. Every
  // band bucket is maximally hot; a pairwise bucket self-join would
  // enumerate ~N²/2 pairs per band in a single partition.

  private def floodDocs(n: Int) =
    spark.range(n).select(col("id").as("doc_id"),
      lit("the same boilerplate sentence repeated in every flooded doc").as("text"))

  private def emptyState =
    Dedup.bandTable(fixture.limit(0), w = 3, numHashes = 8, bandWidth = 2)

  test("within-batch admission stays linear under a boilerplate flood") {
    // The within-batch leg is a groupBy-min + lookup join (O(n)); the
    // flood's hot buckets reduce to one aggregated row each. Pin the
    // linearity by wall-clock RATIO at two N (linear ≈ 4×, quadratic
    // ≈ 16× in pair volume — and the pairs land in one partition, so
    // quadratic also single-threads) plus an absolute ceiling the old
    // pairwise form could not meet at this N. Small run goes first:
    // JIT warmup inflates t1, which only SHRINKS the ratio — the
    // conservative direction.
    def timeAdmit(n: Int): (Long, Double) = {
      val t0 = System.nanoTime()
      val admitted = Dedup.incrementalNearDup(floodDocs(n), emptyState,
        w = 3, numHashes = 8, bandWidth = 2)
      val ids = admitted.select("doc_id").collect().map(_.getLong(0))
      assert(ids.toSeq === Seq(0L),
        s"flood of $n identical docs must admit exactly the min id")
      (n.toLong, (System.nanoTime() - t0) / 1e9)
    }
    val (_, t1) = timeAdmit(12500)
    val (_, t2) = timeAdmit(50000)
    info(f"flood admission: 12.5k in $t1%.1f s, 50k in $t2%.1f s (ratio ${t2 / t1}%.1f)")
    assert(t2 / t1 < 8.0,
      f"4x the flood cost ${t2 / t1}%.1fx the time — admission is not linear")
    assert(t2 < 120.0,
      f"50k-doc flood took $t2%.1f s — the quadratic pairwise leg is back")
  }

  test("verified admission at the DEFAULT config stays bounded and REJECTS the flood") {
    // the registered/default configuration (maxPartners = 8): phase 1
    // verifies each flooded doc against the bucket's 8 smallest ids
    // (est-Jaccard 1.0 → rejected), so the phase-2 expansion is empty
    // and pair volume is O(n × cap × nBands) — never the ~n²/2 pairs
    // the unphased bucket self-join would enumerate in one partition.
    val emptySigs = Dedup.signatureTable(fixture.limit(0), w = 3, numHashes = 8)
    val t0 = System.nanoTime()
    val admitted = Dedup.incrementalNearDupVerified(
      floodDocs(50000), emptyState, emptySigs,
      w = 3, numHashes = 8, bandWidth = 2, minEstJaccard = 0.5)
    val ids = admitted.select("doc_id").collect().map(_.getLong(0))
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"verified flood admission (default cap): $secs%.1f s")
    assert(ids.toSeq === Seq(0L),
      "a default-config verified flood must still reject everything but the min id")
    assert(secs < 120.0,
      f"default-config verified flood took $secs%.1f s — pair generation is not bounded")
  }

  test("partitioned band state: admission scans only the batch's probed cells") {
    val docs = Tables.documents(spark, sfDir)
    val seen = docs.filter(col("doc_id") % 4 =!= 0)
    val incoming = docs.filter(col("doc_id") % 4 === 0 && col("doc_id") < 20)
    val dir = java.nio.file.Files.createTempDirectory("graft-band-state-").toString + "/bands"
    Dedup.writeBandState(
      Dedup.bandTable(seen, w = 5, numHashes = 8, bandWidth = 2),
      dir, mode = "errorifexists")
    val totalFiles = spark.read.parquet(dir)
      .select(input_file_name()).distinct().count()
    val probe = Dedup.bandTable(incoming, w = 5, numHashes = 8, bandWidth = 2)
    val readFiles = Dedup.readBandState(
        Dedup.openBandState(spark, dir, w = 5, numHashes = 8, bandWidth = 2), probe)
      .select(input_file_name()).distinct().count()
    info(s"admission scan read $readFiles of $totalFiles state files")
    assert(readFiles < totalFiles,
      s"a ${incoming.count()}-doc micro-batch read all $totalFiles state files — " +
        "the band/bpfx partition layout is not pruning")
    // pruning is EXACT: state-dir admission equals admission against the
    // full state read — no colliding row may be pruned away.
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val pruned = ids(Dedup.incrementalNearDupFromState(spark, incoming, dir,
      w = 5, numHashes = 8, bandWidth = 2))
    val full = ids(Dedup.incrementalNearDup(incoming, spark.read.parquet(dir),
      w = 5, numHashes = 8, bandWidth = 2))
    assert(pruned === full, "pruned-state admission diverged from full-state admission")
    // layout-matched append: after appending the incoming docs' own
    // bands, re-admitting the same docs (no excludeIds) must reject
    // every doc that HAS bands — its state rows now collide with it.
    Dedup.appendBandState(spark, dir, incoming, w = 5, numHashes = 8, bandWidth = 2)
    val after = ids(Dedup.incrementalNearDupFromState(spark, incoming, dir,
      w = 5, numHashes = 8, bandWidth = 2))
    val banded = ids(probe.select("doc_id").distinct())
    assert(after.intersect(banded).isEmpty,
      s"docs ${after.intersect(banded)} were re-admitted although their own " +
        "bands are in the appended state — the append is invisible to pruned reads")
    assert(spark.read.parquet(dir).columns.contains("bpfx"),
      "append flattened a partitioned state")
  }

  test("legacy flat band state still reads fully and appends flat") {
    val docs = Tables.documents(spark, sfDir)
    val seen = docs.filter(col("doc_id") % 4 =!= 0)
    val incoming = docs.filter(col("doc_id") % 4 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-band-flat-").toString + "/bands"
    Dedup.bandTable(seen, w = 5, numHashes = 8, bandWidth = 2).write.parquet(dir)
    val probe = Dedup.bandTable(incoming, w = 5, numHashes = 8, bandWidth = 2)
    assert(Dedup.readBandState(
        Dedup.openBandState(spark, dir, w = 5, numHashes = 8, bandWidth = 2), probe)
      .count() ===
      spark.read.parquet(dir).count(),
      "flat legacy state must fall back to a full read")
    Dedup.appendBandState(spark, dir, incoming.limit(2),
      w = 5, numHashes = 8, bandWidth = 2)
    assert(!spark.read.parquet(dir).columns.contains("bpfx"),
      "append must not mix partitioned files into a flat state")
  }

  test("global compaction: state shrinks to keepers, stays rejecting, migrates layout") {
    val docs = Tables.documents(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-").toString + "/bands"
    // start from a LEGACY FLAT state: compaction must both compact and
    // migrate it to the partitioned layout.
    Dedup.bandTable(docs, w = 5, numHashes = 8, bandWidth = 2).write.parquet(dir)
    val before = spark.read.parquet(dir).select("doc_id").distinct().count()
    val kept = Dedup.compactNearDupState(spark, dir, docs,
      qualityCol = "n_chars", w = 5, numHashes = 8, bandWidth = 2)
    val keeperIds = kept.select(col("keeper")).collect().map(_.getLong(0)).toSet
    val after = spark.read.parquet(dir)
    assert(after.columns.contains("bpfx"),
      "compaction must migrate a flat state to the partitioned layout")
    val stateIds = after.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(stateIds.subsetOf(keeperIds),
      "compacted state may hold only keepers' bands")
    assert(stateIds.size < before, "compaction did not shrink the state")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir + ".compacting")) &&
      !java.nio.file.Files.exists(java.nio.file.Paths.get(dir + ".old")),
      "stage-then-promote left its working directories behind")
    // the compacted state still REJECTS: re-admitting kept docs collides
    // with their own bands; re-admitting a dropped doc that shares a
    // bucket with its retained representative is rejected too.
    val keptDocs = docs.filter(col("doc_id").isin(keeperIds.toSeq.take(50).map(Long.box): _*))
    val readmitted = Dedup.incrementalNearDupFromState(spark, keptDocs, dir,
      w = 5, numHashes = 8, bandWidth = 2)
      .join(Dedup.bandTable(keptDocs, w = 5, numHashes = 8, bandWidth = 2)
        .select("doc_id").distinct(), Seq("doc_id"), "left_semi")
      .count()
    assert(readmitted === 0,
      "a kept doc with bands must collide with its own compacted state")
    val dropped = docs.filter(!col("doc_id").isin(stateIds.toSeq.map(Long.box): _*))
    val droppedWithRepCollision = Dedup.bandTable(dropped, w = 5, numHashes = 8, bandWidth = 2)
      .join(after.select(col("band"), col("bkey")).distinct(), Seq("band", "bkey"), "left_semi")
      .select("doc_id").distinct()
    val n = droppedWithRepCollision.count()
    if (n > 0) {
      val reAdm = Dedup.incrementalNearDupFromState(spark,
        dropped.join(droppedWithRepCollision, Seq("doc_id"), "left_semi"), dir,
        w = 5, numHashes = 8, bandWidth = 2).count()
      assert(reAdm === 0,
        "a dropped doc sharing a bucket with a retained representative must stay rejected")
    } else info("no dropped doc shares a bucket with a representative at this SF")
  }

  test("stamped admission transactions: TTL expiry composes with the streaming write path") {
    val docs = Tables.documents(spark, sfDir)
    val b0 = docs.filter(col("doc_id") % 3 === 0)  // admitted_ts=0, expires
    val b1 = docs.filter(col("doc_id") % 3 === 1)  // admitted_ts=1, survives
    val probeBatch = docs.filter(col("doc_id") % 3 === 2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stamped-admit-").toString + "/bands"
    val adm0 = Dedup.admitAndMaintainState(spark, b0, dir,
      w = 5, numHashes = 8, bandWidth = 2, admittedTs = Some(0L))
    val adm1 = Dedup.admitAndMaintainState(spark, b1, dir,
      w = 5, numHashes = 8, bandWidth = 2, admittedTs = Some(1L))
    // all-or-nothing stamping: an unstamped append to stamped state refuses
    val e = intercept[IllegalArgumentException] {
      Dedup.admitAndMaintainState(spark, probeBatch, dir,
        w = 5, numHashes = 8, bandWidth = 2)
    }
    assert(e.getMessage.contains("carries no stamp"), e.getMessage)
    // age out batch 0's rows; admission against the aged state must
    // equal admission against a state built from batch-1's ADMITTED
    // docs alone (batch 0 becomes never-seen)
    graft.operators.ScaleOps.expireRowsOlderThan(spark, dir,
      "admitted_ts", watermark = 1L,
      promotion = graft.operators.ScaleOps.PointerSwap)
    val aged = graft.operators.ScaleOps.readMaintained(spark, dir,
      graft.operators.ScaleOps.PointerSwap)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val vsAged = ids(Dedup.incrementalNearDup(probeBatch, aged,
      w = 5, numHashes = 8, bandWidth = 2))
    val vsFresh = ids(Dedup.incrementalNearDup(probeBatch,
      Dedup.bandTable(adm1, w = 5, numHashes = 8, bandWidth = 2),
      w = 5, numHashes = 8, bandWidth = 2))
    assert(vsAged === vsFresh,
      "aged stamped state must admit exactly like a fresh survivors-only state")
    // sanity: the expiry changed something (batch 0 really was rejecting)
    assert(ids(adm0).nonEmpty && ids(adm1).nonEmpty)
  }

  test("age expiry: compaction with a watermark equals compaction of the survivors' fresh state") {
    val docs = Tables.documents(spark, sfDir)
    val old = docs.filter(col("doc_id") % 4 === 0)     // admitted_ts=0, expires
    val young = docs.filter(col("doc_id") % 4 =!= 0)   // admitted_ts=1, survives
    def stamped(cohort: org.apache.spark.sql.DataFrame, ts: Long) =
      Dedup.bandTable(cohort, w = 5, numHashes = 8, bandWidth = 2)
        .withColumn("admitted_ts", lit(ts))
    val aged = java.nio.file.Files.createTempDirectory("graft-age-a-").toString + "/bands"
    Dedup.writeBandState(stamped(old, 0L), aged, mode = "errorifexists")
    Dedup.writeBandState(stamped(young, 1L), aged, mode = "append")
    val fresh = java.nio.file.Files.createTempDirectory("graft-age-b-").toString + "/bands"
    Dedup.writeBandState(stamped(young, 1L), fresh, mode = "errorifexists")
    def keepers(dir: String, corpus: org.apache.spark.sql.DataFrame,
                wm: Option[Long]) =
      Dedup.compactNearDupState(spark, dir, corpus, qualityCol = "n_chars",
          w = 5, numHashes = 8, bandWidth = 2, expireBefore = wm)
        .select("keeper").collect().map(_.getLong(0)).toSet
    // the aged compaction is handed the FULL corpus — fully-expired docs
    // must leave the keeper set inside the operator, not via the caller
    val agedKeepers = keepers(aged, docs, Some(1L))
    val freshKeepers = keepers(fresh, young, None)
    assert(agedKeepers === freshKeepers,
      "watermark compaction diverged from compacting a fresh survivors-only state")
    def stateRows(dir: String) =
      spark.read.parquet(dir).select("doc_id", "band", "bkey")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(stateRows(aged) === stateRows(fresh),
      "aged state bands diverged from the survivors-only rewrite")
    // surviving stamps ride through the rewrite (a second expiry must
    // still be possible)
    assert(spark.read.parquet(aged).columns.contains("admitted_ts"),
      "compaction dropped the admitted_ts stamp")
    // unstamped state refuses the watermark leg loudly
    val bare = java.nio.file.Files.createTempDirectory("graft-age-c-").toString + "/bands"
    Dedup.writeBandState(
      Dedup.bandTable(young, w = 5, numHashes = 8, bandWidth = 2),
      bare, mode = "errorifexists")
    val e = intercept[IllegalArgumentException] {
      Dedup.compactNearDupState(spark, bare, young, qualityCol = "n_chars",
        w = 5, numHashes = 8, bandWidth = 2, expireBefore = Some(1L))
    }
    assert(e.getMessage.contains("admitted_ts"))
  }

  test("maxPartners is a phasing knob: binding and un-binding caps all admit identically") {
    val docs = Tables.documents(spark, sfDir)
    val seenSrc = (0 to 9).map(i => s"src$i")
    val seen = docs.filter(col("source").isin(seenSrc: _*))
    val incoming = docs.filter(!col("source").isin(seenSrc: _*))
    val bands = Dedup.bandTable(seen, w = 5, numHashes = 8, bandWidth = 2)
    val sigs = Dedup.signatureTable(seen, w = 5, numHashes = 8)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val unphased = ids(Dedup.incrementalNearDupVerified(
      incoming, bands, sigs, w = 5, numHashes = 8, bandWidth = 2,
      maxPartners = 1 << 20))
    // default (8) and the maximally-binding cap (1: EVERY multi-member
    // bucket overflows into phase 2) must both reproduce it exactly —
    // the two-phase expansion is semantics-preserving, not a recall trade
    val default = ids(Dedup.incrementalNearDupVerified(
      incoming, bands, sigs, w = 5, numHashes = 8, bandWidth = 2))
    val cap1 = ids(Dedup.incrementalNearDupVerified(
      incoming, bands, sigs, w = 5, numHashes = 8, bandWidth = 2,
      maxPartners = 1))
    assert(default === unphased,
      "the default cap changed an admission decision — phase 2 is not exact")
    assert(cap1 === unphased,
      "a binding cap changed an admission decision — phase 2 is not exact")
  }
}
