package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Corpus

class CorpusSpec extends AnyFunSuite {
  import SparkTestBase._
  import spark.implicits._

  test("split assignment is a pure function of the id: stable under corpus growth") {
    val docs = Tables.documents(spark, sfDir)
    val full = Corpus.splitAssign(docs)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // re-assign on HALF the corpus: every shared document keeps its split
    // (the property that makes incremental training-set refreshes sound).
    val half = Corpus.splitAssign(docs.filter(col("doc_id") % 2 === 0))
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    half.foreach { case (id, s) => assert(full(id) === s) }
    // all three splits are populated and roughly proportioned
    val bysplit = full.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(bysplit.keySet === Set("train", "val", "test"))
    assert(bysplit("train") > bysplit("val"))
  }

  test("redaction masks emails and digit runs and collapses whitespace") {
    val df = Seq(
      (1L, "Contact Bob.Smith+x@Example.org  now"),
      (2L, "order 1234 of 56 units"),
      (3L, "already clean text"))
      .toDF("doc_id", "text")
    val out = Corpus.redact(df).select("doc_id", "clean_text", "was_redacted")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out(1L) === (("contact <email> now", 1)))
    assert(out(2L) === (("order # of # units", 1)))
    assert(out(3L) === (("already clean text", 0)))
  }

  test("stratified sample is deterministic and keeps roughly the asked share") {
    val docs = Tables.documents(spark, sfDir)
    val a = Corpus.stratifiedSample(docs, "doc_id", 200)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Corpus.stratifiedSample(docs, "doc_id", 200)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b) // no rand(): re-runs keep the identical rows
    val total = docs.count()
    assert(a.size > total * 0.1 && a.size < total * 0.3)
  }

  test("weighted sample: rate tracks the weight, max-weight doc always admitted, deterministic") {
    val docs = Tables.documents(spark, sfDir)
    val kept = Corpus.weightedSample(docs, "doc_id", "n_chars")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Corpus.weightedSample(docs, "doc_id", "n_chars")
      .select("doc_id").collect().map(_.getLong(0)).toSet)
    // overall admission rate ≈ E[w] / wmax (hash is uniform on [0, 2³²))
    val (sumW, maxW, n) = {
      val r = docs.agg(sum("n_chars"), max("n_chars"), count(lit(1))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val expected = sumW.toDouble / (maxW * n)
    val rate = kept.size.toDouble / n
    assert(math.abs(rate - expected) < 0.1,
      f"admission rate $rate%.3f vs expected ${expected}%.3f")
    // a max-weight document is admitted with probability exactly 1
    // (h·wmax < wmax·2³² always holds) — the boundary case is total.
    val top = docs.orderBy(col("n_chars").desc).select("doc_id").head().getLong(0)
    assert(kept.contains(top))
    // admission frequency must rise with weight: compare the kept rate of
    // the shortest vs longest tercile.
    val byLen = docs.select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
    val lo = byLen.take(byLen.length / 3)
    val hi = byLen.takeRight(byLen.length / 3)
    def rateOf(xs: Array[(Long, Long)]) =
      xs.count(x => kept.contains(x._1)).toDouble / xs.length
    assert(rateOf(hi) > rateOf(lo),
      s"longer docs must survive more often: hi=${rateOf(hi)} lo=${rateOf(lo)}")
  }

  test("decontaminate drops exactly the flagged training docs, keeps the rest") {
    val docs = Tables.documents(spark, sfDir)
    val bench = Seq("src0", "src1")
    val sweep = Corpus.contamination(docs, bench, w = 5,
      maxShingleFreq = 8, threshold = 0.3)
    val flagged = sweep.select("train_doc").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(flagged.nonEmpty, "driver corpus must contain contamination")
    val train = docs.filter(col("source").isNotNull &&
        !col("source").isin(bench: _*))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = Corpus.decontaminate(docs, sweep, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === train -- flagged)
    assert(kept.intersect(flagged).isEmpty)
  }

  test("grouped split: clusters never straddle splits, singletons match splitAssign") {
    val docs = Tables.documents(spark, sfDir)
    val clusters = graft.ext.Dedup.clusterPairs(
      graft.ext.Dedup.minhashLsh(docs, w = 5, numHashes = 8,
        bandWidth = 2, threshold = 0.5))
    val out = Corpus.splitAssignGrouped(docs, clusters)
      .select("doc_id", "cluster_id", "split").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // the leakage invariant: one split per cluster
    out.groupBy(_._2).foreach { case (c, rows) =>
      assert(rows.map(_._3).toSet.size == 1, s"cluster $c straddles splits") }
    // singleton docs (not in any cluster) get exactly splitAssign's label
    val clustered = clusters.select("doc_id").collect().map(_.getLong(0)).toSet
    val plain = Corpus.splitAssign(docs).select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val singles = out.filterNot(t => clustered(t._1))
    assert(singles.nonEmpty)
    singles.foreach { case (id, c, sp) =>
      assert(c == id && sp == plain(id), s"singleton $id diverged") }
    // a non-singleton cluster exists AND at least one clustered member's
    // grouped label differs from its per-doc splitAssign label — the op
    // must actually re-route members to the cluster's shared split, not
    // degenerate to per-doc hashing on cluster members (which could
    // still pass the straddle check if a whole cluster hashed together
    // by luck)
    val multi = out.groupBy(_._2).filter(_._2.length > 1)
    assert(multi.nonEmpty, "corpus has near-dup clusters at this threshold")
    val rerouted = out.filter(t => clustered(t._1) && t._3 != plain(t._1))
    assert(rerouted.nonEmpty,
      "no clustered member's grouped split differs from its per-doc " +
        "assignment — grouped split degenerated to per-doc hashing")
  }

  test("stable grouped split: persisted-cluster docs never move; only singletons adopt, and only forward") {
    import graft.ext.Dedup
    val docs = Tables.documents(spark, sfDir)
    val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    val t0 = docs.filter(col("doc_id") <= mid)
    val delta = docs.filter(col("doc_id") > mid)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stable-split-").toString + "/bands"
    def bands(df: org.apache.spark.sql.DataFrame) =
      Dedup.bandTable(df, w = 5, numHashes = 8, bandWidth = 2)
    Dedup.writeBandState(bands(t0), dir, mode = "errorifexists")
    val kept = Dedup.compactNearDupState(spark, dir, t0,
      qualityCol = "n_chars", w = 5, numHashes = 8, bandWidth = 2)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster_id", "split").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val s0 = asMap(Corpus.splitAssignGroupedStable(spark, t0, dir,
      bands = bands(t0), w = 5, numHashes = 8, bandWidth = 2))
    Dedup.admitAndMaintainState(spark, delta, dir,
      w = 5, numHashes = 8, bandWidth = 2)
    val s1 = asMap(Corpus.splitAssignGroupedStable(spark, docs, dir,
      bands = bands(docs), w = 5, numHashes = 8, bandWidth = 2))
    val keepers = kept.select("keeper").collect().map(_.getLong(0)).toSet
    s0.foreach { case (id, (c0, sp0)) =>
      val (c1, sp1) = s1(id)
      if (c0 != id || keepers(id))
        // a doc whose cluster persisted (it had an owner, or it IS a
        // keeper whose bands are in state) must be assignment-stable
        assert(c0 == c1 && sp0 == sp1,
          s"doc $id with persisted cluster $c0 moved to $c1/$sp1")
      else if (c1 != c0)
        // the one allowed change: a dropped member with no persisted
        // link adopted by a LATER (delta, larger-id) keeper — ids only
        // move forward, so no re-run can flip it back
        assert(c1 > mid, s"singleton $id adopted pre-delta keeper $c1")
    }
  }

  test("contamination report: per-pair attribution counts distinct shared windows") {
    val docs = Seq(
      // bench doc 0: tokens b1..b9 → 8-windows at s=1,2
      (0L, "b1 b2 b3 b4 b5 b6 b7 b8 b9", "src0"),
      // bench doc 1: disjoint vocabulary
      (1L, "c1 c2 c3 c4 c5 c6 c7 c8", "src0"),
      // train doc 10 quotes doc 0's full window run TWICE (repetition
      // within a doc must not double-count: windows are per-doc distinct)
      (10L, "x b1 b2 b3 b4 b5 b6 b7 b8 b9 y b1 b2 b3 b4 b5 b6 b7 b8 b9", "src2"),
      // train doc 11 quotes doc 1's single window
      (11L, "c1 c2 c3 c4 c5 c6 c7 c8 z", "src2"),
      // train doc 12 shares nothing
      (12L, "n1 n2 n3 n4 n5 n6 n7 n8 n9", "src2")
    ).toDF("doc_id", "text", "source")
    val out = Corpus.contaminationReport(docs, Seq("src0", "src1"), w = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 10 shares doc 0's two distinct windows (the repeat adds no
    // new window VALUES); doc 11 shares doc 1's one; doc 12 absent
    assert(out === Set((10L, 0L, 2L), (11L, 1L, 1L)))
    // minShared binds
    val capped = Corpus.contaminationReport(docs, Seq("src0", "src1"),
      w = 8, minShared = 2).collect().map(_.getLong(0)).toSet
    assert(capped === Set(10L))
  }

  test("temperature budgets: sqrt-flattened, integer-exact, conserves the total") {
    val docs = Tables.documents(spark, sfDir)
    val srcs = Seq("src2", "src3", "src4", "src5")
    val total = 2000L
    val b = Corpus.temperatureBudgets(docs, srcs, total)
    assert(b.keySet === srcs.toSet)
    // floor-allocation never exceeds the total, and loses at most one
    // token per source to rounding
    assert(b.values.sum <= total && b.values.sum > total - srcs.length)
    // α = 1/2 flattens: the budget RATIO between the largest and
    // smallest source is the sqrt of their token-mass ratio — strictly
    // closer to 1 than proportional allocation whenever masses differ
    val masses = srcs.map(s => s -> docs.filter(col("source") === s)
      .select(sum(size(split(col("text"), " ", -1)))).head().getLong(0)).toMap
    val (bigS, smallS) = (masses.maxBy(_._2)._1, masses.minBy(_._2)._1)
    if (masses(bigS) > masses(smallS)) {
      val budgetRatio = b(bigS).toDouble / b(smallS)
      val massRatio = masses(bigS).toDouble / masses(smallS)
      assert(budgetRatio < massRatio,
        s"sqrt temperature must flatten: $budgetRatio !< $massRatio")
      assert(math.abs(budgetRatio - math.sqrt(massRatio)) < 0.01,
        "allocation must follow the sqrt of the mass ratio")
    }
    // a source with no rows weighs zero, and the op refuses when
    // EVERY budgeted source is empty (0/0 allocation)
    val withGhost = Corpus.temperatureBudgets(docs, srcs :+ "srcNope", total)
    assert(withGhost("srcNope") === 0L)
    val e = intercept[IllegalArgumentException] {
      Corpus.temperatureBudgets(docs, Seq("srcNope"), total)
    }
    assert(e.getMessage.contains("no tokens"))
  }

  test("token budget: greedy fill binds, overshoots by at most one doc, partition-invariant") {
    val docs = Tables.documents(spark, sfDir)
    val budgets = Map("src2" -> 800L, "src3" -> 500L, "src4" -> 200L)
    val out = Corpus.sampleToTokenBudget(docs, budgets).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._2).toSet === budgets.keySet, "only budgeted sources admitted")
    budgets.foreach { case (src, b) =>
      val rows = out.filter(_._2 == src)
      val total = rows.map(_._3).sum
      val last = rows.maxBy(_._4)
      // budget binds (this corpus holds more tokens than any budget),
      // the final doc is the only overshoot, every admitted doc started
      // under the budget
      assert(total >= b, s"$src under-filled: $total < $b")
      assert(total - last._3 < b, s"$src admitted past the boundary doc")
      assert(rows.forall(_._4 < b))
    }
    // deterministic under physical layout: same admitted set from a
    // repartitioned input (the two-phase prefix sum owns the order)
    val re = Corpus.sampleToTokenBudget(docs.repartition(7), budgets).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(re === out.sortBy(_._1))
    // a budget beyond the source's total admits the whole source
    val all = Corpus.sampleToTokenBudget(docs, Map("src5" -> 1000000L)).count()
    assert(all === docs.filter(col("source") === "src5").count())
  }

  test("span decontamination cuts bench windows only, never train-train overlap") {
    val docs = Seq(
      // bench: the passage that must not survive anywhere in train
      (0L, "b1 b2 b3 b4 b5 b6 b7 b8 tail", "src0"),
      // train doc quoting the bench passage inside unique context
      (10L, "u1 u2 b1 b2 b3 b4 b5 b6 b7 b8 u3", "src2"),
      // two train docs sharing a run with EACH OTHER but not with bench:
      // span-level decontamination must leave both intact (that overlap
      // is removeCrossDocSpans' business, not the sweep's)
      (11L, "t1 t2 t3 t4 t5 t6 t7 t8 only11", "src3"),
      (12L, "t1 t2 t3 t4 t5 t6 t7 t8 only12", "src3"),
      // null-source doc: in neither population, dropped like the sweep
      (13L, "b1 b2 b3 b4 b5 b6 b7 b8", null)
    ).toDF("doc_id", "text", "source")
    val out = Corpus.decontaminateSpans(docs, Seq("src0"), w = 8).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out.keySet === Set(10L, 11L, 12L), "train docs only, null-source dropped")
    // the quoted 8-token passage (window at s=3, covering tokens 3..10)
    // is excised; the unique context survives
    assert(out(10L) === (("src2", 11L, 8L, "u1 u2 u3")))
    assert(out(11L) === (("src3", 9L, 0L, "t1 t2 t3 t4 t5 t6 t7 t8 only11")))
    assert(out(12L) === (("src3", 9L, 0L, "t1 t2 t3 t4 t5 t6 t7 t8 only12")))
    // one lazy plan, equi-joins only — auditable directly (no checkpoint)
    val plan = Corpus.decontaminateSpans(docs, Seq("src0"), w = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"cut positions must come from equi-joins:\n$plan")
    // warehouse form: the bench-window join shuffles 128-bit window
    // hashes, never window text
    assert(!plan.matches("(?s).*hashpartitioning\\([^)]*\\bsh#.*"),
      s"a shuffle still carries window text as its key:\n$plan")
  }

  test("embedding decontamination sweeps semantic matches, keeps orthogonal docs") {
    // bench doc 0; train doc 1 carries the IDENTICAL embedding (a
    // paraphrase in the real world — no shared shingles needed); train
    // doc 2 is orthogonal. Only doc 1 must be swept.
    val v = Array.tabulate(64)(i => if (i < 32) 1.0f else 0.0f)
    val u = Array.tabulate(64)(i => if (i >= 32) 1.0f else 0.0f)
    val docs = Seq(
      (0L, "bench text", "en", "src0", 10),
      (1L, "totally different words", "en", "src2", 23),
      (2L, "unrelated content", "en", "src2", 17))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val emb = Seq((0L, v), (1L, v), (2L, u))
      .toDF("vec_id", "embedding")
    val kept = Corpus.decontaminateEmbedding(docs, emb,
        benchSources = Seq("src0", "src1"), threshold = 0.9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L),
      s"identical-embedding train doc must sweep, orthogonal must stay: $kept")
    // and the real corpus: the sweep output is exactly train minus the
    // cosine-verified banded matches (no bench doc ever in the output)
    val real = Corpus.decontaminateEmbedding(
      Tables.documents(spark, sfDir), Tables.embeddings(spark, sfDir),
      benchSources = Seq("src0", "src1"))
    assert(real.filter(col("source").isin("src0", "src1")).count() === 0L)
  }

  test("persisted bench-signature sweep == inline sweep; stamp mismatch refuses") {
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val bench = Seq("src0", "src1")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-benchsig-").toString + "/sig"
    Corpus.benchSignatureTable(docs, emb, bench).write.parquet(dir)
    val state = spark.read.parquet(dir)
    val train = docs.filter(!col("source").isin(bench: _*))
    // the state-consulting sweep must flag exactly the docs the inline
    // operator sweeps (same planes, same candidates, same verification)
    val viaState = Corpus.embeddingContaminatedIds(train, emb, state)
      .collect().map(_.getLong(0)).toSet
    val inlineKept = Corpus.decontaminateEmbedding(docs, emb, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val paired = train.select("doc_id")
      .join(emb.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")
      .collect().map(_.getLong(0)).toSet
    assert(viaState === paired -- inlineKept,
      "state-consulting sweep diverged from the inline operator")
    // a state banded under different planes must refuse loudly, not
    // silently admit every paraphrase
    val e = intercept[IllegalArgumentException] {
      Corpus.embeddingContaminatedIds(train, emb, state, numPlanes = 8,
        bandWidth = 4)
    }
    assert(e.getMessage.contains("layout mismatch"))
  }

  test("source mixing keeps only listed sources, at their rates") {
    val docs = Tables.documents(spark, sfDir)
    val kept = Corpus.mixSources(docs, "source", "doc_id",
      Map("src0" -> 1000, "src1" -> 0))
    val srcs = kept.select("source").distinct().collect().map(_.getString(0)).toSet
    assert(srcs === Set("src0")) // rate 1000 keeps all, rate 0 and unlisted drop all
    assert(kept.count() === docs.filter(col("source") === "src0").count())
  }

  test("Bloom-gated contamination sweep is row-identical to the exact sweep") {
    // soundness of the prefilter: no false negatives means the gate can
    // only drop shingles that would have failed the exact join anyway —
    // a SMALLER-than-the-filter bit count would still be correct, just
    // slower; a broken hash would lose flagged pairs and fail here.
    val docs = Tables.documents(spark, sfDir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    val exact = rows(graft.ext.Corpus.contamination(
      docs, Seq("src0", "src1"), w = 5, maxShingleFreq = 8, threshold = 0.3))
    val gated = rows(graft.ext.Corpus.contaminationBloomGated(
      docs, Seq("src0", "src1"), w = 5, maxShingleFreq = 8, threshold = 0.3))
    assert(gated === exact)
    assert(exact.nonEmpty, "sweep found nothing — the invariant check is vacuous")
    // a deliberately TINY filter saturates (every probe might_contain)
    // but must still be correct — the gate degrades to a no-op, never
    // to a wrong answer.
    val saturated = rows(graft.ext.Corpus.contaminationBloomGated(
      docs, Seq("src0", "src1"), w = 5, maxShingleFreq = 8, threshold = 0.3,
      numBits = 16, numHashes = 2))
    assert(saturated === exact)
  }

  test("shuffleShards: dense permutation, partitioning-invariant, full shards") {
    val docs = Tables.documents(spark, sfDir)
    val n = docs.count()
    val out = Corpus.shuffleShards(docs, "doc_id", salt = "s1", shardSize = 32)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // dense 0-based permutation of every document
    assert(out.map(_._2).sorted.toSeq === (0L until n))
    assert(out.map(_._3).distinct.length === n.toInt)
    // the order is a pure function of (salt, id): physical partitioning
    // of the input must not change a single position
    val re = Corpus.shuffleShards(docs.repartition(7), "doc_id",
        salt = "s1", shardSize = 32)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(re.sortBy(_._2).toSeq === out.sortBy(_._2).toSeq)
    // a different salt is a genuinely different epoch order
    val other = Corpus.shuffleShards(docs, "doc_id", salt = "s2", shardSize = 32)
      .collect().map(r => r.getLong(2) -> r.getLong(1)).toMap
    val same = out.count { case (_, pos, id) => other(id) == pos }
    assert(same < n / 4, s"salts s1/s2 agree on $same of $n positions")
    // every shard except the last is exactly full
    val sizes = out.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.length)
    assert(sizes.init.forall(_ === 32) && sizes.last <= 32)
  }

  test("capPerSource: two-phase top-N equals the single-window form and binds") {
    val docs = Tables.documents(spark, sfDir)
    val cap = 10
    val got = Corpus.capPerSource(docs, cap = cap, buckets = 4).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sorted
    // naive single-window reference (the form the two-phase plan must
    // reproduce exactly)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    val ref = docs.select(col("doc_id"), col("source"))
      .join(graft.ext.TextAnalysis.qualityScore(docs)
        .select(col("doc_id"), col("quality_score")), Seq("doc_id"))
      .withColumn("q_rank", row_number().over(w))
      .filter(col("q_rank") <= cap)
      .select(col("source"), col("doc_id"), col("q_rank")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sorted
    assert(got.nonEmpty)
    assert(got.toSeq === ref.toSeq)
    // the cap BINDS: every source has exactly cap survivors (sf0.001
    // has ~25 docs per source), so the test exercises the cut, not a
    // pass-through
    val bySource = got.groupBy(_._1).view.mapValues(_.length)
    bySource.foreach { case (s, n) => assert(n === cap, s"source $s") }
  }

  test("DSIR importance: target-like docs outrank off-target docs; ratio table covers every bucket") {
    // target vocabulary {x,y}, off-target {p,q}: a doc made of target
    // n-grams must carry a strictly higher mean log-ratio than one made
    // of n-grams the target never contains.
    val docs = Seq(
      (1L, "x y x y"), (2L, "x y y x"),   // the target slice
      (3L, "x y x y"),                     // target-like, outside the slice
      (4L, "p q p q")                      // off-target
    ).toDF("doc_id", "text")
    val target = docs.filter(col("doc_id") <= 2)
    val ratios = Corpus.importanceLogRatios(target, docs, buckets = 256)
    assert(ratios.count() === 256L)
    assert(ratios.select(countDistinct(col("bucket"))).head().getLong(0) === 256L)
    val w = Corpus.importanceWeights(docs, ratios, buckets = 256)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(w(3L) > w(4L),
      s"target-like doc must outrank off-target: ${w(3L)} vs ${w(4L)}")
    // n_feats = tokens + bigrams: 4 + 3 = 7 per doc here
    val nf = Corpus.importanceWeights(docs, ratios, buckets = 256)
      .collect().map(r => r.getLong(1)).toSet
    assert(nf === Set(7L))
  }

  test("DSIR sliced single-pass ratios == two-frame form, bucket for bucket") {
    val docs = Tables.documents(spark, sfDir)
    val pred = col("lang") === "en" && col("source") === "src7"
    val twoFrame = Corpus.importanceLogRatios(docs.filter(pred), docs)
      .orderBy("bucket").collect().toSeq
    val sliced = Corpus.importanceLogRatiosSliced(docs, pred)
      .orderBy("bucket").collect().toSeq
    assert(sliced === twoFrame)
  }

  test("DSIR plan audit: ratio table broadcasts onto the feature stream, top-k never global-sorts") {
    val docs = Tables.documents(spark, sfDir)
    val ratios = Corpus.importanceLogRatiosSliced(docs, col("lang") === "en")
    val w = Corpus.importanceWeights(docs, ratios)
    val plan = w.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"ratio lookup must be a broadcast join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"unexpected product join:\n$plan")
    val sel = Corpus.importanceSelect(w, 10)
    val selPlan = sel.queryExecution.executedPlan.toString
    assert(selPlan.contains("TakeOrderedAndProject"),
      s"top-k selection must plan as TakeOrderedAndProject:\n$selPlan")
  }

  test("DSIR weights are partition-layout-invariant; selection is deterministic top-k") {
    val docs = Tables.documents(spark, sfDir)
    val target = docs.filter(col("lang") === "en")
    val ratios = Corpus.importanceLogRatios(target, docs)
    val a = Corpus.importanceWeights(docs, ratios)
      .orderBy("doc_id").collect().toSeq
    val b = Corpus.importanceWeights(docs.repartition(13), ratios)
      .orderBy("doc_id").collect().toSeq
    assert(a === b)
    val sel = Corpus.importanceSelect(Corpus.importanceWeights(docs, ratios), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(sel.length === 10)
    // ordered by weight desc with doc_id tie-break
    assert(sel.sliding(2).forall { case Array((i1, w1), (i2, w2)) =>
      w1 > w2 || (w1 == w2 && i1 < i2) })
    // malformed ratio table refuses
    val e = intercept[IllegalArgumentException] {
      Corpus.importanceWeights(docs, docs)
    }
    assert(e.getMessage.contains("importanceLogRatios"))
  }

  test("incrementalScores: unchanged docs carry their STATE row (never re-scored), changed/added re-score, removed drop") {
    val prev = Seq((1L, "aa bb"), (2L, "cc dd"), (3L, "ee ff"))
      .toDF("doc_id", "text")
    // state scored by fn1 = token count
    val state = prev.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("score"))
      .join(prev.select(col("doc_id"), md5(col("text")).as("content_hash")),
        Seq("doc_id"))
    // t1: doc 1 unchanged, doc 2 revised, doc 3 removed, doc 4 added
    val next = Seq((1L, "aa bb"), (2L, "cc dd revised"), (4L, "gg"))
      .toDF("doc_id", "text")
    // fn2 deliberately DIFFERS from fn1 (chars, not tokens): a carried
    // row keeping its fn1 value is behavioral proof nothing re-scored
    val out = Corpus.incrementalScores(state, next)(df =>
        df.select(col("doc_id"), length(col("text")).cast("long").as("score")))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("score"), r.getAs[String]("scored_in")))).toMap
    assert(out.keySet === Set(1L, 2L, 4L), "removed doc 3 must drop")
    assert(out(1L) === ((2L, "carried")), "unchanged doc keeps its fn1 score")
    assert(out(2L) === ((13L, "rescored")), "revised doc gets the fn2 score")
    assert(out(4L) === ((2L, "rescored")), "added doc gets the fn2 score")
    // a state without content hashes refuses
    val e2 = intercept[IllegalArgumentException] {
      Corpus.incrementalScores(state.drop("content_hash"), next)(identity)
    }
    assert(e2.getMessage.contains("content_hash"))
  }

  test("incrementalScores chains release-over-release: t1's OUTPUT is t2's state verbatim") {
    val score = (df: DataFrame) =>
      df.select(col("doc_id"), length(col("text")).cast("long").as("score"))
    val t0 = Seq((1L, "aa bb"), (2L, "cc")).toDF("doc_id", "text")
    val t1 = Seq((1L, "aa bb"), (2L, "cc dd"), (3L, "ee")).toDF("doc_id", "text")
    val t2 = Seq((1L, "aa bb"), (3L, "ee"), (4L, "ff gg hh"))
      .toDF("doc_id", "text")
    val s0 = score(t0)
      .join(t0.select(col("doc_id"), md5(col("text")).as("content_hash")),
        Seq("doc_id"))
    // the emitted table — scored_in audit column and all — IS the next
    // release's state; before the fix the carried scored_in column made
    // the second call's union fail on a column the re-score never emits
    val s1 = Corpus.incrementalScores(s0, t1)(score)
    val out = Corpus.incrementalScores(s1, t2)(score)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("score"), r.getAs[String]("scored_in")))).toMap
    assert(out.keySet === Set(1L, 3L, 4L))
    assert(out(1L)._2 === "carried", "doc 1 unchanged since t0: carried again")
    assert(out(3L)._2 === "carried", "doc 3 unchanged since t1: carried")
    assert(out(4L) === ((8L, "rescored")), "doc 4 is new in t2")
    // the chained result equals scoring t2 from scratch
    assert(out.view.mapValues(_._1).toMap ===
      score(t2).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }
}
