package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Sketches

class SketchesSpec extends AnyFunSuite {
  import SparkTestBase._

  test("HLL distinct users within 5% of exact; quantile sketch brackets the exact rank") {
    val ev = Tables.events(spark, sfDir)
    val approx = Sketches.eventTypeProfile(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("users"),
        expr("percentile(value, 0.5)").as("p50"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (et, (users, p50)) =>
      val (aUsers, aP50) = approx(et)
      assert(math.abs(aUsers - users).toDouble / users <= 0.05,
        s"$et: HLL $aUsers vs exact $users")
      // percentile_approx returns a genuine data value near the true
      // median: accept a 10% rank-value tolerance on this distribution.
      assert(math.abs(aP50 - p50) <= math.abs(p50) * 0.1 + 1.0,
        s"$et: p50 sketch $aP50 vs exact $p50")
    }
  }

  test("Count-Min sketch: fixed state size, never undercounts, tight on heavy hitters") {
    val docs = Tables.documents(spark, sfDir)
    val tokens = docs.select(explode(split(col("text"), " ")).as("token"))
    val cms = Sketches.countMinBuild(tokens, "token", depth = 4, width = 1024)
    // state is bounded by depth x width REGARDLESS of stream size — the
    // property that makes the sketch shippable at 100 TB.
    assert(cms.count() <= 4L * 1024)
    val exact = tokens.groupBy("token").agg(count(lit(1)).as("n"))
    val est = Sketches.countMinEstimate(cms, exact, "token")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // CM structural guarantee: min over salted rows can only OVERcount
    est.foreach { case (t, n, e) =>
      assert(e >= n, s"token '$t': estimate $e undercounts true $n")
    }
    // heavy hitters (the sketch's use case) estimate tightly: with
    // ~vocab/width expected collisions per bucket, the top tokens'
    // relative error stays small on this corpus.
    val heavy = est.sortBy(-_._2).take(20)
    heavy.foreach { case (t, n, e) =>
      assert(e - n <= math.max(5L, n / 5),
        s"heavy hitter '$t': estimate $e too loose vs exact $n")
    }
    // deterministic: an independently built sketch estimates identically
    val cms2 = Sketches.countMinBuild(tokens, "token", depth = 4, width = 1024)
    val est2 = Sketches.countMinEstimate(cms2, exact, "token")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(est.sortBy(_._1).toSeq === est2.sortBy(_._1).toSeq)
  }

  test("Count-Min merge: batch-split build ⊕ merge == single-pass build, cell for cell") {
    val docs = Tables.documents(spark, sfDir)
    val tokens = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    // three-way split (odd arity exercises the varargs reduce)
    val parts = (0 until 3).map(i =>
      Sketches.countMinBuild(
        tokens.filter(col("doc_id") % 3 === i).select(col("token")), "token"))
    val merged = cells(Sketches.countMinMerge(parts: _*))
    val single = cells(Sketches.countMinBuild(tokens.select(col("token")), "token"))
    assert(merged === single)
    // a bucket present in only one input keeps its count: merge a
    // disjoint-vocabulary sketch and check totals are the outer sum.
    val extra = Sketches.countMinBuild(
      spark.range(5).select(concat(lit("zz_unique_"), col("id")).as("token")),
      "token")
    val outer = cells(Sketches.countMinMerge(
      Sketches.countMinBuild(tokens.select(col("token")), "token"), extra))
    val extraCells = cells(extra)
    outer.foreach { case (k, v) =>
      assert(v === single.getOrElse(k, 0L) + extraCells.getOrElse(k, 0L)) }
    assert(outer.keySet === single.keySet ++ extraCells.keySet)
  }

  test("sketch family drops null items consistently — no null buckets, no NPEs") {
    import spark.implicits._
    val df = Seq(Option("a"), None, Option("b"), Option("a")).toDF("t")
    val cms = Sketches.countMinBuild(df, "t", depth = 2, width = 16)
    assert(cms.filter(col("bucket").isNull).count() === 0L)
    // 3 non-null items counted per depth row
    assert(cms.groupBy(col("j")).sum("total").collect()
      .forall(_.getLong(1) === 3L))
    val kmv = Sketches.kmvBuild(df, "t", k = 8) // would NPE pre-fix
    assert(kmv.count() === 2L)
    val bloom = Sketches.bloomBuild(df, "t", numBits = 64, numHashes = 2)
    assert(bloom.filter(col("pos").isNull).count() === 0L)
    // gate packs without NPE and admits the members
    val gated = df.filter(col("t").isNotNull).distinct()
      .filter(Sketches.bloomGateColumn(bloom, col("t"), 64, 2))
    assert(gated.count() === 2L)
    // a null QUERY row is a graceful non-member, not a crash
    val verdicts = Sketches.bloomMightContain(bloom, df.distinct(), "t", 64, 2)
      .collect().map(r => Option(r.getString(0)) -> r.getBoolean(1)).toMap
    assert(verdicts(Some("a")) && verdicts(Some("b")) && !verdicts(None))
  }

  test("KMV sketch: exact bottom-k hashes, bounded state, mergeable, sane estimator") {
    val docs = Tables.documents(spark, sfDir)
    val sh = graft.ext.Dedup.shingles(docs, w = 3).select(col("sh"))
    val k = 256
    val sketch = Sketches.kmvBuild(sh, "sh", k)
    // the sketch IS the exact bottom-k of the distinct hash set — no
    // approximation in the state itself, only in the estimator
    val brute = sh.select(graft.ext.Dedup.hash32(col("sh")).as("h"))
      .distinct().orderBy(col("h")).limit(k)
      .collect().map(_.getLong(0)).toSeq
    val got = sketch.orderBy(col("rank")).collect().map(_.getLong(1)).toSeq
    assert(got === brute)
    assert(got.length <= k)
    // merge: three batch sketches == the single-pass sketch, bit for bit
    val parts = (0 until 3).map(i => Sketches.kmvBuild(
      graft.ext.Dedup.shingles(docs.filter(col("doc_id") % 3 === i), w = 3)
        .select(col("sh")), "sh", k))
    val merged = Sketches.kmvMerge(k, parts: _*)
      .orderBy(col("rank")).collect().map(_.getLong(1)).toSeq
    assert(merged === got)
    // estimator lands near the exact distinct count (2.4 sigma bound)
    val est = Sketches.kmvEstimate(sketch, k).head()
    val exact = sh.distinct().count().toDouble
    assert(math.abs(est.getDouble(2) - exact) / exact < 0.15,
      s"KMV estimate ${est.getDouble(2)} too far from exact $exact")
    // under-full sketch: the estimate IS the exact distinct hash count
    import spark.implicits._
    val tiny = Seq("a", "b", "c", "a").toDF("sh")
    val tinyEst = Sketches.kmvEstimate(Sketches.kmvBuild(tiny, "sh", k), k).head()
    assert(tinyEst.getLong(0) === 3L && tinyEst.getDouble(2) === 3.0)
  }

  test("KMV set algebra: under-full sketches turn exact; full sketches bound Jaccard") {
    import spark.implicits._
    val k = 256
    // under-full: the sketches ARE the sets, so every output is exact
    val a = Sketches.kmvBuild(Seq("a", "b", "c", "d").toDF("t"), "t", k)
    val b = Sketches.kmvBuild(Seq("c", "d", "e").toDF("t"), "t", k)
    val r = Sketches.kmvSetOps(a, b, k).head()
    assert(r.getLong(0) === 5L)                  // |A∪B| sketch = exact union
    assert(r.getLong(2) === 2L)                  // n_common = |{c,d}|
    assert(r.getDouble(3) === 5.0)               // union_est exact
    assert(r.getDouble(4) === 2.0 / 5.0)         // jaccard exact
    assert(r.getDouble(5) === 2.0 / 5.0 * 5.0)   // inter_est exact
    // full sketches on real data: estimates land within the documented band
    val docs = Tables.documents(spark, sfDir)
    def side(m: Int) = graft.ext.Dedup.shingles(
      docs.filter(col("doc_id") % 2 === m), w = 3).select(col("sh"))
    val full = Sketches.kmvSetOps(
      Sketches.kmvBuild(side(0), "sh", k),
      Sketches.kmvBuild(side(1), "sh", k), k).head()
    val exactJac = side(0).intersect(side(1)).count().toDouble /
      side(0).union(side(1)).distinct().count().toDouble
    assert(math.abs(full.getDouble(4) - exactJac) / exactJac < 0.35,
      s"KMV Jaccard ${full.getDouble(4)} too far from exact $exactJac")
  }

  test("Bloom filter: fixed state, zero false negatives, mergeable by union") {
    val docs = Tables.documents(spark, sfDir)
    val sh = graft.ext.Dedup.shingles(docs, w = 3).select(col("sh"))
    val bloom = Sketches.bloomBuild(sh, "sh", numBits = 1 << 18)
    // state bounded by the bit count no matter the stream size
    assert(bloom.count() <= (1L << 18))
    // structural guarantee: every MEMBER is might_contain (no false
    // negatives, the property that makes a Bloom prefilter sound)
    val members = sh.distinct()
    val verdicts = Sketches.bloomMightContain(bloom, members, "sh",
      numBits = 1 << 18)
    assert(verdicts.filter(!col("might_contain")).count() === 0L)
    // mergeable: union of two half-corpus filters == one-pass filter
    val a = Sketches.bloomBuild(
      graft.ext.Dedup.shingles(docs.filter(col("doc_id") % 2 === 0), w = 3)
        .select(col("sh")), "sh", numBits = 1 << 18)
    val b = Sketches.bloomBuild(
      graft.ext.Dedup.shingles(docs.filter(col("doc_id") % 2 =!= 0), w = 3)
        .select(col("sh")), "sh", numBits = 1 << 18)
    val merged = Sketches.bloomMerge(a, b)
      .collect().map(_.getLong(0)).toSet
    assert(merged === bloom.collect().map(_.getLong(0)).toSet)
    // non-members mostly rejected (the filter is useful, not saturated)
    val foreign = spark.range(1000)
      .select(concat(lit("zz foreign shingle "), col("id")).as("sh"))
    val fp = Sketches.bloomMightContain(bloom, foreign, "sh", numBits = 1 << 18)
      .filter(col("might_contain")).count()
    assert(fp < 200, s"false-positive rate implausibly high for a 262k-bit filter: $fp / 1000")
    // the packed-bitmap per-row gate agrees with the join-based probe
    // verdict for verdict (same hashes, different physical shape)
    val probeItems = members.unionByName(foreign)
    val viaJoin = Sketches.bloomMightContain(bloom, probeItems, "sh",
        numBits = 1 << 18).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    val viaGate = probeItems.withColumn("mc",
        Sketches.bloomGateColumn(bloom, col("sh"), numBits = 1 << 18))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(viaGate === viaJoin)
  }

  test("persisted sketch state: stamps round-trip, and mismatched geometry fails loudly") {
    val docs = Tables.documents(spark, sfDir)
    val tokens = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
    val day1 = tokens.filter(col("doc_id") % 2 === 0).select(col("token"))
    val day2 = tokens.filter(col("doc_id") % 2 =!= 0).select(col("token"))
    val tmp = tmpDir("graft_sketch_state").toString

    // CMS: persist day-1, merge loaded state with day-2, compare with
    // the single-pass sketch — persistence must be invisible
    Sketches.countMinWrite(Sketches.countMinBuild(day1, "token"), s"$tmp/cms")
    val merged = Sketches.countMinMerge(
        spark.read.parquet(s"$tmp/cms"), Sketches.countMinBuild(day2, "token"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val onePass = Sketches.countMinBuild(tokens.select(col("token")), "token")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged === onePass)
    // merging sketches stamped with DIFFERENT geometries must refuse
    Sketches.countMinWrite(
      Sketches.countMinBuild(day2, "token", width = 2048), s"$tmp/cms_w2",
      width = 2048)
    val e1 = intercept[IllegalArgumentException] {
      Sketches.countMinMerge(spark.read.parquet(s"$tmp/cms"),
        spark.read.parquet(s"$tmp/cms_w2"))
    }
    assert(e1.getMessage.contains("different layouts"))
    // writing a sketch under a geometry it doesn't fit must refuse
    val e2 = intercept[IllegalArgumentException] {
      Sketches.countMinWrite(
        Sketches.countMinBuild(day1, "token", width = 2048), s"$tmp/bad")
    }
    assert(e2.getMessage.contains("outside the declared"))
    // estimating through a stamped sketch with the wrong caller
    // geometry must refuse (the silent-skew gap the stamp closes)
    val e3 = intercept[IllegalArgumentException] {
      Sketches.countMinEstimate(spark.read.parquet(s"$tmp/cms_w2"),
        day1.limit(1), "token")
    }
    assert(e3.getMessage.contains("layout mismatch"))

    // KMV: k rides with the state; the stated estimator reads it back
    Sketches.kmvWrite(Sketches.kmvBuild(day1, "token", k = 128), s"$tmp/kmv", k = 128)
    val loaded = spark.read.parquet(s"$tmp/kmv")
    val stated = Sketches.kmvEstimateStated(loaded).collect()(0).getDouble(2)
    val explicit = Sketches.kmvEstimate(
      loaded.select(col("rank"), col("h")), k = 128).collect()(0).getDouble(2)
    assert(stated === explicit)
    // re-supplying the WRONG k against stamped state must refuse
    // (previously it silently skewed the estimate)
    val e4 = intercept[IllegalArgumentException] {
      Sketches.kmvEstimate(loaded, k = 256)
    }
    assert(e4.getMessage.contains("layout mismatch"))
    val e5 = intercept[IllegalArgumentException] {
      Sketches.kmvMerge(256, loaded, Sketches.kmvBuild(day2, "token", k = 256))
    }
    assert(e5.getMessage.contains("layout mismatch"))

    // Bloom: gate against stamped state with the wrong geometry must
    // refuse loudly, not ArrayIndexOutOfBounds on the driver
    Sketches.bloomWrite(
      Sketches.bloomBuild(day1, "token", numBits = 16384), s"$tmp/bloom",
      numBits = 16384)
    val e6 = intercept[IllegalArgumentException] {
      Sketches.bloomGateColumn(spark.read.parquet(s"$tmp/bloom"),
        col("token"), numBits = 8192)
    }
    assert(e6.getMessage.contains("layout mismatch"))
    // un-stamped filter built bigger than the gate's bitmap: the loud
    // self-describing range check, not an opaque AIOOBE
    val e7 = intercept[IllegalArgumentException] {
      Sketches.bloomGateColumn(
        Sketches.bloomBuild(day1, "token", numBits = 16384),
        col("token"), numBits = 8192)
    }
    assert(e7.getMessage.contains("exceeds numBits"))
    graft.plans.Pipeline.deleteRecursively(java.nio.file.Paths.get(tmp))
  }

  test("quantile sample: exact merge law, replay no-op, under-full exactness, stamp refusal") {
    val ev = Tables.events(spark, sfDir).filter(col("value").isNotNull)
    val day1 = ev.filter(col("event_id") % 2 === 0)
    val day2 = ev.filter(col("event_id") % 2 =!= 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("rank"), col("h"), col("v")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    // merge law: bottom-k of (sample(A) ∪ sample(B)) == sample(A∪B),
    // bit for bit — the property that makes the sample pipeline state
    val whole = Sketches.quantileSampleBuild(ev, "event_id", "value", k = 128)
    val merged = Sketches.quantileSampleMerge(128,
      Sketches.quantileSampleBuild(day1, "event_id", "value", k = 128),
      Sketches.quantileSampleBuild(day2, "event_id", "value", k = 128))
    assert(pairs(whole) === pairs(merged))
    // replayed batch collapses under distinct: merge(s, s) == s —
    // exactly-once by algebra, no dedup bookkeeping needed
    assert(pairs(Sketches.quantileSampleMerge(128, whole, whole)) === pairs(whole))
    // state is k-bounded regardless of input size
    assert(whole.count() === 128)
    // under-full sample IS the data: every quantile read turns exact
    val tiny = ev.limit(40)
    val tmp = tmpDir("graft_qsample").toString
    Sketches.quantileSampleWrite(
      Sketches.quantileSampleBuild(tiny, "event_id", "value", k = 512),
      s"$tmp/tiny", k = 512)
    val est = Sketches.quantileEstimateStated(
        spark.read.parquet(s"$tmp/tiny"), Seq(0.25, 0.5, 0.75))
      .collect().map(r => r.getDouble(0) -> r.getDouble(3)).toMap
    val vals = tiny.select(col("value"), col("event_id"))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).sortBy(identity).map(_._1)
    val n = vals.length
    Seq(0.25, 0.5, 0.75).foreach { q =>
      val rank = math.min(n, math.max(1, math.floor(q * (n + 1)).toInt))
      assert(est(q) === vals(rank - 1),
        s"q=$q: under-full estimate ${est(q)} != exact ${vals(rank - 1)}")
    }
    // k rides with the state: merging against the wrong declared k and
    // estimating from an un-stamped frame both refuse loudly
    val e1 = intercept[IllegalArgumentException] {
      Sketches.quantileSampleMerge(256, spark.read.parquet(s"$tmp/tiny"), whole)
    }
    assert(e1.getMessage.contains("layout mismatch"))
    val e2 = intercept[IllegalArgumentException] {
      Sketches.quantileEstimateStated(whole, Seq(0.5))
    }
    assert(e2.getMessage.contains("no k stamp"))
    graft.plans.Pipeline.deleteRecursively(java.nio.file.Paths.get(tmp))
  }

  test("drift monitor: zero on identical slices, one on disjoint, counts conserved") {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir).filter(col("value").isNotNull)
    // identical slices: every per-bin term and the TVD are exactly 0.0
    // (integer-count arithmetic — no float-noise epsilon needed)
    val same = graft.ext.Quality.drift(ev, ev, "value", binWidth = 25.0).collect()
    assert(same.nonEmpty)
    same.foreach { r =>
      assert(r.getDouble(6) === 0.0, s"l1_term nonzero on identical slices: $r")
    }
    // disjoint supports: TVD is exactly 1
    val lo = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "value")
    val hi = Seq((4L, 210.0), (5L, 220.0)).toDF("id", "value")
    val disj = graft.ext.Quality.drift(lo, hi, "value", binWidth = 50.0)
    val totalRow = disj.filter(col("section") === "total").collect()(0)
    assert(totalRow.getDouble(6) === 1.0)
    // histogram counts are conserved: Σ n_a over bins == tot_a
    val binsA = disj.filter(col("section") === "bin")
      .agg(sum(col("n_a")), sum(col("n_b"))).collect()(0)
    assert(binsA.getLong(0) === 3L && binsA.getLong(1) === 2L)
    assert(totalRow.getLong(2) === 3L && totalRow.getLong(3) === 2L)
  }

  test("histogram subtract: exact forget == rebuild; impossible deletes refuse") {
    val Q = graft.ext.Quality
    val ev = Tables.events(spark, sfDir).filter(col("value").isNotNull)
    val forgotten = ev.filter(col("event_id") % 5 === 0)
    val retained = ev.filter(col("event_id") % 5 =!= 0)
    val tmp = tmpDir("graft_hist_forget").toString
    Q.histWrite(Q.histBuild(ev, "value", 25.0), s"$tmp/full", binWidth = 25.0)
    // subtract == fresh rebuild over retained rows, bin for bin —
    // including bins that reach zero being DROPPED, not kept at 0
    val after = Q.histSubtract(25.0, spark.read.parquet(s"$tmp/full"),
        Q.histBuild(forgotten, "value", 25.0))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rebuild = Q.histBuild(retained, "value", 25.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after === rebuild)
    assert(!after.values.exists(_ == 0L), "zero-count bins must be dropped")
    // removing a cohort that was never folded into the state refuses:
    // doubling the forgotten cohort exceeds at least one bin's count
    val doubled = Q.histMerge(25.0,
      Q.histBuild(forgotten, "value", 25.0),
      Q.histBuild(forgotten, "value", 25.0))
    val e1 = intercept[IllegalArgumentException] {
      Q.histSubtract(25.0,
        Q.histBuild(forgotten, "value", 25.0), doubled)
    }
    assert(e1.getMessage.contains("removes"))
    // width-stamp mismatch refuses before any arithmetic
    val e2 = intercept[IllegalArgumentException] {
      Q.histSubtract(50.0, spark.read.parquet(s"$tmp/full"),
        Q.histBuild(forgotten, "value", 50.0))
    }
    assert(e2.getMessage.contains("layout mismatch") &&
      e2.getMessage.contains("bin_width"))
    graft.plans.Pipeline.deleteRecursively(java.nio.file.Paths.get(tmp))
  }

  test("histogram state: persisted merge == one-pass build; mismatched widths refuse") {
    val Q = graft.ext.Quality
    val ev = Tables.events(spark, sfDir).filter(col("value").isNotNull)
    val day1 = ev.filter(col("event_id") % 2 === 0)
    val day2 = ev.filter(col("event_id") % 2 =!= 0)
    val tmp = tmpDir("graft_hist_state").toString
    // persist day-1, merge loaded state with day-2 — additivity makes
    // the persisted lifecycle invisible vs the one-pass histogram
    Q.histWrite(Q.histBuild(day1, "value", 25.0), s"$tmp/base", binWidth = 25.0)
    val merged = Q.histMerge(25.0,
        spark.read.parquet(s"$tmp/base"), Q.histBuild(day2, "value", 25.0))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val onePass = Q.histBuild(ev, "value", 25.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === onePass)
    // merging against the wrong declared width must refuse loudly
    val e1 = intercept[IllegalArgumentException] {
      Q.histMerge(50.0, spark.read.parquet(s"$tmp/base"),
        Q.histBuild(day2, "value", 50.0))
    }
    assert(e1.getMessage.contains("layout mismatch") &&
      e1.getMessage.contains("bin_width"))
    // drift over two stamped states with DIFFERENT widths must refuse
    Q.histWrite(Q.histBuild(day2, "value", 50.0), s"$tmp/w50", binWidth = 50.0)
    val e2 = intercept[IllegalArgumentException] {
      Q.driftStated(spark.read.parquet(s"$tmp/base"),
        spark.read.parquet(s"$tmp/w50"))
    }
    assert(e2.getMessage.contains("layout mismatch") &&
      e2.getMessage.contains("bin_width"))
    // driftStated on an un-stamped frame must refuse (use drift() instead)
    val e3 = intercept[IllegalArgumentException] {
      Q.driftStated(Q.histBuild(day1, "value", 25.0),
        spark.read.parquet(s"$tmp/base"))
    }
    assert(e3.getMessage.contains("no bin_width stamp"))
    graft.plans.Pipeline.deleteRecursively(java.nio.file.Paths.get(tmp))
  }

  test("windowed sketch state: partition-dir expiry == fresh build over surviving windows") {
    import graft.ext.{Dedup, Sketches}
    val docs = Tables.documents(spark, sfDir)
    val tmp = tmpDir("graft-windowed-").toString
    val dir = s"$tmp/kmv"
    def cohortSh(wts: Int) =
      Dedup.shingles(docs.filter(col("doc_id") % 3 === wts), w = 3)
        .select(col("sh"))
    (0 to 2).foreach(w => Sketches.writeWindowPartial(
      Sketches.kmvBuild(cohortSh(w), "sh", 256), dir, w.toLong))
    // expiry below every stamp is a no-op; the watermark then drops
    // exactly window 0 and reports it
    assert(Sketches.expireWindows(spark, dir, watermark = 0L) === Seq.empty)
    assert(Sketches.expireWindows(spark, dir, watermark = 1L) === Seq(0L))
    val surviving = Sketches.readWindowPartials(spark, dir)
    assert(surviving.select("window_ts").distinct().collect()
      .map(_.getInt(0)).toSet === Set(1, 2),
      "exactly the surviving window partials remain on disk")
    def hashes(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rank").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val merged = hashes(Sketches.kmvMerge(256,
      surviving.filter(col("window_ts") === 1).select(col("rank"), col("h")),
      surviving.filter(col("window_ts") === 2).select(col("rank"), col("h"))))
    val fresh = hashes(Sketches.kmvBuild(
      cohortSh(1).unionAll(cohortSh(2)), "sh", 256))
    assert(merged === fresh,
      "merge of surviving partials must equal a fresh build over surviving rows")
    // the generic age-expiry op refuses rows with no stamp column
    val bare = s"$tmp/bare"
    docs.limit(5).select("doc_id").write.parquet(bare)
    val e = intercept[IllegalArgumentException] {
      graft.operators.ScaleOps.expireRowsOlderThan(spark, bare,
        "admitted_ts", watermark = 1L)
    }
    assert(e.getMessage.contains("no 'admitted_ts' stamp"))
    graft.plans.Pipeline.deleteRecursively(java.nio.file.Paths.get(tmp))
  }

  test("grouped KMV slices equal per-key single builds; the overlap matrix equals pairwise kmvSetOps") {
    import graft.ext.Dedup
    val docs = Tables.documents(spark, sfDir)
    val sh = Dedup.shingles(docs, w = 3)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    val grouped = Sketches.kmvBuildBy(sh, "source", "sh", k = 64)
      .localCheckpoint(eager = true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // each key's slice is exactly the single-set sketch of that key
    Seq("src0", "src7").foreach { s =>
      val single = Sketches.kmvBuild(
        sh.filter(col("source") === s).select(col("sh")), "sh", k = 64)
      assert(rows(grouped.filter(col("key") === s)
          .select(col("rank"), col("h"))) === rows(single),
        s"grouped slice for $s diverged from kmvBuild")
    }
    // one pair of the matrix == kmvSetOps on the two single sketches
    val m = Sketches.kmvOverlapMatrix(grouped, k = 64)
      .filter(col("s1") === "src0" && col("s2") === "src7")
      .select("n_union_sketch", "h_k", "n_common", "union_est",
        "jaccard", "inter_est")
    val pairwise = Sketches.kmvSetOps(
      Sketches.kmvBuild(sh.filter(col("source") === "src0").select(col("sh")),
        "sh", k = 64),
      Sketches.kmvBuild(sh.filter(col("source") === "src7").select(col("sh")),
        "sh", k = 64), k = 64)
      .select("n_union_sketch", "h_k", "n_common", "union_est",
        "jaccard", "inter_est")
    assert(rows(m) === rows(pairwise),
      "matrix cell must equal the pairwise estimator bit for bit")
    // every (s1, s2) pair appears exactly once, s1 < s2
    val nKeys = grouped.select("key").distinct().count()
    val mat = Sketches.kmvOverlapMatrix(grouped, k = 64)
    assert(mat.count() === nKeys * (nKeys - 1) / 2)
    assert(mat.filter(col("s1") >= col("s2")).count() === 0)
    // malformed input refuses
    val e = intercept[IllegalArgumentException] {
      Sketches.kmvOverlapMatrix(docs.select(col("doc_id")))
    }
    assert(e.getMessage.contains("not a grouped KMV sketch"))
  }
}
