package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Dedup
import graft.streaming.Streams

class StreamingSpec extends AnyFunSuite {
  import SparkTestBase._
  import spark.implicits._

  test("AvailableNow incremental pipeline processes only new files across runs") {
    val base = tmpDir("graft_stream").toString
    val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val ev = Tables.events(spark, sfDir)
      .select("ts", "event_type", "value").cache()
    val schema = ev.schema
    // batch 1: first half of January
    ev.filter(col("ts") < to_timestamp(lit("2024-01-15 00:00:00")))
      .write.mode("append").parquet(src)
    val q1 = Streams.incrementalPipeline(spark, schema, src, out, ckpt)
    q1.awaitTermination()
    val rows1 = spark.read.parquet(out).count()
    assert(rows1 > 0, "first increment emits closed windows")
    // batch 2: the rest arrives; checkpoint must skip batch-1 files
    ev.filter(col("ts") >= to_timestamp(lit("2024-01-15 00:00:00")))
      .write.mode("append").parquet(src)
    val q2 = Streams.incrementalPipeline(spark, schema, src, out, ckpt)
    q2.awaitTermination()
    val rows2 = spark.read.parquet(out).count()
    assert(rows2 > rows1, "second increment appends the new files' windows")
    ev.unpersist()
  }

  test("stateful sessionization agrees with the batch window formulation") {
    val gap = 30L * 60 * 1000
    val evts = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"))
    val batch = Streams.sessionizeBatch(evts, gap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    // flatMapGroupsWithState on a BATCH dataset processes each group once
    // with no prior state: every closed session must match; the final open
    // session per user stays in state, so the stream emits a subset.
    val ds = evts.as[Streams.SessionEvent]
    val streamed = Streams.sessionize(ds, gap)
      .collect().map(s => (s.user_id, s.start_ms, s.end_ms, s.n_events)).toSet
    assert(streamed.subsetOf(batch))
    // exactly the per-user trailing sessions are withheld in state
    val users = evts.select("user_id").distinct().count()
    assert(batch.size - streamed.size === users)
  }

  test("watermark finalizes windows and drops late data in append mode") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = Streams.windowedCounts(ms.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("wm_out")
      .outputMode("append").start()
    try {
      // two events inside hour 10
      ms.addData((ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:40:00"), "click", 2.0))
      q.processAllAvailable()
      // far-future event pushes the watermark past hour 10 → it finalizes
      ms.addData((ts("2024-01-01 13:00:00"), "click", 3.0))
      q.processAllAvailable()
      // a LATE hour-10 event arrives after finalization → dropped
      ms.addData((ts("2024-01-01 10:50:00"), "click", 9.0))
      q.processAllAvailable()
      ms.addData((ts("2024-01-01 16:00:00"), "click", 4.0))
      q.processAllAvailable()
      val hour10 = spark.table("wm_out")
        .filter(col("window_start") === to_timestamp(lit("2024-01-01 10:00:00")))
        .collect()
      assert(hour10.length === 1)
      assert(hour10.head.getAs[Long]("n_events") === 2) // late row NOT counted
      assert(hour10.head.getAs[Long]("value_cents") === 300)
    } finally q.stop()
  }

  test("streaming dedup drops duplicate ids across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ms = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = Streams.dedupStream(
        ms.toDF().toDF("event_id", "ts", "value"), "event_id")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      ms.addData((1L, ts("2024-01-01 10:00:00"), 1.0),
        (2L, ts("2024-01-01 10:01:00"), 2.0),
        (1L, ts("2024-01-01 10:00:00"), 1.0)) // dup within the batch
      q.processAllAvailable()
      ms.addData((1L, ts("2024-01-01 10:00:00"), 1.0), // dup across batches
        (3L, ts("2024-01-01 10:02:00"), 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L)) // each id exactly once
    } finally q.stop()
  }

  test("streaming dedup is id-level and drops late arrivals past the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ms = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = Streams.dedupStream(
        ms.toDF().toDF("event_id", "ts", "value"), "event_id")
      .writeStream.format("memory").queryName("dedup_wm_out")
      .outputMode("append").start()
    try {
      ms.addData((1L, ts("2024-01-01 10:00:00"), 1.0),
        (2L, ts("2024-01-01 10:01:00"), 2.0))
      q.processAllAvailable()
      // same id at a DIFFERENT event time, inside the horizon: id-level
      // semantics (the reference's ON CONFLICT DO NOTHING) drop it — the
      // (id, ts) pair formulation would have let it through.
      ms.addData((1L, ts("2024-01-01 10:30:00"), 9.0))
      q.processAllAvailable()
      // push the watermark to 13:00 (max 14:00 − 1h horizon)
      ms.addData((99L, ts("2024-01-01 14:00:00"), 0.0))
      q.processAllAvailable()
      // a record older than the watermark arrives: dropped as late even
      // though its id is fresh; a current record still passes.
      ms.addData((3L, ts("2024-01-01 10:02:00"), 3.0),
        (4L, ts("2024-01-01 14:01:00"), 4.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_wm_out").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 4L, 99L))
    } finally q.stop()
  }

  test("dedup state survives a restart: replays across checkpoints still drop") {
    val base = tmpDir("graft_restart").toString
    val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    def ts(minOff: Int) = new java.sql.Timestamp(t0.getTime + minOff * 60000L)
    val schema = Seq((1L, t0)).toDF("event_id", "ts").schema
    // pass 1: ids 1..3 spread over 20 minutes
    Seq((1L, ts(0)), (2L, ts(10)), (3L, ts(20)))
      .toDF("event_id", "ts").coalesce(1).write.mode("append").parquet(src)
    Streams.dedupPipeline(spark, schema, src, out, ckpt, "event_id")
      .awaitTermination()
    assert(spark.read.parquet(out).count() === 3L)
    // restart: a NEW query instance on the same checkpoint sees a grown
    // source — id 2 replayed (inside the 1 h horizon of the restored
    // watermark) plus new ids 10, 11. Without restored state, id 2
    // would be re-emitted.
    Seq((2L, ts(10)), (10L, ts(30)), (11L, ts(40)))
      .toDF("event_id", "ts").coalesce(1).write.mode("append").parquet(src)
    Streams.dedupPipeline(spark, schema, src, out, ckpt, "event_id")
      .awaitTermination()
    val ids = spark.read.parquet(out).collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L, 10L, 11L),
      s"restored state must drop the replayed id 2 exactly once: ${ids.mkString(",")}")
  }

  test("streaming corpus admission: quality gate, bloom decontamination, replay dedup") {
    val base = tmpDir("graft_scc").toString
    val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    def doc(id: Long, srcName: String, text: String) =
      (id, text, "en", srcName, text.length)
    val bench = doc(0L, "src0", "alpha beta gamma delta epsilon")
    val feed = Seq(
      bench,                                                    // bench side: never in the output
      // train, quality-pass, CONTAMINATED: 1 of its 2 shingles is the
      // bench shingle → fraction 0.5 ≥ 0.3 → dropped
      doc(1L, "src2", "the alpha beta gamma delta epsilon"),
      // train, quality-pass, clean → the single survivor
      doc(2L, "src2", "the quick brown fox jumps over dog"),
      // train, quality-FAIL: no stopword, diversity 1/6 < 1/4
      doc(3L, "src2", "word word word word word word"),
      // train, quality-FAIL: under 5 tokens
      doc(4L, "src2", "too short text"))
    val df = feed.toDF("doc_id", "text", "lang", "source", "n_chars")
    df.coalesce(1).write.mode("append").parquet(src)
    // replayed delivery of the survivor — must still emit exactly once
    df.filter(col("doc_id") === 2L).coalesce(1)
      .write.mode("append").parquet(src)
    val bloom = graft.ext.Sketches.bloomBuild(
      graft.ext.Dedup.shingles(df.filter(col("source") === "src0"), w = 5)
        .select(col("sh")), "sh", numBits = 1 << 18, numHashes = 4)
    Streams.corpusCleanPipeline(spark, df.schema, src, out, ckpt,
        sh => graft.ext.Sketches.bloomGateColumn(bloom, sh, 1 << 18, 4),
        benchSources = Seq("src0", "src1"), threshold = 0.3)
      .awaitTermination()
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(3), r.getInt(4))).toSeq
    assert(got === Seq((2L, "src2", 3, 0)),
      s"exactly the clean quality-passing doc, once: $got")
  }

  test("hist-maintain: additive state survives restart; replayed folds are batch-id no-ops") {
    val base = tmpDir("graft_hm").toString
    val src = s"$base/src"; val state = s"$base/state"; val ckpt = s"$base/ckpt"
    def write(vals: Double*) =
      vals.toDF("v").coalesce(1).write.mode("append").parquet(src)
    write(1.0, 26.0, 27.0)
    write(26.5, 51.0)
    val schema = Seq(0.0).toDF("v").schema
    def readState() = graft.operators.ScaleOps.readMaintained(
        spark, state, graft.operators.ScaleOps.PointerSwap)
      .select(col("bin"), col("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Streams.histMaintainPipeline(spark, schema, src, state, ckpt, "v", 25.0)
      .awaitTermination()
    assert(readState() === Map(0L -> 1L, 1L -> 3L, 2L -> 1L))
    // restart on a grown source: only the NEW file folds
    write(2.0, 52.0)
    Streams.histMaintainPipeline(spark, schema, src, state, ckpt, "v", 25.0)
      .awaitTermination()
    val afterGrow = readState()
    assert(afterGrow === Map(0L -> 2L, 1L -> 3L, 2L -> 2L))
    // additive merge is NOT idempotent and batch ids restart at 0 under
    // a fresh checkpoint, so a foreign checkpoint lineage REFUSES loudly
    // instead of silently skipping (or double-folding whichever file
    // sequences past the old max id)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.histMaintainPipeline(spark, schema, src, state, s"$base/ck2",
        "v", 25.0).awaitTermination()
    }
    assert(err.getMessage.contains("different checkpoint lineage") ||
      Option(err.getCause).exists(_.getMessage.contains("different checkpoint lineage")))
    assert(readState() === afterGrow, "refused run must leave state untouched")
    // the standard streaming reset (rm -rf the checkpoint, SAME path)
    // is a fresh instance too — the lineage is a minted token, not a
    // path hash, so this must also refuse instead of double-folding
    graft.plans.Pipeline.deleteRecursively(java.nio.file.Paths.get(ckpt))
    val err2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.histMaintainPipeline(spark, schema, src, state, ckpt, "v", 25.0)
        .awaitTermination()
    }
    assert(err2.getMessage.contains("different checkpoint lineage") ||
      Option(err2.getCause).exists(_.getMessage.contains("different checkpoint lineage")))
    assert(readState() === afterGrow, "wiped-checkpoint rerun must not fold")
  }

  test("lm-maintain: delta-log folds reconstruct the batch model; compaction preserves counts; foreign lineage refuses") {
    val base = tmpDir("graft_lm").toString
    val src = s"$base/src"; val state = s"$base/state"; val ckpt = s"$base/ckpt"
    def write(rows: (Long, String)*) =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    write(1L -> "a b a", 2L -> "b c")
    write(3L -> "a b b")
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    import graft.ext.TextAnalysis
    def modelFromState() = TextAnalysis.lmModelFromCounts(
      Streams.lmReadCounts(spark, state))
    def asMap(m: org.apache.spark.sql.DataFrame) =
      m.collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    def nParts() = new java.io.File(state).listFiles()
      .count(_.getName.startsWith("batch_id="))
    Streams.lmMaintainPipeline(spark, schema, src, state, ckpt)
      .awaitTermination()
    val batchEquivalent = TextAnalysis.bigramLmTrain(
      Seq(1L -> "a b a", 2L -> "b c", 3L -> "a b b").toDF("doc_id", "text"))
    assert(nParts() === 2, "each micro-batch appends its own partition")
    assert(asMap(modelFromState()) === asMap(batchEquivalent),
      "aggregated delta-log must equal one batch train over the feed")
    // compaction folds the quiesced log to one partition, counts intact
    Streams.lmCompactState(spark, state)
    assert(nParts() === 1, "compaction must fold the log down")
    assert(asMap(modelFromState()) === asMap(batchEquivalent),
      "compaction must not change the aggregated counts")
    // restart on a grown source: the new file appends PAST the
    // compacted id; the model equals a batch train over all four docs
    write(4L -> "c d")
    Streams.lmMaintainPipeline(spark, schema, src, state, ckpt)
      .awaitTermination()
    assert(nParts() === 2, "the grown fold appends past the compacted id")
    val grown = TextAnalysis.bigramLmTrain(
      Seq(1L -> "a b a", 2L -> "b c", 3L -> "a b b", 4L -> "c d")
        .toDF("doc_id", "text"))
    assert(asMap(modelFromState()) === asMap(grown))
    // the reconstructed model drives the scorer end to end
    val scored = TextAnalysis.lmScoreBigram(
      Seq(5L -> "a b").toDF("doc_id", "text"), modelFromState()).collect()
    assert(scored.length === 1 && scored(0).getLong(1) === 1L)
    // a foreign checkpoint (ids restart at 0 — its deliveries would
    // OVERWRITE committed partitions) refuses via the lineage marker
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.lmMaintainPipeline(spark, schema, src, state, s"$base/ck2")
        .awaitTermination()
    }
    assert(err.getMessage.contains("different checkpoint lineage") ||
      Option(err.getCause).exists(_.getMessage.contains("different checkpoint lineage")))
    assert(asMap(modelFromState()) === asMap(grown),
      "refused run must leave the log untouched")
  }

  test("lm-gate: frozen-model admission — scorer-equivalent threshold cut; unscorable docs always reject") {
    import graft.ext.TextAnalysis
    val base = tmpDir("graft_lmg").toString
    // reference state: a delta-log trained on an a/b vocabulary
    TextAnalysis.lmCountsBuild(
        Seq((1L, "a b a b a"), (2L, "b a b")).toDF("doc_id", "text"))
      .write.parquet(s"$base/state/batch_id=0")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/state", "_lineage"), "tok-g")
    // delivery feed: on-model, off-model (unseen vocab → 1/V floors),
    // and unscorable (single token)
    Seq((10L, "a b a"), (11L, "x y z"), (12L, "a"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(s"$base/feed")
    val sch = Seq((0L, "")).toDF("doc_id", "text").schema
    Streams.lmGatePipeline(spark, sch, s"$base/feed", s"$base/state",
      s"$base/out", s"$base/ck", minAvgLp = -1.0).awaitTermination()
    val got = spark.read.parquet(s"$base/out")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    // expected set derived from the scorer itself: the spec pins GATE
    // semantics (threshold filter + unscorable rejection), not a
    // hand-derived threshold landscape
    val model = TextAnalysis.lmModelFromCounts(
      Streams.lmReadCounts(spark, s"$base/state"))
    val expected = TextAnalysis.lmScoreBigram(
        Seq((10L, "a b a"), (11L, "x y z"), (12L, "a"))
          .toDF("doc_id", "text"), model)
      .filter(col("avg_lp") >= -1.0)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    assert(got.sorted === expected.sorted)
    assert(!got.contains(12L), "unscorable docs must be rejected")
    assert(got.contains(10L), "on-model docs must be admitted")
  }

  test("lm-compact resume after crash-mid-delete: newer folds survive, staged aggregate is never re-derived") {
    // crash scenario: compaction staged its complete aggregate (with
    // _SUCCESS) over batches 0..1, crashed before the deletes; the
    // stream then appended batch 2. The resumed compaction must (a)
    // NOT re-aggregate the log (batch 2 would double into the staged
    // max id), and (b) NOT delete batch 2 (its counts are in no
    // aggregate and the checkpoint will never redeliver them).
    import graft.ext.TextAnalysis
    val base = tmpDir("graft_lmc").toString
    val state = s"$base/state"
    def counts(rows: (Long, String)*) =
      TextAnalysis.lmCountsBuild(rows.toDF("doc_id", "text"))
    counts(1L -> "a b").write.parquet(s"$state/batch_id=0")
    counts(2L -> "b c").write.parquet(s"$state/batch_id=1")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(state, "_lineage"), "tok-1")
    // the crashed attempt's complete staging over batches 0..1
    Streams.lmReadCounts(spark, state).write.parquet(s"$state.compacting-1")
    // the stream appended batch 2 after the crash
    counts(3L -> "c d").write.parquet(s"$state/batch_id=2")
    Streams.lmCompactState(spark, state)
    val partNames = new java.io.File(state).listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(partNames === Seq("batch_id=1", "batch_id=2"),
      s"resume must fold 0..1 into 1 and leave 2 alone: $partNames")
    val got = Streams.lmReadCounts(spark, state).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getLong(3)).toMap
    val expect = TextAnalysis.lmCountsBuild(
      Seq(1L -> "a b", 2L -> "b c", 3L -> "c d").toDF("doc_id", "text"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getLong(3)).toMap
    assert(got === expect, "no count lost or doubled through the resume")
  }

  test("dsir-maintain: streamed bucket counts equal the batch build; ratio table tracks a grown source") {
    // refusal legs covered by the hist-maintain suite (shared
    // additiveFold harness); this pins the DSIR-specific additivity.
    val base = tmpDir("graft_dm").toString
    val src = s"$base/src"; val state = s"$base/state"; val ckpt = s"$base/ckpt"
    def write(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "lang", "text").coalesce(1)
        .write.mode("append").parquet(src)
    write((1L, "en", "x y x"), (2L, "de", "p q"))
    write((3L, "en", "y x"))
    val schema = Seq((0L, "", "")).toDF("doc_id", "lang", "text").schema
    import graft.ext.Corpus
    val pred = col("lang") === "en"
    def stateCounts() = graft.operators.ScaleOps.readMaintained(
        spark, state, graft.operators.ScaleOps.PointerSwap)
      .select(col("bucket"), col("ct"), col("cr")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    def batchCounts(docs: org.apache.spark.sql.DataFrame) =
      Corpus.importanceCountsBuild(docs, pred, buckets = 64)
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    Streams.dsirMaintainPipeline(spark, schema, src, state, ckpt, pred,
      buckets = 64).awaitTermination()
    val all3 = Seq((1L, "en", "x y x"), (2L, "de", "p q"), (3L, "en", "y x"))
      .toDF("doc_id", "lang", "text")
    assert(stateCounts() === batchCounts(all3),
      "streamed folds must equal one batch count build over the feed")
    // grown source: the new file folds; ratios derived from the state
    // equal the batch sliced estimator over all four docs
    write((4L, "de", "q q p"))
    Streams.dsirMaintainPipeline(spark, schema, src, state, ckpt, pred,
      buckets = 64).awaitTermination()
    val all4 = all3.unionByName(
      Seq((4L, "de", "q q p")).toDF("doc_id", "lang", "text"))
    assert(stateCounts() === batchCounts(all4))
    val streamedRatios = Corpus.importanceRatiosFromCounts(
      graft.operators.ScaleOps.readMaintained(
        spark, state, graft.operators.ScaleOps.PointerSwap), buckets = 64)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val batchRatios = Corpus.importanceLogRatiosSliced(all4, pred, buckets = 64)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(streamedRatios === batchRatios,
      "ratio table from streamed state must equal the batch estimator")
  }

  test("hist-maintain: a batch-written baseline attaches and the stream folds onto it") {
    val base = tmpDir("graft_hmb").toString
    val src = s"$base/src"; val state = s"$base/state"; val ckpt = s"$base/ckpt"
    // day-0 handoff: the baseline persisted by the BATCH drift API
    // (bin/n/bin_width only — no stamp, no lineage)
    graft.ext.Quality.histWrite(
      graft.ext.Quality.histBuild(Seq(1.0, 26.0).toDF("v"), "v", 25.0),
      state, binWidth = 25.0)
    Seq(27.0, 51.0).toDF("v").coalesce(1).write.mode("append").parquet(src)
    val schema = Seq(0.0).toDF("v").schema
    Streams.histMaintainPipeline(spark, schema, src, state, ckpt, "v", 25.0)
      .awaitTermination()
    val got = graft.operators.ScaleOps.readMaintained(
        spark, state, graft.operators.ScaleOps.PointerSwap)
      .select(col("bin"), col("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 1L, 1L -> 2L, 2L -> 1L),
      "stream fold must land ON TOP of the batch baseline")
  }

  test("lm-maintain day-0 bootstrap: a flat batch-written counts table adopts as the baseline partition") {
    import graft.ext.TextAnalysis
    val base = tmpDir("graft_lmb").toString
    val src = s"$base/src"; val state = s"$base/state"; val ckpt = s"$base/ckpt"
    // day-0 handoff: the baseline persisted by the BATCH API — a flat
    // counts table, no lineage marker, no batch_id partitions
    TextAnalysis.lmCountsBuild(
        Seq(1L -> "a b a", 2L -> "b c").toDF("doc_id", "text"))
      .write.parquet(state)
    Seq(3L -> "a b b").toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(src)
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    Streams.lmMaintainPipeline(spark, schema, src, state, ckpt)
      .awaitTermination()
    def asMap(m: org.apache.spark.sql.DataFrame) =
      m.collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val union = TextAnalysis.bigramLmTrain(
      Seq(1L -> "a b a", 2L -> "b c", 3L -> "a b b").toDF("doc_id", "text"))
    assert(asMap(TextAnalysis.lmModelFromCounts(
        Streams.lmReadCounts(spark, state))) === asMap(union),
      "maintained-from-bootstrap must equal one batch train on the union")
    // the baseline landed below every checkpoint id — replays can't hit it
    assert(new java.io.File(state, "batch_id=-1").isDirectory)
    // the stream keeps folding on the adopted state
    Seq(4L -> "c d").toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(src)
    Streams.lmMaintainPipeline(spark, schema, src, state, ckpt)
      .awaitTermination()
    val grown = TextAnalysis.bigramLmTrain(
      Seq(1L -> "a b a", 2L -> "b c", 3L -> "a b b", 4L -> "c d")
        .toDF("doc_id", "text"))
    assert(asMap(TextAnalysis.lmModelFromCounts(
      Streams.lmReadCounts(spark, state))) === asMap(grown))
    // a REAL pre-marker delta-log (batch_id partitions, no marker)
    // still refuses — its fold history cannot be validated
    val bad = s"$base/badstate"
    TextAnalysis.lmCountsBuild(Seq(9L -> "x y").toDF("doc_id", "text"))
      .write.parquet(s"$bad/batch_id=0")
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.lmMaintainPipeline(spark, schema, src, bad, s"$base/ck2")
        .awaitTermination()
    }
    assert(err.getMessage.contains("no lineage marker") ||
      Option(err.getCause).exists(_.getMessage.contains("no lineage marker")))
  }

  test("nb/dsir-maintain day-0 bootstrap: batch-built count states adopt and the stream folds onto them") {
    import graft.ext.{Classifier, Corpus}
    val base = tmpDir("graft_nbb").toString
    // NB: baseline = batch nbCountsBuild persisted plain (stamped with
    // buckets, but no last_batch_id/lineage)
    val nbState = s"$base/nbstate"; val nbSrc = s"$base/nbsrc"
    val a = Seq((1L, "a b a", "en"), (2L, "b c", "es"))
      .toDF("doc_id", "text", "lang")
    val b = Seq((3L, "a b b", "en")).toDF("doc_id", "text", "lang")
    Classifier.nbCountsBuild(a, buckets = 64).write.parquet(nbState)
    b.coalesce(1).write.mode("append").parquet(nbSrc)
    val sch = Seq((0L, "", "")).toDF("doc_id", "text", "lang").schema
    Streams.nbMaintainPipeline(spark, sch, nbSrc, nbState, s"$base/nbck",
      buckets = 64).awaitTermination()
    def nbMap(df: org.apache.spark.sql.DataFrame) =
      df.select("label", "bucket", "c").collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(nbMap(graft.operators.ScaleOps.readMaintained(spark, nbState,
        graft.operators.ScaleOps.PointerSwap)) ===
      nbMap(Classifier.nbCountsBuild(a.unionByName(b), buckets = 64)),
      "NB maintained-from-bootstrap must equal a batch build on the union")
    // DSIR: same handoff for the importance-count state
    val dState = s"$base/dstate"; val dSrc = s"$base/dsrc"
    val pred = col("lang") === "en"
    Corpus.importanceCountsBuild(a, pred, buckets = 64)
      .write.parquet(dState)
    b.coalesce(1).write.mode("append").parquet(dSrc)
    Streams.dsirMaintainPipeline(spark, sch, dSrc, dState, s"$base/dck",
      pred, buckets = 64).awaitTermination()
    def dMap(df: org.apache.spark.sql.DataFrame) =
      df.select("bucket", "ct", "cr").collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(dMap(graft.operators.ScaleOps.readMaintained(spark, dState,
        graft.operators.ScaleOps.PointerSwap)) ===
      dMap(Corpus.importanceCountsBuild(a.unionByName(b), pred, buckets = 64)),
      "DSIR maintained-from-bootstrap must equal a batch build on the union")
  }

  test("sketch-maintain: state survives restart and batch replay is a merge no-op") {
    val base = tmpDir("graft_skm").toString
    val src = s"$base/src"; val state = s"$base/state"; val ckpt = s"$base/ckpt"
    def write(items: String*) =
      items.toDF("item").coalesce(1).write.mode("append").parquet(src)
    write("a", "b", "c")
    write("c", "d")
    val schema = Seq("x").toDF("item").schema
    val k = 8
    Streams.sketchMaintainPipeline(spark, schema, src, state, ckpt, "item", k)
      .awaitTermination()
    def readState() = graft.operators.ScaleOps.readMaintained(
      spark, state, graft.operators.ScaleOps.PointerSwap)
    def stateHashes() = readState()
      .orderBy(col("rank")).collect().map(_.getLong(1)).toSeq
    val afterP1 = stateHashes()
    // restart on a grown source: only the NEW file folds (checkpoint
    // skips processed files), but the state must already hold a,b,c,d
    write("d", "e")
    Streams.sketchMaintainPipeline(spark, schema, src, state, ckpt, "item", k)
      .awaitTermination()
    val afterP2 = stateHashes()
    // final state == single-pass sketch of everything, bit for bit
    val oneShot = graft.ext.Sketches.kmvBuild(
        Seq("a", "b", "c", "d", "e").toDF("item"), "item", k)
      .orderBy(col("rank")).collect().map(_.getLong(1)).toSeq
    assert(afterP2 === oneShot)
    assert(afterP1.toSet.subsetOf(afterP2.toSet))
    // the state root is a PointerSwap table: a `current` pointer naming
    // a complete immutable version, with the predecessor retained for
    // in-flight readers — no crash instant exposes a partial state
    // (the plain-overwrite shape this replaced had a delete-then-write
    // window that could present an EMPTY state to a replayed batch).
    val rootFiles = new java.io.File(state).listFiles().map(_.getName).toSet
    assert(rootFiles.contains("current"), s"no pointer in $rootFiles")
    val versions = rootFiles.filter(_.matches("v-\\d+"))
    assert(versions.size == 2,
      s"live + retained predecessor expected, got $versions")
    val stale = versions.map(_.stripPrefix("v-").toInt).min
    // a reader that resolved just before the last swap still scans
    // intact bytes
    assert(spark.read.parquet(s"$state/v-$stale").count() > 0)
    // replay safety by ALGEBRA: re-folding an already-folded batch's
    // sketch into the state changes nothing
    val st = readState()
    val refold = graft.ext.Sketches.kmvMerge(k,
        graft.ext.Sketches.kmvBuild(Seq("c", "d").toDF("item"), "item", k), st)
      .orderBy(col("rank")).collect().map(_.getLong(1)).toSeq
    assert(refold === afterP2, "idempotent merge: replayed fold must be a no-op")
    // a restart with a MISMATCHED k refuses loudly instead of corrupting
    write("f")
    val err = intercept[Exception] {
      Streams.sketchMaintainPipeline(spark, schema, src, state, s"$base/ck2",
        "item", k + 1).awaitTermination()
    }
    assert(err.getMessage != null)
  }

  test("index-maintain: streamed build+appends reproduce brute-force search, restart folds only new files") {
    val base = tmpDir("graft_idxm").toString
    val src = s"$base/src"; val idx = s"$base/index"; val ckpt = s"$base/ckpt"
    // deterministic tiny corpus: 30 vectors, dim 4
    def vec(i: Int) = Array.tabulate(4)(j => ((i * 7 + j * 3) % 11 - 5).toFloat)
    def write(ids: Range) =
      ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(src)
    write(0 until 10)
    write(10 until 20)
    val schema = spark.read.parquet(src).schema
    Streams.indexMaintainPipeline(spark, schema, src, idx, ckpt,
        numCells = 4, m = 2, numCodes = 4, dim = 4)
      .awaitTermination()
    // quantizer FROZEN from the first batch: all centroid cells are
    // first-file vec_ids (build seeds cells from the first numCells ids)
    val cells0 = spark.read.parquet(s"$idx/centroids")
      .select("cell").collect().map(_.getLong(0)).sorted.toSeq
    assert(cells0 === Seq(0L, 1L, 2L, 3L))
    // restart on a grown source: checkpoint skips processed files, the
    // new file APPENDs against the frozen quantizer
    write(20 until 30)
    Streams.indexMaintainPipeline(spark, schema, src, idx, ckpt,
        numCells = 4, m = 2, numCodes = 4, dim = 4)
      .awaitTermination()
    assert(spark.read.parquet(s"$idx/centroids")
      .select("cell").collect().map(_.getLong(0)).sorted.toSeq === cells0,
      "append must never retrain the quantizer")
    val emb = (0 until 30).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    // searched flat at nprobe = numCells, the maintained index IS
    // brute force — any lost/doubled vector across the three batches
    // would break the equality
    val got = rows(graft.ext.VectorIndex.searchFlat(spark, idx,
      emb.filter(col("vec_id") < 3), k = 5, nprobe = 4)
      .select(col("qid"), col("rank").cast("int"), col("cid")))
    val want = rows(graft.ext.Similarity.bruteForceTopK(emb,
      emb.filter(col("vec_id") < 3), k = 5)
      .select(col("qid"), col("rank").cast("int"), col("cid")))
    assert(got === want)
  }

  test("interval-join buffers survive a restart: cross-pass pairs still match") {
    val base = tmpDir("graft_jrestart").toString
    val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    def ts(minOff: Int) = new java.sql.Timestamp(t0.getTime + minOff * 60000L)
    def rows(r: (Long, Long, java.sql.Timestamp, String, Double)*) =
      r.toSeq.toDF("event_id", "user_id", "ts", "event_type", "value")
    val schema = rows((1L, 1L, t0, "click", 0.0)).schema
    // pass 1: a purchase and one click that matches it in-pass
    rows((100L, 1L, ts(50), "purchase", 2.0), (10L, 1L, ts(55), "click", 0.0))
      .coalesce(1).write.mode("append").parquet(src)
    Streams.intervalJoinPipeline(spark, schema, src, out, ckpt)
      .awaitTermination()
    assert(spark.read.parquet(out).count() === 1L)
    // pass 2, same checkpoint: clicks at 70 and 80 min can match the
    // pass-1 purchase (50 min) ONLY through the restored join buffer;
    // plus a fresh pass-2 purchase for an in-pass match.
    rows((11L, 1L, ts(70), "click", 0.0), (101L, 1L, ts(65), "purchase", 3.0),
        (12L, 1L, ts(80), "click", 0.0))
      .coalesce(1).write.mode("append").parquet(src)
    Streams.intervalJoinPipeline(spark, schema, src, out, ckpt)
      .awaitTermination()
    val pairs = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // (11,100) and (12,100) are the cross-pass pairs only the restored
    // buffer can supply; (11,101) and (12,101) are pass-2-internal.
    assert(pairs === Set((10L, 100L), (11L, 100L), (11L, 101L),
      (12L, 100L), (12L, 101L)),
      s"restored buffer must supply the cross-pass matches: $pairs")
  }

  test("session-window state survives a restart: the split session merges into one") {
    val base = tmpDir("graft_srestart").toString
    val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def ts(minOff: Int) = new java.sql.Timestamp(t0.getTime + minOff * 60000L)
    val gapMs = 30L * 60 * 1000
    val schema = Seq((1L, t0)).toDF("user_id", "ts").schema
    // pass 1: two events of user 1's session; its window end (10:10 +
    // gap) is above pass-1's watermark, so the session stays OPEN in
    // checkpointed state, not emitted
    Seq((1L, ts(0)), (1L, ts(10)))
      .toDF("user_id", "ts").coalesce(1).write.mode("append").parquet(src)
    Streams.sessionPipeline(spark, schema, src, out, ckpt, gapMs)
      .awaitTermination()
    assert(spark.read.parquet(out).count() === 0L, "open session must not emit")
    // pass 2, same checkpoint: a third event within the gap extends the
    // RESTORED session; a far-future event pushes the watermark past its
    // window end so it finalizes. Fresh state would emit (10:00,10:10,2)
    // and (10:25,...) as two halves — or nothing mergeable at all.
    Seq((1L, ts(25)), (99L, ts(8 * 60)))
      .toDF("user_id", "ts").coalesce(1).write.mode("append").parquet(src)
    Streams.sessionPipeline(spark, schema, src, out, ckpt, gapMs)
      .awaitTermination()
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(rows.toSeq === Seq((1L, ts(0).getTime, ts(25).getTime, 3)),
      s"restored state must merge the split session: ${rows.mkString(",")}")
  }

  test("exactly-once sink: a replayed micro-batch idempotently overwrites its own batch directory") {
    val base = tmpDir("graft_eos").toString
    val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val ev = Tables.events(spark, sfDir).select("event_id", "ts", "value")
    ev.limit(100).write.parquet(src)
    val schema = spark.read.parquet(src).schema
    def run() = {
      val q = Streams.exactlyOnceSink(
        spark.readStream.schema(schema).parquet(src), out, ckpt)
      q.awaitTermination()
    }
    run()
    val once = spark.read.parquet(s"$out/data").count()
    assert(once === 100)
    // simulate a sink-side replay: wipe the checkpoint so the SAME files
    // re-process as the same batch id — the per-batch overwrite must
    // rewrite, not append.
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => java.nio.file.Files.delete(f))
    finally walk.close()
    run()
    assert(spark.read.parquet(s"$out/data").count() === once,
      "replayed batch must not double-write")
  }

  test("session_window streaming finalizes idle sessions once the watermark passes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ms = MemoryStream[(Long, java.sql.Timestamp)]
    val q = Streams.sessionWindows(
        ms.toDF().toDF("user_id", "ts"), gapMs = 30L * 60 * 1000)
      .writeStream.format("memory").queryName("sw_out")
      .outputMode("append").start()
    try {
      ms.addData((10L, ts("2024-01-01 10:00:00")), (10L, ts("2024-01-01 10:10:00")))
      q.processAllAvailable()
      assert(spark.table("sw_out").count() === 0) // session still open
      // another user far ahead pushes the watermark past 10:40 → user 10's
      // gap can never be bridged, the session finalizes and emits.
      ms.addData((20L, ts("2024-01-01 14:00:00")))
      q.processAllAvailable()
      val rows = spark.table("sw_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      assert(rows.toSeq === Seq((10L,
        ts("2024-01-01 10:00:00").getTime,
        ts("2024-01-01 10:10:00").getTime, 2)))
    } finally q.stop()
  }

  test("stream-stream interval join attaches in-horizon rows and respects the bound") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val joined = Streams.intervalJoin(
        clicks.toDF().toDF("event_id", "user_id", "ts"),
        purchases.toDF().toDF("user_id", "pts", "value"),
        "user_id", "ts", "pts", horizon = "1 hour")
      .select(col("l.event_id"), col("r.value"))
    val q = joined.writeStream.format("memory").queryName("ij_out")
      .outputMode("append").start()
    try {
      purchases.addData((10L, ts("2024-01-01 09:30:00"), 5.0),  // in horizon of click@10:00
        (10L, ts("2024-01-01 08:30:00"), 7.0))                  // 90 min before: outside
      clicks.addData((1L, 10L, ts("2024-01-01 10:00:00")),
        (2L, 20L, ts("2024-01-01 10:00:00")))                   // no purchases for user 20
      q.processAllAvailable()
      val out = spark.table("ij_out").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(out === Set((1L, 5.0)))
    } finally q.stop()
  }

  test("windowed counts in batch mode: totals reconcile with raw events") {
    val ev = Tables.events(spark, sfDir)
    val agg = Streams.windowedCounts(ev)
    assert(agg.agg(sum("n_events")).head().getLong(0) === ev.count())
  }

  test("near-dedup stream: admission matches the sequential batch simulation; replay legs are no-ops") {
    val base = tmpDir("graft_neardedup").toString
    val src = s"$base/src"; val state = s"$base/state"
    val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val docs = Tables.documents(spark, sfDir)
    val (w, nh, bw) = (5, 8, 2)
    // two batches in pinned mtime order (admission is order-dependent)
    val staged = scala.collection.mutable.Set[String]()
    (0 until 2).foreach { i =>
      docs.filter(col("doc_id") % 2 === i).coalesce(1)
        .write.mode("append").parquet(src)
      new java.io.File(src).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !staged.contains(f.getName))
        .foreach { f =>
          require(f.setLastModified(1700000000000L + i * 60000L),
            s"could not pin mtime for $f — staged batch order would be undefined")
          staged += f.getName
        }
    }
    val sch = spark.read.parquet(src).schema
    val q = Streams.nearDedupPipeline(spark, sch, src, state, out, ckpt,
      w = w, numHashes = nh, bandWidth = bw)
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) === 2)
    val sinkIds = spark.read.parquet(out).select(col("doc_id"))
      .as[Long].collect().toSet
    // sequential simulation with the BATCH operators: the stream must be
    // exactly incrementalNearDup threaded through appended state
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 2 === 1)
    val adm0 = Dedup.incrementalNearDup(b0,
      Dedup.bandTable(b0.limit(0), w, nh, bw), w, nh, bw)
    val adm1 = Dedup.incrementalNearDup(b1,
      Dedup.bandTable(adm0, w, nh, bw), w, nh, bw)
    val simIds = (adm0.select(col("doc_id")).as[Long].collect() ++
      adm1.select(col("doc_id")).as[Long].collect()).toSet
    assert(sinkIds === simIds,
      "streamed admission diverged from the sequential batch simulation")
    // replay leg 1: batch-2 admission against (final state − own ids)
    // reproduces the original decision — the subtraction that makes a
    // replayed foreachBatch recompute its first-delivery answer
    val finalState = spark.read.parquet(state)
    val replayAdm = Dedup.incrementalNearDup(b1,
      finalState.join(b1.select(col("doc_id")), Seq("doc_id"), "left_anti"),
      w, nh, bw)
    assert(replayAdm.select(col("doc_id")).as[Long].collect().toSet ===
      adm1.select(col("doc_id")).as[Long].collect().toSet)
    // replay leg 2: the insert-if-absent delta of a replayed append is empty
    val delta = Dedup.bandTable(replayAdm, w, nh, bw)
      .join(finalState.select(col("doc_id"), col("band")),
        Seq("doc_id", "band"), "left_anti")
    assert(delta.count() === 0, "replayed state append must be a no-op")
    graft.plans.Pipeline.deleteRecursively(java.nio.file.Paths.get(base))
  }

  test("semantic gate: per-band anti-joins == batch embedding sweep; unembedded docs pass") {
    import graft.ext.Corpus
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val bench = Seq("src0", "src1")
    val state = Corpus.benchSignatureTable(docs, emb, bench)
    val train = docs.filter(!col("source").isin(bench: _*))
      .select(col("doc_id"), col("source"), col("n_chars"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    // the stateless gate (running here in batch — same code drives the
    // stream) must keep exactly the docs the batch sweep keeps
    val gated = ids(Streams.semanticGate(train,
      Streams.SemanticGate(emb, state, threshold = 0.42)))
    val swept = ids(Corpus.embeddingContaminatedIds(train, emb, state,
      threshold = 0.42))
    assert(gated === ids(train) -- swept,
      "per-band anti-join gate diverged from the batch sweep")
    // a doc with NO embedding row can never be swept — empty band keys
    // match nothing, null cosine clears nothing
    val ghost = Seq((999999999L, "srcX", 42L))
      .toDF("doc_id", "source", "n_chars")
    assert(ids(Streams.semanticGate(ghost,
      Streams.SemanticGate(emb, state, threshold = 0.0)))
      === Set(999999999L))
    // a mismatched state layout refuses loudly
    val e = intercept[IllegalArgumentException] {
      Streams.semanticGate(train,
        Streams.SemanticGate(emb, state, 0.42, numPlanes = 8))
    }
    assert(e.getMessage.contains("layout mismatch"))
  }

  test("nb-forget from maintained state: stamps ride through and the stream keeps folding") {
    import graft.ext.Classifier
    val base = tmpDir("graft_nbf").toString
    val src = s"$base/src"; val state = s"$base/state"; val ckpt = s"$base/ckpt"
    def write(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "lang").coalesce(1)
        .write.mode("append").parquet(src)
    write((1L, "a b a", "en"), (2L, "b c", "es"))
    write((3L, "a b b", "en"))
    val schema = Seq((0L, "", "")).toDF("doc_id", "text", "lang").schema
    def counts() = graft.operators.ScaleOps
      .readMaintained(spark, state, graft.operators.ScaleOps.PointerSwap)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select("label", "bucket", "c").collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    Streams.nbMaintainPipeline(spark, schema, src, state, ckpt, buckets = 64)
      .awaitTermination()
    // forget doc 2 — the state must equal a build on docs 1 and 3
    Streams.forgetFromMaintained(spark, state,
      Classifier.nbCountsBuild(Seq((2L, "b c", "es")).toDF("doc_id", "text", "lang"),
        buckets = 64),
      keys = Seq("label", "bucket", "buckets"), counts = Seq("c"),
      opName = "test")
    val survivors = Seq((1L, "a b a", "en"), (3L, "a b b", "en"))
      .toDF("doc_id", "text", "lang")
    assert(asMap(counts()) === asMap(Classifier.nbCountsBuild(survivors, buckets = 64)))
    val stamps = counts().agg(max(col("last_batch_id"))).collect()(0)
    assert(stamps.getLong(0) === 1L, "fold stamps must survive the forget")
    // the SAME checkpoint keeps folding on the forgotten state
    write((4L, "c d", "fr"))
    Streams.nbMaintainPipeline(spark, schema, src, state, ckpt, buckets = 64)
      .awaitTermination()
    val grown = survivors.unionByName(
      Seq((4L, "c d", "fr")).toDF("doc_id", "text", "lang"))
    assert(asMap(counts()) === asMap(Classifier.nbCountsBuild(grown, buckets = 64)),
      "post-forget folds must land on the forgotten baseline")
    // a plain (non-maintained) table refuses
    val plain = s"$base/plain"
    Classifier.nbCountsBuild(survivors, buckets = 64).write.parquet(plain)
    val e = intercept[IllegalArgumentException] {
      Streams.forgetFromMaintained(spark, plain,
        Classifier.nbCountsBuild(survivors, buckets = 64),
        Seq("label", "bucket"), Seq("c"), "test")
    }
    assert(e.getMessage.contains("not a stream-maintained state"))
  }

  test("lm-expire: dropping the oldest delta-log batch == training on the retained batches; idempotent; refuses emptying") {
    import graft.ext.TextAnalysis
    val base = tmpDir("graft_lmx").toString
    val state = s"$base/state"
    def logWrite(id: Long, rows: (Long, String)*) =
      TextAnalysis.lmCountsBuild(rows.toDF("doc_id", "text"))
        .write.parquet(s"$state/batch_id=$id")
    logWrite(0L, 1L -> "a b a")
    logWrite(1L, 2L -> "b c")
    logWrite(2L, 3L -> "c d c")
    val marker = new java.io.File(state, "_lineage")
    java.nio.file.Files.write(marker.toPath, "tok".getBytes)
    def asMap(m: org.apache.spark.sql.DataFrame) =
      m.collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    def model() = TextAnalysis.lmModelFromCounts(
      Streams.lmReadCounts(spark, state))
    Streams.lmExpireBatchesBelow(spark, state, minKeepId = 1)
    val retained = TextAnalysis.bigramLmTrain(
      Seq(2L -> "b c", 3L -> "c d c").toDF("doc_id", "text"))
    assert(asMap(model()) === asMap(retained),
      "expiry must subtract the expired batch bit-exactly")
    // idempotent — a second run with the same cutoff is a no-op
    Streams.lmExpireBatchesBelow(spark, state, minKeepId = 1)
    assert(asMap(model()) === asMap(retained))
    // a crashed run's tombstone is swept by the next pass
    val part = new java.io.File(state, "batch_id=1")
    val tomb = new java.io.File(state, ".expiring-batch_id=1")
    assert(part.renameTo(tomb))
    Streams.lmExpireBatchesBelow(spark, state, minKeepId = 2)
    assert(asMap(model()) === asMap(TextAnalysis.bigramLmTrain(
      Seq(3L -> "c d c").toDF("doc_id", "text"))),
      "tombstoned partition stays deleted; cutoff applies to the rest")
    // refusing to empty the whole log
    val e = intercept[IllegalArgumentException] {
      Streams.lmExpireBatchesBelow(spark, state, minKeepId = 99)
    }
    assert(e.getMessage.contains("would empty"))
  }

  test("lm-expire after lm-compact: boundary inside the folded range refuses; at or past its edges stays exact") {
    import graft.ext.TextAnalysis
    val base = tmpDir("graft_lmxc").toString
    val state = s"$base/state"
    def logWrite(id: Long, rows: (Long, String)*) =
      TextAnalysis.lmCountsBuild(rows.toDF("doc_id", "text"))
        .write.parquet(s"$state/batch_id=$id")
    logWrite(0L, 1L -> "a b a")
    logWrite(1L, 2L -> "b c")
    logWrite(2L, 3L -> "c d c")
    java.nio.file.Files.write(
      new java.io.File(state, "_lineage").toPath, "tok".getBytes)
    def asMap(m: org.apache.spark.sql.DataFrame) =
      m.collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    def model() = TextAnalysis.lmModelFromCounts(
      Streams.lmReadCounts(spark, state))
    // compact 0..2 into batch_id=2 (folded range [0, 2]), then append 3
    Streams.lmCompactState(spark, state)
    logWrite(3L, 4L -> "d e")
    // a boundary strictly inside the folded range can't be honored:
    // batches 0 and 1's counts live only inside the folded partition —
    // silently keeping them would retain what the caller asked to drop
    val e2 = intercept[IllegalArgumentException] {
      Streams.lmExpireBatchesBelow(spark, state, minKeepId = 1)
    }
    assert(e2.getMessage.contains("compacted range"))
    val e3 = intercept[IllegalArgumentException] {
      Streams.lmExpireBatchesBelow(spark, state, minKeepId = 2)
    }
    assert(e3.getMessage.contains("compacted range"))
    // at the range's start: partition kept whole — exact no-op
    Streams.lmExpireBatchesBelow(spark, state, minKeepId = 0)
    assert(asMap(model()) === asMap(TextAnalysis.bigramLmTrain(
      Seq(1L -> "a b a", 2L -> "b c", 3L -> "c d c", 4L -> "d e")
        .toDF("doc_id", "text"))))
    // a second compaction folds the previously-compacted partition: the
    // new stamp must span the OLD range's minimum (chained through the
    // stamp, not the old partition's id) — boundaries inside still
    // refuse. Folds {batch_id=2 (range [0,2]), batch_id=3} → range [0,3].
    Streams.lmCompactState(spark, state)
    val e4 = intercept[IllegalArgumentException] {
      Streams.lmExpireBatchesBelow(spark, state, minKeepId = 3)
    }
    assert(e4.getMessage.contains("compacted range"))
    // past the folded id: the compacted partition drops WHOLE — exact
    logWrite(4L, 5L -> "e f")
    Streams.lmExpireBatchesBelow(spark, state, minKeepId = 4)
    assert(asMap(model()) === asMap(TextAnalysis.bigramLmTrain(
      Seq(5L -> "e f").toDF("doc_id", "text"))),
      "dropping the whole folded partition must equal training on the rest")
  }
}
