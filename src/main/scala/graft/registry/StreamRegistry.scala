package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.silver.Silver
import graft.gold.Gold
import graft.bronze.Bronze
import graft.enrich.Enrich
import graft.ext.{Dedup, Multimodal, TextAnalysis}
import Shared._

/** Structured Streaming surface: windowed aggs, joins, dedup, restart family, admission pipelines.
  *
  * One slice of the driver registry ([[graft.SparkEntry]] merges the
  * family registries; EntrySmokeSpec proves the merged contract). Split
  * out of the monolithic SparkEntry in round 11 — entries are verbatim,
  * shared harness helpers and oracle CTE fragments live in [[Shared]].
  */
private[graft] object StreamRegistry {

  /** State-partition sizing for the registered streaming pipelines
    * (round 12): 8 partitions fit this bench's state volume — the A/B
    * table in PLANS.md priced the stateful family at 0.71× wall vs the
    * 32-partition cluster default, hash-identical results. See
    * [[graft.streaming.Streams.stateSizedSession]] for the scale
    * argument (size state partitions to state, not to cores).
    */
  private def stateSized(s: SparkSession): SparkSession =
    graft.streaming.Streams.stateSizedSession(s, 8)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // batch/stream-agnostic transforms (graft.streaming) run here in
    // batch mode — identical code drives the AvailableNow streaming jobs.
    "stream_windowed_counts" -> ((s, d) =>
      graft.streaming.Streams.windowedCounts(Tables.events(s, d))
        .withColumn("window_start_ms", unix_millis(col("window_start")))
        .drop("window_start")
        .orderBy("window_start_ms", "event_type")),

    "stream_asof_join" -> ((s, d) => {
      // point-in-time join: each click picks up the user's most recent
      // prior-or-equal purchase value (leakage-free feature join).
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("pid"), col("value"))
      graft.operators.AsofJoin
        .asofJoin(clicks, purchases, Seq("user_id"), "ts", "pid", Seq("value"))
        .select(col("event_id"), col("user_id"), col("asof_value"))
        .orderBy("event_id")
    }),

    "stream_sessionize" -> ((s, d) =>
      graft.streaming.Streams.sessionizeBatch(
          Tables.events(s, d).select(col("user_id"),
            unix_millis(col("ts")).as("ts_ms")),
          gapMs = 30L * 60 * 1000)
        .orderBy("user_id", "start_ms")),

    "stream_session_window" -> ((s, d) =>
      // the built-in session_window operator; oracle = the identical
      // gap-session semantics in the lag/cumsum SQL formulation, so the
      // declarative, stateful and batch session forms all agree.
      graft.streaming.Streams.sessionWindows(
          Tables.events(s, d).select(col("user_id"), col("ts")),
          gapMs = 30L * 60 * 1000)
        .orderBy("user_id", "start_ms")),

    "stream_interval_join" -> ((s, d) => {
      // recent-context attachment: purchases in the hour before each
      // click, via the watermark-bounded stream-stream interval join
      // (batch form of the same code; state bounded by the horizon).
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("value"))
      graft.streaming.Streams
        .intervalJoin(clicks, purchases, "user_id", "ts", "pts",
          horizon = "1 hour", joinType = "left")
        .groupBy(col("l.event_id").as("event_id"),
          col("l.user_id").as("user_id"))
        .agg(count(col("r.pts")).as("n_recent_purchases"),
          coalesce(centsSum(col("r.value")), lit(0L))
            .as("recent_value_cents"))
        .orderBy("event_id")
    }),

    "stream_pipeline" -> ((s, d) => Stage.scratch("graft-stream-") { tmp =>
      // the LIVE streaming path (not the batch twin): AvailableNow
      // file-stream over the events source → watermarked hourly windows →
      // parquet sink, then the sink contents read back. Append mode only
      // emits windows FINALIZED by the watermark (end ≤ max event time −
      // 1 h); both sides filter strictly below that line so the edge
      // window's emit-or-hold never decides the comparison.
      val src = streamSource(tmp, d, "events.parquet")
      val sch = s.read.parquet(src).schema
      graft.streaming.Streams.incrementalPipeline(
          stateSized(s), sch, src, s"$tmp/out", s"$tmp/ck", prepare = rebuildStreamTs)
        .awaitTermination()
      sinkBelowHorizon(s, d, s"$tmp/out", "event_type")
    }),

    "stream_pipeline_restart" -> ((s, d) => Stage.scratch("graft-stream-restart-") { tmp =>
      // windowed-aggregation state survives a restart: the feed split at
      // its midpoint into two AvailableNow passes on ONE checkpoint. The
      // boundary hour has events on both sides of the restart, and its
      // window is NOT finalized by pass 1 (its end sits above pass-1's
      // watermark), so only the CHECKPOINTED window state can aggregate
      // it correctly in pass 2 — a fresh-state restart would emit a
      // partial count and hash-mismatch. Windows below pass-1's horizon
      // emit in pass 1 and are never re-emitted (append-mode finalize-
      // once). Oracle = the batch aggregation below the final horizon,
      // exactly as stream_pipeline.
      val src = s"$tmp/src"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      val feed = eventsFeedNanos(s, d)
      val bounds = feed.agg(min(col("ts")), max(col("ts"))).head()
      val mid = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 2
      feed.filter(col("ts") < lit(mid)).coalesce(1)
        .write.mode("append").parquet(src)
      val sch = s.read.parquet(src).schema
      def runPass(): Unit =
        graft.streaming.Streams.incrementalPipeline(
          stateSized(s), sch, src, s"$tmp/out", s"$tmp/ck",
          prepare = rebuildStreamTs).awaitTermination()
      runPass()
      feed.filter(col("ts") >= lit(mid)).coalesce(1)
        .write.mode("append").parquet(src)
      runPass()
      sinkBelowHorizon(s, d, s"$tmp/out", "event_type")
    }),

    "stream_session_restart" -> ((s, d) => Stage.scratch("graft-session-restart-") { tmp =>
      // SESSION-WINDOW state survives a restart — the FOURTH stateful
      // class, completing the restart quad (dedup ids / window aggs /
      // join buffers / session windows): two AvailableNow passes of the
      // live session_window pipeline on ONE checkpoint, the feed split
      // INSIDE a real session (a global midpoint split never straddles
      // one on this feed — sessions are minutes long, the feed a
      // month): the cut lands in the WIDEST in-session event gap, so
      // that session provably has events on both sides of the restart.
      // Only the checkpointed session state pass 2 restores can MERGE
      // the two halves — a fresh-state restart emits two half-sessions
      // and hash-mismatches; the require below additionally pins the
      // merged session in the sink. Oracle = batch sessionization of
      // the WHOLE feed (the restart must be invisible), both sides
      // restricted to sessions finalized strictly below the final
      // watermark horizon so the edge session's emit-or-hold never
      // decides the comparison.
      val src = s"$tmp/src"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      val feed = eventsFeedNanos(s, d)
      val gapMs = 30L * 60 * 1000
      val maxNs = feed.agg(max(col("ts"))).head().getLong(0)
      // widest same-session gap, well below the final horizon (3 h
      // margin: sessions are < 1 h long, so the session the cut splits
      // is finalized in pass 2 and survives the horizon filter)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"))
      val pick = feed.select(col("user_id"), col("ts"))
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .filter(col("prev").isNotNull && col("ts") > col("prev") &&
          col("ts") - col("prev") <= lit(gapMs * 1000000L) &&
          col("ts") < lit(maxNs - 3 * 3600000000000L))
        .orderBy((col("ts") - col("prev")).desc, col("user_id").asc,
          col("ts").asc)
        .limit(1).collect()
      require(pick.nonEmpty,
        "stream_session_restart: feed has no multi-event session to split")
      val (uid, prevNs, nextNs) =
        (pick(0).getLong(0), pick(0).getLong(2), pick(0).getLong(1))
      val mid = prevNs + 1
      feed.filter(col("ts") < lit(mid)).coalesce(1)
        .write.mode("append").parquet(src)
      val sch = s.read.parquet(src).schema
      def runPass(): Unit =
        graft.streaming.Streams.sessionPipeline(
          stateSized(s), sch, src, s"$tmp/out", s"$tmp/ck", gapMs,
          prepare = rebuildStreamTs).awaitTermination()
      runPass()
      feed.filter(col("ts") >= lit(mid)).coalesce(1)
        .write.mode("append").parquet(src)
      runPass()
      val sink = s.read.parquet(s"$tmp/out")
      // the split session was MERGED: one emitted session for that user
      // covers both the pass-1 and the pass-2 event — impossible from
      // fresh state, which never saw the pass-1 half
      require(sink.filter(col("user_id") === uid &&
          col("start_ms") <= lit(prevNs / 1000000L) &&
          col("end_ms") >= lit(nextNs / 1000000L)).count() == 1,
        "restart failed to merge the session split across the checkpoint")
      val mx = Tables.events(s, d).agg(max(unix_millis(col("ts"))).as("mx_ms"))
      sink
        .crossJoin(mx) // 1-row broadcast
        .filter(col("end_ms") + lit(gapMs + 1) < col("mx_ms") - lit(3600000L))
        .select(col("user_id"), col("start_ms"), col("end_ms"),
          col("n_events"))
        .orderBy("user_id", "start_ms")
    }),

    "stream_join_restart" -> ((s, d) => Stage.scratch("graft-join-restart-") { tmp =>
      // the JOIN-BUFFER leg of crash recovery — with stream_dedup_restart
      // (dedup state) and stream_pipeline_restart (window state) this
      // completes the stateful-operator restart triple: feed split at
      // its midpoint, two AvailableNow passes of the LIVE stream-stream
      // interval join on ONE checkpoint. A pass-2 click can match a
      // pass-1 purchase only through the right-side join buffer RESTORED
      // from the checkpoint (pass-1 purchases within the horizon of the
      // boundary are exactly the rows the watermark keeps alive); a
      // fresh-state restart would silently drop those pairs and
      // hash-mismatch. Oracle = the batch join over the whole feed: the
      // restart must be invisible.
      val src = s"$tmp/src"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      // cost note (PLANS.md round 8): this query's ~16 s at sf0.1 is
      // ~entirely fixed two-pass stateful-harness machinery (4 state
      // stores × partitions × checkpoint IO) — measured invariant to a
      // 3× data slice — so it prices crash recovery, not the join.
      val feed = eventsFeedNanos(s, d)
      val bounds = feed.agg(min(col("ts")), max(col("ts"))).head()
      val mid = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 2
      feed.filter(col("ts") < lit(mid)).coalesce(1)
        .write.mode("append").parquet(src)
      val sch = s.read.parquet(src).schema
      def runPass(): Unit =
        graft.streaming.Streams.intervalJoinPipeline(
          stateSized(s), sch, src, s"$tmp/out", s"$tmp/ck",
          prepare = rebuildStreamTs).awaitTermination()
      runPass()
      feed.filter(col("ts") >= lit(mid)).coalesce(1)
        .write.mode("append").parquet(src)
      runPass()
      s.read.parquet(s"$tmp/out")
        .select(col("event_id"), col("user_id"), col("pid"), col("value_cents"))
        .orderBy("event_id", "pid")
    }),

    "stream_enrich" -> ((s, d) => Stage.scratch("graft-stream-") { tmp =>
      // LIVE stream-static enrichment: each micro-batch joins the
      // broadcast category dim statelessly (the join adds nothing to the
      // state store), then the watermarked window agg finalizes — the
      // streaming form of the dim-join enrichment every feed needs.
      import s.implicits._
      val src = streamSource(tmp, d, "events.parquet")
      val sch = s.read.parquet(src).schema
      val dim = Seq(
        "click" -> "engagement", "view" -> "engagement",
        "purchase" -> "revenue", "signup" -> "lifecycle",
        "error" -> "ops").toDF("event_type", "category")
      graft.streaming.Streams.enrichedPipeline(
          stateSized(s), sch, src, s"$tmp/out", s"$tmp/ck", dim,
          dimKey = "event_type", categoryCol = "category",
          fallbackCategory = "ops", prepare = rebuildStreamTs)
        .awaitTermination()
      sinkBelowHorizon(s, d, s"$tmp/out", "category")
    }),

    "stream_dedup" -> ((s, d) => Stage.scratch("graft-stream-") { tmp =>
      // LIVE at-least-once ingest dedup on the oracle path: the staged
      // source holds the events feed PLUS a replayed copy of 1/7 of its
      // rows (the duplicate delivery every at-least-once transport
      // produces); AvailableNow stream → watermark id-dedup → parquet
      // sink. The read-back must equal the ORIGINAL feed exactly: every
      // replayed id dropped, no original lost. First occurrences emit
      // immediately (dedup holds no rows back), so no horizon filter.
      val src = streamSource(tmp, d, "events.parquet")
      // replay rows read from the ORIGINAL feed path (never read-write
      // the same directory), appended as one extra source file — the
      // whole source stays below the file-source batch cap, so originals
      // and replays share a micro-batch.
      Tables.loadEvents(s, d)
        .filter(col("event_id") % 7 === 0)
        .coalesce(1)
        .write.mode("append").parquet(src)
      val sch = s.read.parquet(src).schema
      graft.streaming.Streams.dedupPipeline(
          stateSized(s), sch, src, s"$tmp/out", s"$tmp/ck", "event_id",
          prepare = rebuildStreamTs)
        .awaitTermination()
      s.read.parquet(s"$tmp/out")
        .select(col("event_id"), col("event_type"), col("user_id"),
          col("value"), unix_millis(col("ts")).as("ts_ms"))
        .orderBy("event_id")
    }),

    "stream_dedup_restart" -> ((s, d) => Stage.scratch("graft-stream-") { tmp =>
      // dedup state SURVIVES a restart — the crash-recovery half of the
      // ingest-dedup contract: two AvailableNow passes against the SAME
      // checkpoint. Pass 1 ingests the feed; the source then grows by
      // (a) REPLAYS of feed rows from inside the watermark horizon (the
      // redelivery a crash-restart produces — ids whose dedup state the
      // checkpoint must still hold) and (b) genuinely NEW events above
      // the old max event time. Pass 2 must drop every replay (state
      // restored from the checkpoint, not rebuilt from scratch) and
      // emit every new row — the sink equals feed ∪ new, exactly.
      val src = streamSource(tmp, d, "events.parquet")
      val sch = s.read.parquet(src).schema
      def runPass(): Unit =
        graft.streaming.Streams.dedupPipeline(
          stateSized(s), sch, src, s"$tmp/out", s"$tmp/ck", "event_id",
          prepare = rebuildStreamTs).awaitTermination()
      runPass()
      // grow the source only AFTER pass 1 committed its checkpoint.
      // Replays: the last 50 min of the feed — inside the 1 h watermark
      // horizon on both sides (state still alive, rows not late), so
      // the drop decision is forced to come from RESTORED state.
      // appended rows must type-match the SYMLINKED original file (one
      // declared stream schema covers both), so the nanos split/synth
      // arithmetic runs on a converted expression and the synthetic ts
      // is rendered back in the feed's own encoding.
      val feed = Tables.loadEvents(s, d)
      val feedTsNs = tsNanosCol(feed)
      val maxNs = feed.agg(max(feedTsNs)).head().getLong(0)
      val replays = feed.filter(feedTsNs > lit(maxNs - 3000000000000L))
      // new rows: ids offset far past the feed, event times strictly
      // above the old max so none is late behind the restored watermark.
      val fresh = feed.filter(col("event_id") % 7 === 3)
        .withColumn("event_id", col("event_id") + lit(10000000L))
        .withColumn("ts",
          nanosToFeedTs(feed.schema("ts").dataType,
            lit(maxNs) + (col("event_id") % 1000 + 1) * lit(1000000000L)))
      replays.unionByName(fresh).coalesce(1).write.mode("append").parquet(src)
      runPass()
      s.read.parquet(s"$tmp/out")
        .select(col("event_id"), col("event_type"), col("user_id"),
          col("value"), unix_millis(col("ts")).as("ts_ms"))
        .orderBy("event_id")
    }),

    "stream_corpus_clean" -> ((s, d) => Stage.scratch("graft-stream-") { tmp =>
      // the corpus release pipeline's LIVE front door: a document feed
      // carrying at-least-once replays (1/7 of the docs re-delivered)
      // streams through quality gate → bench-Bloom decontamination gate
      // (packed-bitmap projection, built pre-stream from the bench
      // shingle set) → watermarked delivery dedup, AvailableNow into a
      // parquet sink. The two gates are stateless projections and the
      // only state is surviving doc_ids — the stream-side split of
      // corpus_pipeline_e2e's batch chain. The oracle unrolls the same
      // three decisions (bloom positions are md5-exact), so every
      // admit/drop is hash-checked through the sink.
      val src = streamSource(tmp, d, "documents.parquet")
      s.read.parquet(s"$d/documents.parquet")
        .filter(col("doc_id") % 7 === 0)
        .coalesce(1).write.mode("append").parquet(src)
      val gate = benchBloomGate(s, d)
      val sch = s.read.parquet(src).schema
      graft.streaming.Streams.corpusCleanPipeline(
          stateSized(s), sch, src, s"$tmp/out", s"$tmp/ck", gate,
          benchSources = Seq("src0", "src1"), threshold = 0.3)
        .awaitTermination()
      s.read.parquet(s"$tmp/out").orderBy("doc_id")
    }),

    "stream_corpus_semantic" -> ((s, d) => Stage.scratch("graft-stream-") { tmp =>
      // the release chain's LIVE front door grown to FOUR gates
      // (round 12): quality → bench-Bloom shingle gate → SEMANTIC sweep
      // against the PERSISTED bench-signature state (one stateless
      // stream-static anti-join per band, exact cosine in the join
      // condition — stream/batch decontamination parity with the
      // release chain, no stream-side aggregation) → watermarked
      // delivery dedup. Everything the stream consults is static or
      // persisted state; the oracle unrolls all four decisions.
      val ss = stateSized(s)
      val src = streamSource(tmp, d, "documents.parquet")
      s.read.parquet(s"$d/documents.parquet")
        .filter(col("doc_id") % 7 === 0)
        .coalesce(1).write.mode("append").parquet(src)
      val gate = benchBloomGate(ss, d)
      // bench-signature state persisted ONCE pre-stream (the release
      // chain's table; the stream only ever reads it back)
      val sigDir = s"$tmp/benchsig"
      ext.Corpus.benchSignatureTable(Tables.documents(ss, d),
          Tables.embeddings(ss, d), Seq("src0", "src1"))
        .write.parquet(sigDir)
      val sem = graft.streaming.Streams.SemanticGate(
        Tables.embeddings(ss, d), ss.read.parquet(sigDir),
        threshold = 0.42)
      val sch = s.read.parquet(src).schema
      graft.streaming.Streams.corpusCleanPipeline(
          ss, sch, src, s"$tmp/out", s"$tmp/ck", gate,
          benchSources = Seq("src0", "src1"), threshold = 0.3,
          semantic = Some(sem))
        .awaitTermination()
      s.read.parquet(s"$tmp/out").orderBy("doc_id")
    }),

    "stream_corpus_clean_restart" -> ((s, d) => Stage.scratch("graft-stream-") { tmp =>
      // the admission front door is CRASH-SAFE end to end: two
      // AvailableNow passes on one checkpoint. Pass 2's source grows by
      // (a) REPLAYS of feed docs from inside the watermark horizon —
      // their gate decisions recompute statelessly, but the drop of
      // already-ADMITTED replays can only come from dedup state
      // RESTORED from the checkpoint — and (b) genuinely NEW docs
      // (offset ids just above the feed, so their synthesized event
      // times extend the timeline without making the replays late).
      // Sink == the batch chain over feed ∪ new, exactly: a fresh-state
      // restart double-emits replayed admits and hash-mismatches.
      val src = streamSource(tmp, d, "documents.parquet")
      val gate = benchBloomGate(s, d)
      val sch = s.read.parquet(src).schema
      def runPass(): Unit =
        graft.streaming.Streams.corpusCleanPipeline(
          stateSized(s), sch, src, s"$tmp/out", s"$tmp/ck", gate,
          benchSources = Seq("src0", "src1"), threshold = 0.3)
          .awaitTermination()
      runPass()
      // grow the source only AFTER pass 1 committed its checkpoint
      val feed = s.read.parquet(s"$d/documents.parquet")
      val maxId = feed.agg(max(col("doc_id"))).head().getLong(0)
      // replays: the last 50 minutes of synthesized event time — inside
      // the 1 h horizon, so admitted ones are dropped by RESTORED state
      val replays = feed.filter(col("doc_id") > maxId - 50)
      // new docs: copies with ids (and thus event times) just above the
      // feed — bench-source copies are filtered by the stateless source
      // gate, train copies re-run the gates under their new ids
      val fresh = feed.filter(col("doc_id") % 13 === 5)
        .withColumn("doc_id", col("doc_id") + lit(maxId + 1))
      replays.unionByName(fresh).coalesce(1).write.mode("append").parquet(src)
      runPass()
      s.read.parquet(s"$tmp/out").orderBy("doc_id")
    }),

    "stream_near_dedup" -> ((s, d) => Stage.scratch("graft-near-dedup-") { tmp =>
      // STREAMING NEAR-DUP admission — content-level dedup joins the
      // live front door (stream_corpus_clean's delivery dedup is
      // id-level; this rejects on MinHash band collision with the
      // accumulated corpus): the document corpus staged as THREE source
      // files (doc_id mod 3), streamed one file per micro-batch in a
      // PINNED order (explicit ascending mtimes — admission is
      // order-dependent: whichever side of a near-dup pair streams
      // first wins, and the oracle must replay the same order). Each
      // batch admits against persisted band state + smaller-id
      // same-batch siblings, appends admitted bands insert-if-absent,
      // lands admitted docs in a per-batch overwrite sink. Oracle =
      // the three admission rounds unrolled with the band state
      // threaded through; the in-query requires pin that >= 2 batches
      // actually folded and that the state holds exactly the admitted
      // documents' bands.
      val src = s"$tmp/src"
      val docs = Tables.documents(s, d)
      (0 until 3).foreach(i =>
        stagePinnedBatch(src, i, docs.filter(col("doc_id") % 3 === i)))
      val sch = s.read.parquet(src).schema
      val q = graft.streaming.Streams.nearDedupPipeline(
        stateSized(s), sch, src, s"$tmp/state", s"$tmp/out", s"$tmp/ck",
        w = 5, numHashes = 8, bandWidth = 2)
      q.awaitTermination()
      val nBatches = q.recentProgress.count(p => p.numInputRows > 0)
      require(nBatches >= 2,
        s"near-dedup admission folded $nBatches micro-batches — need >= 2 " +
          "to prove state-carried admission, not a single-batch LSH run")
      val sink = s.read.parquet(s"$tmp/out")
      // state ids ⊆ admitted ids (equality minus short docs, which have
      // no shingles and therefore no bands): a rejected doc's bands in
      // the state would poison every future admission decision.
      val leaked = s.read.parquet(s"$tmp/state").select(col("doc_id"))
        .distinct()
        .join(sink.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
        .count()
      require(leaked == 0,
        s"$leaked rejected documents leaked their bands into the state")
      sink.select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    "stream_near_dedup_restart" -> ((s, d) => Stage.scratch("graft-near-dedup-restart-") { tmp =>
      // the persisted band state survives a RESTART — the fifth
      // stateful class joins the restart family (dedup ids / window
      // aggs / join buffers / session windows / near-dup band state):
      // pass 1 ingests the first two staged files on one checkpoint,
      // the third file arrives, pass 2 re-runs the SAME pipeline on the
      // SAME checkpoint and state. The checkpoint skips the committed
      // files, so batch 3 admits against the state PASS 1 WROTE — a
      // fresh-state restart would re-admit every cross-pass near-dup
      // and hash-mismatch. Oracle = stream_near_dedup's three unrolled
      // rounds verbatim: the restart must be invisible.
      val src = s"$tmp/src"
      val docs = Tables.documents(s, d)
      def stage(i: Int): Unit =
        stagePinnedBatch(src, i, docs.filter(col("doc_id") % 3 === i))
      stage(0); stage(1)
      val sch = s.read.parquet(src).schema
      def runPass(): org.apache.spark.sql.streaming.StreamingQuery = {
        val q = graft.streaming.Streams.nearDedupPipeline(
          stateSized(s), sch, src, s"$tmp/state", s"$tmp/out", s"$tmp/ck",
          w = 5, numHashes = 8, bandWidth = 2)
        q.awaitTermination(); q
      }
      runPass()
      stage(2) // arrives only AFTER pass 1 committed its checkpoint
      val q2 = runPass()
      require(q2.recentProgress.count(p => p.numInputRows > 0) == 1,
        "pass 2 must process exactly the one new file — a checkpoint " +
          "replay of pass-1 files would void the restart argument")
      s.read.parquet(s"$tmp/out")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    "stream_corpus_lm_gate" -> ((s, d) => Stage.scratch("graft-lm-gate-") { tmp =>
      // the MODEL-BASED front door (round 12): phase A maintains the
      // LM delta-log from the REFERENCE domain (the en slice, two
      // micro-batches) and compacts it; phase B gates the full
      // delivery feed against the frozen model — docs scoring under
      // the threshold on the en model (foreign-language or degenerate
      // content) are refused admission. Oracle = the unrolled chain:
      // train on the en slice, score everything, cut at the
      // threshold; a drifted model, a lost fold, or a gate that waves
      // unscorable docs through all break the hash.
      val docs = Tables.documents(s, d)
      val ref = docs.filter(col("lang") === "en")
      (0 until 2).foreach(i =>
        ref.filter(col("doc_id") % 2 === i).coalesce(1)
          .write.mode("append").parquet(s"$tmp/ref"))
      val sch = s.read.parquet(s"$tmp/ref").schema
      graft.streaming.Streams.lmMaintainPipeline(
        stateSized(s), sch, s"$tmp/ref", s"$tmp/state", s"$tmp/ckA")
        .awaitTermination()
      graft.streaming.Streams.lmCompactState(s, s"$tmp/state")
      (0 until 2).foreach(i =>
        docs.filter(col("doc_id") % 2 === i).coalesce(1)
          .write.mode("append").parquet(s"$tmp/feed"))
      val q = graft.streaming.Streams.lmGatePipeline(
        stateSized(s), sch, s"$tmp/feed", s"$tmp/state", s"$tmp/out",
        s"$tmp/ckB", minAvgLp = -3.40)
      q.awaitTermination()
      val nBatches = q.recentProgress.count(p => p.numInputRows > 0)
      require(nBatches >= 2,
        s"LM gate processed $nBatches micro-batches — need >= 2 to " +
          "prove per-batch admission, not one bulk score")
      s.read.parquet(s"$tmp/out")
        .select(col("doc_id"), col("lang"), col("n_pairs"), col("avg_lp"))
        .orderBy("doc_id")
    }),

    "stream_dsir_maintain" -> ((s, d) => Stage.scratch("graft-dsir-maint-") { tmp =>
      // LIVE incremental DSIR (round 12): the documents feed staged as
      // three files, each batch's target/raw bucket counts folded into
      // ≤4096-row PointerSwap state under the shared additive-fold
      // discipline. Weighting the corpus with the ratio table derived
      // from the STREAMED counts must reproduce
      // corpus_importance_weights' batch oracle exactly.
      val src = s"$tmp/src"
      val docs = Tables.documents(s, d)
      (0 until 3).foreach(i =>
        docs.filter(col("doc_id") % 3 === i).coalesce(1)
          .write.mode("append").parquet(src))
      val sch = s.read.parquet(src).schema
      val q = graft.streaming.Streams.dsirMaintainPipeline(
        stateSized(s), sch, src, s"$tmp/state", s"$tmp/ck",
        col("lang") === "en" && col("source") === "src7")
      q.awaitTermination()
      val nBatches = q.recentProgress.count(p => p.numInputRows > 0)
      require(nBatches >= 2,
        s"DSIR maintenance folded $nBatches micro-batches — need >= 2 " +
          "to prove incrementality, not a single-batch rebuild")
      val ratios = ext.Corpus.importanceRatiosFromCounts(
        graft.operators.ScaleOps.readMaintained(s, s"$tmp/state",
          graft.operators.ScaleOps.PointerSwap))
      ext.Corpus.importanceWeights(docs, ratios).orderBy("doc_id")
    }),

    "stream_nb_maintain" -> ((s, d) => Stage.scratch("graft-nb-maint-") { tmp =>
      // LIVE incremental Naive Bayes training (round 12 cont.): the
      // labeled documents feed staged as three files, each batch's
      // class-conditional counts (plus the per-label doc-count
      // sentinel rows) folded into the bounded PointerSwap state under
      // the shared additive-fold discipline. Deriving the dense model
      // from the STREAMED counts and classifying the corpus must
      // reproduce text_nb_classify's batch oracle exactly — a
      // double-counted fold, a dropped label or a lost sentinel row
      // all break the hash.
      val src = s"$tmp/src"
      val docs = Tables.documents(s, d)
      (0 until 3).foreach(i =>
        docs.filter(col("doc_id") % 3 === i).coalesce(1)
          .write.mode("append").parquet(src))
      val sch = s.read.parquet(src).schema
      val q = graft.streaming.Streams.nbMaintainPipeline(
        stateSized(s), sch, src, s"$tmp/state", s"$tmp/ck")
      q.awaitTermination()
      val nBatches = q.recentProgress.count(p => p.numInputRows > 0)
      require(nBatches >= 2,
        s"NB maintenance folded $nBatches micro-batches — need >= 2 " +
          "to prove incrementality, not a single-batch rebuild")
      val model = ext.Classifier.nbModelFromCounts(
        graft.operators.ScaleOps.readMaintained(s, s"$tmp/state",
          graft.operators.ScaleOps.PointerSwap))
      docs.select(col("doc_id"), col("lang"))
        .join(ext.Classifier.nbClassify(docs, model), Seq("doc_id"))
        .orderBy("doc_id")
    }),

    "stream_nb_forget" -> ((s, d) => Stage.scratch("graft-nb-forget-") { tmp =>
      // GDPR-delete against the LIVE classifier state (round 12
      // cont.): fold the labeled feed as three micro-batches, then
      // FORGET a cohort by subtracting its counts from the maintained
      // state through the same PointerSwap promotion the fold path
      // uses (batch-id/lineage stamps ride through — the stream could
      // keep folding afterwards). Classifying the survivors against
      // the forgotten state must equal a classifier trained on the
      // survivors directly (text_nb_forget's law, now THROUGH the
      // streamed lifecycle).
      val src = s"$tmp/src"
      val docs = Tables.documents(s, d)
      (0 until 3).foreach(i =>
        docs.filter(col("doc_id") % 3 === i).coalesce(1)
          .write.mode("append").parquet(src))
      val sch = s.read.parquet(src).schema
      val q = graft.streaming.Streams.nbMaintainPipeline(
        stateSized(s), sch, src, s"$tmp/state", s"$tmp/ck")
      q.awaitTermination()
      // the geometry stamp rides through the GDPR rewrite as a key
      // column: constant-valued, so the join is unaffected — and a
      // cohort built under a different geometry would land on disjoint
      // keys and be refused by the negative-count validation
      graft.streaming.Streams.forgetFromMaintained(s, s"$tmp/state",
        ext.Classifier.nbCountsBuild(docs.filter(col("doc_id") % 10 === 3)),
        keys = Seq("label", "bucket", "buckets"), counts = Seq("c"),
        opName = "stream_nb_forget")
      val model = ext.Classifier.nbModelFromCounts(
        graft.operators.ScaleOps.readMaintained(s, s"$tmp/state",
          graft.operators.ScaleOps.PointerSwap))
      val surv = docs.filter(col("doc_id") % 10 =!= 3)
      surv.select(col("doc_id"), col("lang"))
        .join(ext.Classifier.nbClassify(surv, model), Seq("doc_id"))
        .orderBy("doc_id")
    }),

    "stream_lm_expire" -> ((s, d) => Stage.scratch("graft-lm-expire-") { tmp =>
      // SLIDING-WINDOW LM (round 12 cont.): the delta-log's batch
      // partitions ARE the retention unit — expire the oldest batch
      // and the model forgets that slice bit-exactly, no rescan.
      // Batch→slice mapping is pinned by staged mtimes (the restart
      // harnesses' discipline), so the oracle can name the retained
      // cohort statically: scoring the retained slices against the
      // expired log == training on those slices alone.
      val src = s"$tmp/src"
      val docs = Tables.documents(s, d)
      (0 until 3).foreach(i =>
        stagePinnedBatch(src, i, docs.filter(col("doc_id") % 3 === i)))
      val sch = s.read.parquet(src).schema
      val q = graft.streaming.Streams.lmMaintainPipeline(
        stateSized(s), sch, src, s"$tmp/state", s"$tmp/ck")
      q.awaitTermination()
      graft.streaming.Streams.lmExpireBatchesBelow(s, s"$tmp/state",
        minKeepId = 1)
      val model = TextAnalysis.lmModelFromCounts(
        graft.streaming.Streams.lmReadCounts(s, s"$tmp/state"))
      TextAnalysis.lmScoreBigram(docs.filter(col("doc_id") % 3 =!= 0),
        model).orderBy("doc_id")
    }),

    "stream_admission_overlap" -> ((s, d) => Stage.scratch("graft-adm-ovl-") { tmp =>
      // the calibration rollup's "works on any report" claim made
      // checkable (round 14): gateOverlap over the UNION of a streamed
      // run's per-batch decision tables. Because every verdict is a
      // function of the document and frozen artifacts, the streamed
      // union == the batch report row-for-row, so the rollup over it
      // must reproduce corpus_admission_overlap's oracle exactly — a
      // dropped batch or any stateful gate leakage between
      // micro-batches breaks the per-gate counts. A DOUBLE-emitted
      // batch directory would NOT (the rollup's per-doc pivot
      // collapses duplicate rows), so that failure mode gets its own
      // explicit duplicate check below before the rollup runs.
      val src = s"$tmp/src"
      val docs = Tables.documents(s, d)
      // two half-slices (round 17): the cross-batch-union claim needs
      // >= 2 micro-batches (the require below), not three — the third
      // slice re-paid a full gate-ensemble micro-batch for no extra
      // law coverage, and the stateless per-doc decisions make the
      // whole-corpus overlap oracle slicing-invariant.
      (0 until 2).foreach(i =>
        docs.filter(col("doc_id") % 2 === i).coalesce(1)
          .write.mode("append").parquet(src))
      val (gate, sem) = admissionGateCfg(s, d)
      val lm = TextAnalysis.bigramLmTrain(docs)
      val nb = ext.Classifier.nbTrain(docs)
      // near-dup state in the production form: persisted partitioned
      // band state read back (stable across micro-batches by file
      // immutability — the pipeline does not block-memory-copy it)
      val seenBands = admissionBandState(s, d, s"$tmp/bands")
      val sch = s.read.parquet(src).schema
      val q = graft.streaming.Streams.admissionPipeline(
        stateSized(s), sch, src, s"$tmp/out", s"$tmp/ck",
        Seq("src0", "src1"), gate, 0.3,
        sem,
        lm, -3.40, nb, Seq("en"),
        nearDup = Some(ext.Admission.NearDupCfg(seenBands, w = 5,
          numHashes = 8, bandWidth = 2,
          // production form (round 15): each micro-batch re-reads the
          // persisted state PRUNED to its own probe cells instead of
          // joining the full state — O(batch-cells) per batch
          stateDir = Some(s"$tmp/bands"))))
      q.awaitTermination()
      require(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "streamed overlap needs >= 2 micro-batches — a single-batch run " +
          "would not exercise the cross-batch union the claim is about")
      val streamed = s.read.parquet(s"$tmp/out")
        .select(col("doc_id"), col("gate"), col("pass"), col("score"))
      // double-emission guard: the rollup's per-doc pivot collapses a
      // duplicated (doc_id, gate) row silently, so the union's
      // uniqueness is asserted EXPLICITLY — one partial-agg pass over
      // the bounded per-batch sink, not the corpus
      val dups = streamed.groupBy(col("doc_id"), col("gate"))
        .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
      require(dups == 0,
        s"$dups (doc_id, gate) rows appear in more than one batch " +
          "directory — a double-emitted batch the rollup would mask")
      ext.Admission.gateOverlap(streamed).orderBy("gate")
    }),

    "stream_admission_model_swap" -> ((s, d) => Stage.scratch("graft-adm-swap-") { tmp =>
      // MODEL ROLLOUT mid-stream (round 15): the retrain axis pushed
      // into the streaming front door. The feed is the shared t0∩t1
      // doc set in THREE pinned-order batches (doc_id % 3, ascending
      // staged mtimes); batches 0–1 score under the t0-trained LM/NB
      // (v0), batch 2 under the t1-trained pair (v1) — the
      // admissionModelSwapPipeline rollout at swapAtBatch = 2, every
      // row tagged model_version. Every non-model artifact is frozen
      // and shared across the swap, so the oracle is the churn chain
      // read by batch: a doc's verdicts are the t0 columns if it
      // arrived before the swap, the t1 columns after — batch==stream
      // extended to model versioning, and a batch scored by the wrong
      // model version breaks the hash on every model-gate row.
      val src = s"$tmp/src"
      val docs = Tables.documents(s, d)
      val shared = docs.filter(col("doc_id") % 7 =!= 1 &&
        col("doc_id") % 7 =!= 2)
      (0 until 3).foreach(i =>
        stagePinnedBatch(src, i, shared.filter(col("doc_id") % 3 === i)))
      val (gate, sem) = admissionGateCfg(s, d)
      val seenBands = admissionBandState(s, d, s"$tmp/bands")
      val sch = s.read.parquet(src).schema
      val q = graft.streaming.Streams.admissionModelSwapPipeline(
        stateSized(s), sch, src, s"$tmp/out", s"$tmp/ck",
        Seq("src0", "src1"), gate, 0.3,
        sem,
        lmV0 = TextAnalysis.bigramLmTrain(
          docs.filter(col("doc_id") % 7 =!= 1)),
        nbV0 = ext.Classifier.nbTrain(
          docs.filter(col("doc_id") % 7 =!= 1)),
        lmV1 = TextAnalysis.bigramLmTrain(
          docs.filter(col("doc_id") % 7 =!= 2)),
        nbV1 = ext.Classifier.nbTrain(
          docs.filter(col("doc_id") % 7 =!= 2)),
        swapAtBatch = 2, minAvgLp = -3.40, allowedLabels = Seq("en"),
        nearDup = Some(ext.Admission.NearDupCfg(seenBands, w = 5,
          numHashes = 8, bandWidth = 2,
          stateDir = Some(s"$tmp/bands"))))
      q.awaitTermination()
      require(q.recentProgress.count(_.numInputRows > 0) >= 3,
        "the rollout needs >= 3 micro-batches — fewer would leave one " +
          "model version unexercised or unswapped")
      s.read.parquet(s"$tmp/out")
        .select(col("doc_id"), col("gate"), col("pass"), col("score"),
          col("model_version"), col("batch_id").cast("bigint"))
        .orderBy("doc_id", "gate")
    }),

    "stream_admission_restart" -> ((s, d) => Stage.scratch("graft-adm-restart-") { tmp =>
      // the unified admission front door is CRASH-SAFE: two
      // AvailableNow passes on one checkpoint, the source growing by
      // the second half-slice between them. Pass 2 must fold ONLY the
      // new file (the checkpoint skips committed batches), and the
      // union of the per-batch decision tables must equal ONE batch
      // Admission.report over the whole corpus — the batch==stream
      // law surviving a restart boundary. A fresh-state restart would
      // re-emit pass-1 batches into new batch_id dirs and break the
      // row count; a replayed batch overwrites its own dir with
      // identical content (frozen artifacts → stateless decisions).
      // ONE file per pass (round 17, judge directive): the restart law
      // needs exactly one committed batch before the boundary and one
      // after — a second pre-restart micro-batch re-paid the full gate
      // ensemble for zero additional law coverage (decisions are
      // stateless, so batch composition cannot change any verdict and
      // the whole-corpus oracle is slicing-invariant).
      val src = s"$tmp/src"
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0).coalesce(1)
        .write.mode("append").parquet(src)
      val (gate, sem) = admissionGateCfg(s, d)
      val lm = TextAnalysis.bigramLmTrain(docs)
      val nb = ext.Classifier.nbTrain(docs)
      // near-dup gate state: the same admitted-cohort band state the
      // batch report uses (doc_id % 7 = 3), in the production form —
      // persisted partitioned state written ONCE before both passes,
      // so the restart reads bit-identical state by file immutability
      val seenBands = admissionBandState(s, d, s"$tmp/bands")
      val sch = s.read.parquet(src).schema
      def runPass() = {
        val q = graft.streaming.Streams.admissionPipeline(
          stateSized(s), sch, src, s"$tmp/out", s"$tmp/ck",
          Seq("src0", "src1"), gate, 0.3,
          sem,
          lm, -3.40, nb, Seq("en"),
          nearDup = Some(ext.Admission.NearDupCfg(seenBands, w = 5,
            numHashes = 8, bandWidth = 2,
            stateDir = Some(s"$tmp/bands"))))
        q.awaitTermination(); q
      }
      runPass()
      docs.filter(col("doc_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(src)
      val p2 = runPass()
      require(p2.recentProgress.count(_.numInputRows > 0) == 1,
        "pass 2 must fold ONLY the new file — a fresh-state restart " +
          "reprocesses committed batches")
      s.read.parquet(s"$tmp/out")
        .select(col("doc_id"), col("gate"), col("pass"), col("score"))
        .orderBy("doc_id", "gate")
    }),

    "stream_lm_bootstrap" -> ((s, d) => Stage.scratch("graft-lm-boot-") { tmp =>
      // DAY-0 HANDOFF for the delta-log LM (round 13): a third of the
      // corpus trained by the BATCH API and persisted as a flat counts
      // table, then ADOPTED by a new stream (files move into the
      // batch_id=-1 baseline partition, lineage minted over it) which
      // folds the remaining two thirds as micro-batches. Scoring the
      // corpus with the maintained model must reproduce text_lm_score's
      // whole-corpus oracle exactly — a dropped baseline, a double
      // adoption or a replay overwriting batch_id=-1 all break the hash.
      val src = s"$tmp/src"
      val docs = Tables.documents(s, d)
      TextAnalysis.lmCountsBuild(docs.filter(col("doc_id") % 3 === 0))
        .write.parquet(s"$tmp/state")
      (1 until 3).foreach(i =>
        docs.filter(col("doc_id") % 3 === i).coalesce(1)
          .write.mode("append").parquet(src))
      val sch = s.read.parquet(src).schema
      val q = graft.streaming.Streams.lmMaintainPipeline(
        stateSized(s), sch, src, s"$tmp/state", s"$tmp/ck")
      q.awaitTermination()
      val nBatches = q.recentProgress.count(p => p.numInputRows > 0)
      require(nBatches >= 2,
        s"bootstrap folded $nBatches micro-batches — need >= 2 on top " +
          "of the adopted baseline to prove incrementality")
      require(new java.io.File(s"$tmp/state", "batch_id=-1").isDirectory,
        "adoption must land the baseline as the batch_id=-1 partition")
      val model = TextAnalysis.lmModelFromCounts(
        graft.streaming.Streams.lmReadCounts(s, s"$tmp/state"))
      TextAnalysis.lmScoreBigram(docs, model).orderBy("doc_id")
    }),

    "stream_lm_maintain" -> ((s, d) => Stage.scratch("graft-lm-maint-") { tmp =>
      // LIVE incremental LM training (round 12): the documents feed
      // staged as three files, one per micro-batch, each batch's
      // unigram+bigram counts APPENDED as an immutable batch_id=
      // partition (the family's DELTA-LOG member: vocabulary-scale
      // state must not be rewritten per fold — append is O(batch)),
      // then the quiesced log COMPACTED to a single partition.
      // Additivity makes the aggregated log BIT-IDENTICAL to one batch
      // train over the whole corpus, so scoring the corpus against the
      // STREAMED+COMPACTED model must reproduce text_lm_score's oracle
      // exactly — a double-counted fold, a dropped partition, or a
      // compaction that loses counts all break the hash.
      val src = s"$tmp/src"
      val docs = Tables.documents(s, d)
      (0 until 3).foreach(i =>
        docs.filter(col("doc_id") % 3 === i).coalesce(1)
          .write.mode("append").parquet(src))
      val sch = s.read.parquet(src).schema
      val q = graft.streaming.Streams.lmMaintainPipeline(
        stateSized(s), sch, src, s"$tmp/state", s"$tmp/ck")
      q.awaitTermination()
      val nBatches = q.recentProgress.count(p => p.numInputRows > 0)
      require(nBatches >= 2,
        s"LM maintenance folded $nBatches micro-batches — need >= 2 " +
          "to prove incrementality, not a single-batch rebuild")
      graft.streaming.Streams.lmCompactState(s, s"$tmp/state")
      val model = TextAnalysis.lmModelFromCounts(
        graft.streaming.Streams.lmReadCounts(s, s"$tmp/state"))
      TextAnalysis.lmScoreBigram(docs, model).orderBy("doc_id")
    }),

    "stream_hist_maintain" -> ((s, d) => Stage.scratch("graft-hist-maint-") { tmp =>
      // LIVE histogram-state lifecycle (round 11): the drift baseline
      // maintained BY A STREAM — the events feed staged as three files,
      // one per micro-batch, each batch's fixed-width histogram folded
      // into the width-stamped PointerSwap-promoted state. Additivity
      // (build(A) ⊕ build(B) == build(A∪B)) makes the final state
      // BIT-IDENTICAL to a single pass over the whole feed — the oracle
      // is exactly that one-pass histogram, so one double-counted or
      // dropped fold anywhere breaks the hash. Replay safety is the
      // batch-id stamp (additive merge is NOT idempotent — the KMV
      // argument does not transfer; StreamingSpec proves the no-op).
      val src = s"$tmp/src"
      val feed = Tables.loadEvents(s, d)
      (0 until 3).foreach(i =>
        feed.filter(col("event_id") % 3 === i).coalesce(1)
          .write.mode("append").parquet(src))
      val sch = s.read.parquet(src).schema
      val q = graft.streaming.Streams.histMaintainPipeline(
        stateSized(s), sch, src, s"$tmp/state", s"$tmp/ck", "value", 25.0)
      q.awaitTermination()
      val nBatches = q.recentProgress.count(p => p.numInputRows > 0)
      require(nBatches >= 2,
        s"histogram maintenance folded $nBatches micro-batches — need >= 2 " +
          "to prove incrementality, not a single-batch rebuild")
      graft.operators.ScaleOps.readMaintained(s, s"$tmp/state",
          graft.operators.ScaleOps.PointerSwap)
        .select(col("bin"), col("n")).orderBy("bin")
    }),

    "stream_sketch_maintain" -> ((s, d) => Stage.scratch("graft-sketch-maint-") { tmp =>
      // LIVE sketch-state lifecycle: the events feed staged as THREE
      // source files, streamed one file per micro-batch, each batch's
      // KMV folded into layout-stamped persisted state (merge
      // idempotency = replay safety — the foreachBatch exactly-once
      // argument carried by the operator's algebra). The merge law
      // (k smallest of unions, oracle-proven in stats_kmv) makes the
      // final state BIT-IDENTICAL to a single pass over the whole
      // feed, so the estimate row hash-checks exactly; the in-query
      // require pins that multiple batches actually folded.
      val src = s"$tmp/src"
      val feed = Tables.loadEvents(s, d)
      (0 until 3).foreach(i =>
        feed.filter(col("event_id") % 3 === i).coalesce(1)
          .write.mode("append").parquet(src))
      val sch = s.read.parquet(src).schema
      val item = concat(col("user_id").cast("string"), lit("|"),
        col("event_type"))
      val q = graft.streaming.Streams.sketchMaintainPipeline(
        stateSized(s), sch, src, s"$tmp/state", s"$tmp/ck", "item", 256,
        prepare = _.withColumn("item", item))
      q.awaitTermination()
      val nBatches = q.recentProgress.count(p => p.numInputRows > 0)
      require(nBatches >= 2,
        s"sketch maintenance folded $nBatches micro-batches — need >= 2 " +
          "to prove incrementality, not a single-batch rebuild")
      val est = ext.Sketches.kmvEstimateStated(
        graft.operators.ScaleOps.readMaintained(s, s"$tmp/state",
          graft.operators.ScaleOps.PointerSwap))
      val exact = feed.select(item.as("item")).filter(col("item").isNotNull)
        .agg(countDistinct(col("item")).as("n_exact"))
      est.crossJoin(exact)
        .select(col("n_sketch"), col("h_k"), col("n_est"), col("n_exact"),
          (abs(col("n_est") - col("n_exact").cast("double")) /
            col("n_exact").cast("double") < 0.15).as("err_ok"))
    }),

    "stream_index_maintain" -> ((s, d) => Stage.scratch("graft-idx-maint-") { tmp =>
      // LIVE ANN-index lifecycle: the embedding corpus staged as three
      // source files, streamed one file per micro-batch; the first
      // batch BUILDS the persisted index (quantizer trained, then
      // frozen), every later batch APPENDs against the frozen
      // quantizer — replay-safe by the lifecycle's own idempotency
      // (atomic-overwrite build / per-table insert-if-absent append).
      // Searched FLAT at nprobe = numCells the maintained index must
      // reproduce brute-force cosine top-k EXACTLY: one vector lost,
      // doubled, or mis-assigned anywhere in the stream breaks the
      // hash. The in-query requires pin that >= 2 batches actually
      // folded (append path exercised, not one big build) and that the
      // index holds every corpus vector exactly once.
      val src = s"$tmp/src"
      val emb = Tables.embeddings(s, d)
      (0 until 3).foreach(i =>
        emb.filter(col("vec_id") % 3 === i).coalesce(1)
          .write.mode("append").parquet(src))
      val sch = s.read.parquet(src).schema
      val q = graft.streaming.Streams.indexMaintainPipeline(
        stateSized(s), sch, src, s"$tmp/index", s"$tmp/ck")
      q.awaitTermination()
      val nBatches = q.recentProgress.count(p => p.numInputRows > 0)
      require(nBatches >= 2,
        s"index maintenance folded $nBatches micro-batches — need >= 2 " +
          "to prove append-on-frozen-quantizer, not a single-batch build")
      val nIndexed = s.read.parquet(s"$tmp/index/cells")
        .agg(countDistinct(col("vec_id"))).collect()(0).getLong(0)
      val nCorpus = emb.count()
      require(nIndexed == nCorpus,
        s"index holds $nIndexed distinct vectors, corpus has $nCorpus — " +
          "streamed maintenance lost or doubled vectors")
      ext.VectorIndex.searchFlat(s, s"$tmp/index",
          emb.filter(col("vec_id") < 5), k = 10, nprobe = 16)
        .select(col("qid"), col("rank").cast("int").as("rnk"), col("cid"))
        .orderBy("qid", "rnk")
    }),

    "stream_exactly_once" -> ((s, d) => Stage.scratch("graft-stream-") { tmp =>
      // the foreachBatch transactional-sink pattern LIVE on the oracle
      // path: AvailableNow stream → per-batch-directory overwrite sink
      // (batch_id=N/), read back and hash-checked against the source —
      // every record lands exactly once, no loss, no duplication.
      // (Replay idempotency — same batch id overwrites, never appends —
      // is the StreamingSpec half of the contract.)
      val src = streamSource(tmp, d, "events.parquet")
      val sch = s.read.parquet(src).schema
      graft.streaming.Streams.exactlyOnceSink(
          rebuildStreamTs(s.readStream.schema(sch).parquet(src))
            .select(col("event_id"), col("event_type"), col("user_id"),
              col("value"), unix_millis(col("ts")).as("ts_ms")),
          s"$tmp/out", s"$tmp/ck")
        .awaitTermination()
      s.read.parquet(s"$tmp/out/data").drop("batch_id").orderBy("event_id")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    // the maintained index searched flat at nprobe = numCells IS
    // brute-force cosine top-k — same oracle; the lifecycle (stream
    // build + appends, no loss/dup/re-encode) is what the hash buys.
    "stream_index_maintain" -> bruteTop10OracleSql,

    "stream_windowed_counts" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY window_start_ms, event_type""".stripMargin,

    "stream_asof_join" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        |), purch AS (
        |  SELECT user_id, ts, event_id AS pid, value FROM events
        |  WHERE event_type = 'purchase'
        |), u AS (
        |  SELECT user_id, ts, 0 AS is_right, CAST(NULL AS BIGINT) AS rid,
        |         event_id, CAST(NULL AS STRUCT(v DOUBLE)) AS rv
        |  FROM clicks
        |  UNION ALL
        |  SELECT user_id, ts, 1, pid, NULL, struct_pack(v := value) FROM purch
        |), c AS (
        |  SELECT user_id, event_id, is_right,
        |         last_value(rv IGNORE NULLS) OVER (
        |           PARTITION BY user_id
        |           ORDER BY ts ASC, is_right DESC, rid ASC NULLS LAST
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried
        |  FROM u
        |)
        |SELECT event_id, user_id, carried.v AS asof_value
        |FROM c WHERE is_right = 0
        |ORDER BY event_id""".stripMargin,

    "stream_exactly_once" ->
      """SELECT event_id, event_type, user_id, value, epoch_ms(ts) AS ts_ms
        |FROM events ORDER BY event_id""".stripMargin,

    "stream_dedup" ->
      // the replayed 1/7 must vanish: sink == the original feed, exactly.
      """SELECT event_id, event_type, user_id, value, epoch_ms(ts) AS ts_ms
        |FROM events ORDER BY event_id""".stripMargin,

    "stream_corpus_clean" ->
      // the three admission decisions unrolled in batch: the quality
      // predicate, the per-doc might-contain fraction against the bench
      // shingle Bloom (identical salted-md5 positions, 2^18 bits, 4
      // hashes), and replay removal (one row per surviving doc_id).
      s"WITH ${corpusCleanChainSql("documents")}",

    "stream_corpus_semantic" -> {
      // the FOUR-gate front door: the three stream_corpus_clean
      // decisions plus the banded-cosine semantic sweep (identical ±1
      // planes as every embedding oracle) subtracted from the admitted
      // set.
      val (bitCols, bandSelects) =
        planeBandSql(16, "doc_id, source, embedding", "esig")
      s"""WITH ep AS (
         |  SELECT d.doc_id, d.source, e.embedding
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
         |), esig AS (
         |  SELECT doc_id, source, embedding,
         |$bitCols
         |  FROM ep
         |), ebanded AS (
         |$bandSelects
         |), embad AS (
         |  SELECT DISTINCT x.doc_id AS tid
         |  FROM ebanded x JOIN ebanded y
         |    ON x.band = y.band AND x.bkey = y.bkey
         |  WHERE x.source NOT IN ('src0','src1')
         |    AND y.source IN ('src0','src1')
         |    AND ${cosineSql("x.embedding", "y.embedding")} >= 0.42
         |), chainout AS (
         |  WITH ${corpusCleanChainSql("documents")}
         |)
         |SELECT * FROM chainout
         |WHERE doc_id NOT IN (SELECT tid FROM embad)
         |ORDER BY doc_id""".stripMargin
    },

    "stream_corpus_clean_restart" ->
      // the same chain over feed ∪ new-doc copies: replays contribute
      // nothing (one row per doc_id — the restored-state drop), the
      // offset copies re-run the identical gate decisions under their
      // new ids (bench-source copies fall to the source filter; the
      // bench shingle SET is unchanged because copies add no new text).
      s"""WITH alldocs AS (
         |  SELECT doc_id, text, lang, source, n_chars FROM documents
         |  UNION ALL
         |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
         |         text, lang, source, n_chars
         |  FROM documents WHERE doc_id % 13 = 5
         |), ${corpusCleanChainSql("alldocs")}""".stripMargin,

    // the three micro-batch admission rounds unrolled, band state
    // threaded through: round r admits a doc iff none of its band
    // buckets collides with the admitted-so-far state or with a
    // smaller-id sibling of its own round. Docs under 5 tokens have
    // no shingles → no bands → always admitted (both engines). The
    // restart variant shares it VERBATIM: splitting the three batches
    // across two checkpointed runs must be invisible.
    "stream_near_dedup" -> nearDedupAdmissionSql,

    "stream_near_dedup_restart" -> nearDedupAdmissionSql,

    // train on the en slice (streamed+compacted == batch train by
    // additivity), score the whole corpus, admit at the threshold —
    // NULLs (sub-2-token docs) fall out of the WHERE like the gate
    // rejects them.
    "stream_corpus_lm_gate" ->
      """WITH ref AS (SELECT * FROM documents WHERE lang = 'en'),
        |tk AS (SELECT doc_id, string_split(text, ' ') AS l FROM ref),
        |pairs AS (
        |  SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(1, len(l)-1),
        |      i -> {'w1': l[i], 'w2': l[i+1]})) AS s
        |    FROM tk WHERE len(l) >= 2)
        |), big AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY 1, 2),
        |ctx AS (SELECT w1, sum(c2) AS c1 FROM big GROUP BY 1),
        |v AS (SELECT count(DISTINCT t) AS v
        |      FROM (SELECT unnest(string_split(text, ' ')) AS t FROM ref)),
        |atk AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |apairs AS (
        |  SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(1, len(l)-1),
        |      i -> {'w1': l[i], 'w2': l[i+1]})) AS s
        |    FROM atk WHERE len(l) >= 2)
        |), scored AS (
        |  SELECT p.doc_id,
        |    CAST(round(ln((CAST(COALESCE(b.c2, 0) AS DOUBLE) + 1.0) /
        |                  (CAST(COALESCE(c.c1, 0) AS DOUBLE) + CAST(v.v AS DOUBLE)))
        |               * 1000) AS BIGINT) AS lp_fp
        |  FROM apairs p
        |  LEFT JOIN big b ON b.w1 = p.w1 AND b.w2 = p.w2
        |  LEFT JOIN ctx c ON c.w1 = p.w1 CROSS JOIN v
        |), per AS (
        |  SELECT doc_id, count(*) AS n_pairs, sum(lp_fp) AS sum_lp_fp
        |  FROM scored GROUP BY 1
        |)
        |SELECT d.doc_id, d.lang, CAST(per.n_pairs AS BIGINT) AS n_pairs,
        |  CAST(per.sum_lp_fp AS DOUBLE) / (CAST(per.n_pairs AS DOUBLE) * 1000.0) AS avg_lp
        |FROM documents d JOIN per ON per.doc_id = d.doc_id
        |WHERE CAST(per.sum_lp_fp AS DOUBLE) / (CAST(per.n_pairs AS DOUBLE) * 1000.0) >= -3.40
        |ORDER BY d.doc_id""".stripMargin,

    // batch-folded DSIR count state == the batch estimator over the
    // whole corpus (additivity): weighting against the streamed ratio
    // table must reproduce corpus_importance_weights' oracle.
    "stream_dsir_maintain" ->
      (dsirWeightsCte + """
        |SELECT doc_id, n_feats, sum_w_fp, avg_w FROM w
        |ORDER BY doc_id""".stripMargin),

    // batch-folded NB count state == one batch train over the whole
    // corpus (additivity): classifying against the streamed model must
    // reproduce text_nb_classify's oracle row for row.
    "stream_nb_maintain" -> nbClassifySql,

    // forgetting a cohort from the STREAMED state == training on the
    // survivors directly (the subtract law through the maintained
    // lifecycle) — same oracle as text_nb_forget.
    "stream_nb_forget" ->
      (nbCteFor("doc_id % 10 <> 3") + """
        |SELECT d.doc_id, d.lang, f.label AS pred_label, f.n_feats, f.score_fp
        |FROM documents d JOIN fin f ON f.doc_id = d.doc_id AND f.rn = 1
        |WHERE d.doc_id % 10 <> 3
        |ORDER BY d.doc_id""".stripMargin),

    // expiring the oldest delta-log batch == training on the retained
    // slices alone (each batch's counts live only in its partition).
    "stream_lm_expire" ->
      (lmPerDocCteFor(id => s"$id % 3 <> 0") + """
        |SELECT doc_id, n_pairs, sum_lp_fp, avg_lp FROM lm
        |ORDER BY doc_id""".stripMargin),

    // batch-folded LM count state == one batch train over the whole
    // corpus (additivity): scoring against the streamed model must
    // reproduce text_lm_score's oracle row for row.
    "stream_lm_maintain" ->
      (lmPerDocCte + """
        |SELECT doc_id, n_pairs, sum_lp_fp, avg_lp FROM lm
        |ORDER BY doc_id""".stripMargin),

    // restart-spanning streamed admission == one batch report over the
    // whole corpus: the same six-gate unroll corpus_admission_report
    // uses (decisions are doc x frozen artifacts — arrival order and
    // restart boundaries must not change one verdict).
    "stream_admission_restart" -> admissionReportOracle,
    // rollup over the streamed per-batch union == the batch rollup
    "stream_admission_overlap" -> admissionOverlapOracle,
    "stream_admission_model_swap" -> admissionModelSwapOracle,

    // a batch-written baseline adopted by the stream plus the streamed
    // remainder == one batch train over the whole corpus (additivity
    // across the day-0 handoff boundary).
    "stream_lm_bootstrap" ->
      (lmPerDocCte + """
        |SELECT doc_id, n_pairs, sum_lp_fp, avg_lp FROM lm
        |ORDER BY doc_id""".stripMargin),

    // batch-folded histogram state == the one-pass histogram of the
    // whole feed (additivity), bin for bin.
    "stream_hist_maintain" ->
      """SELECT CAST(floor(value/25.0) AS BIGINT) AS bin, count(*) AS n
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1 ORDER BY bin""".stripMargin,

    "stream_sketch_maintain" ->
      // batch-folded state == one pass over the whole feed (the KMV
      // merge law), so the single-pass sketch reproduces the stream's
      // final persisted state bit for bit.
      """WITH it AS (
        |  SELECT DISTINCT CAST(user_id AS VARCHAR) || '|' || event_type AS item
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |), h AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(item), 1, 8) AS BIGINT) AS h
        |  FROM it
        |), sk AS (SELECT h FROM h ORDER BY h LIMIT 256),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_sketch, max(h) AS h_k FROM sk
        |), ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM it)
        |SELECT n_sketch, h_k,
        |  CASE WHEN n_sketch < 256 THEN CAST(n_sketch AS DOUBLE)
        |       ELSE 255.0 * 4294967296.0 / CAST(h_k AS DOUBLE) END AS n_est,
        |  n_exact,
        |  abs((CASE WHEN n_sketch < 256 THEN CAST(n_sketch AS DOUBLE)
        |            ELSE 255.0 * 4294967296.0 / CAST(h_k AS DOUBLE) END)
        |      - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) < 0.15 AS err_ok
        |FROM agg, ex""".stripMargin,

    "stream_dedup_restart" ->
      // sink across both passes == feed ∪ new rows: every replay dropped
      // by state RESTORED from the checkpoint, every new row admitted.
      // (10000000 is a multiple of 1000, so the id offset cancels in the
      // % 1000 event-time spread — mirror of the Spark construction.)
      """WITH m AS (SELECT epoch_ms(max(ts)) AS mx_ms FROM events)
        |SELECT event_id, event_type, user_id, value, epoch_ms(ts) AS ts_ms
        |FROM events
        |UNION ALL
        |SELECT event_id + 10000000, event_type, user_id, value,
        |       m.mx_ms + (event_id % 1000 + 1) * 1000
        |FROM events, m WHERE event_id % 7 = 3
        |ORDER BY event_id""".stripMargin,

    "stream_session_window" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms FROM events),
        |x AS (SELECT user_id, ts_ms,
        |        lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) AS prev_ts
        |      FROM e),
        |y AS (SELECT user_id, ts_ms,
        |        CASE WHEN prev_ts IS NULL OR ts_ms - prev_ts > 1800000
        |             THEN 1 ELSE 0 END AS new_session
        |      FROM x),
        |z AS (SELECT user_id, ts_ms,
        |        sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms
        |                               ROWS UNBOUNDED PRECEDING) AS session_seq
        |      FROM y)
        |SELECT user_id, min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
        |       CAST(count(*) AS INTEGER) AS n_events
        |FROM z GROUP BY user_id, session_seq
        |ORDER BY user_id, start_ms""".stripMargin,

    "stream_interval_join" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        |), purch AS (
        |  SELECT user_id, ts AS pts, value FROM events WHERE event_type = 'purchase'
        |)
        |SELECT c.event_id, c.user_id,
        |  count(p.pts) AS n_recent_purchases,
        |  CAST(COALESCE(sum(CAST(round(p.value*100) AS BIGINT)), 0) AS BIGINT) AS recent_value_cents
        |FROM clicks c LEFT JOIN purch p
        |  ON p.user_id = c.user_id
        | AND p.pts >= c.ts - INTERVAL 1 HOUR AND p.pts <= c.ts
        |GROUP BY 1, 2
        |ORDER BY c.event_id""".stripMargin,

    "stream_join_restart" ->
      // every in-horizon (click, purchase) pair exactly once, whether
      // the two sides arrived in the same pass or across the restart.
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        |), purch AS (
        |  SELECT event_id AS pid, user_id, ts AS pts, value FROM events
        |  WHERE event_type = 'purchase'
        |)
        |SELECT c.event_id, c.user_id, p.pid,
        |       CAST(round(p.value*100) AS BIGINT) AS value_cents
        |FROM clicks c JOIN purch p
        |  ON p.user_id = c.user_id
        | AND p.pts >= c.ts - INTERVAL 1 HOUR AND p.pts <= c.ts
        |ORDER BY event_id, pid""".stripMargin,

    "stream_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms FROM events),
        |x AS (SELECT user_id, ts_ms,
        |        lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) AS prev_ts
        |      FROM e),
        |y AS (SELECT user_id, ts_ms,
        |        CASE WHEN prev_ts IS NULL OR ts_ms - prev_ts > 1800000
        |             THEN 1 ELSE 0 END AS new_session
        |      FROM x),
        |z AS (SELECT user_id, ts_ms,
        |        sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms
        |                               ROWS UNBOUNDED PRECEDING) AS session_seq
        |      FROM y)
        |SELECT user_id, min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
        |       CAST(count(*) AS INTEGER) AS n_events
        |FROM z GROUP BY user_id, session_seq
        |ORDER BY user_id, start_ms""".stripMargin,

    "stream_pipeline" -> streamPipelineOracle,

    // identical oracle: the restart must be INVISIBLE in the result —
    // same finalized windows whether the feed arrived in one pass or two.
    "stream_pipeline_restart" -> streamPipelineOracle,

    "stream_session_restart" ->
      // batch sessionization of the whole feed — identical whether the
      // events arrived in one pass or two — kept to sessions finalized
      // strictly below the final watermark horizon (session window end
      // = last event + gap + 1 ms; horizon = max event time − 1 h).
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms FROM events),
        |mx AS (SELECT max(ts_ms) AS mx_ms FROM e),
        |x AS (SELECT user_id, ts_ms,
        |        lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) AS prev_ts
        |      FROM e),
        |y AS (SELECT user_id, ts_ms,
        |        CASE WHEN prev_ts IS NULL OR ts_ms - prev_ts > 1800000
        |             THEN 1 ELSE 0 END AS new_session
        |      FROM x),
        |z AS (SELECT user_id, ts_ms,
        |        sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms
        |                               ROWS UNBOUNDED PRECEDING) AS session_seq
        |      FROM y),
        |sess AS (
        |  SELECT user_id, min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
        |         CAST(count(*) AS INTEGER) AS n_events
        |  FROM z GROUP BY user_id, session_seq
        |)
        |SELECT s.user_id, s.start_ms, s.end_ms, s.n_events
        |FROM sess s, mx
        |WHERE s.end_ms + 1800001 < mx.mx_ms - 3600000
        |ORDER BY user_id, start_ms""".stripMargin,

    "stream_enrich" ->
      """WITH m AS (SELECT epoch_ms(max(ts)) AS mx_ms FROM events)
        |SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
        |  CASE WHEN event_type IN ('click','view') THEN 'engagement'
        |       WHEN event_type = 'purchase' THEN 'revenue'
        |       WHEN event_type = 'signup' THEN 'lifecycle'
        |       ELSE 'ops' END AS category,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events, m
        |WHERE epoch_ms(date_trunc('hour', ts)) + 3600000 < mx_ms - 3600000
        |GROUP BY 1, 2
        |ORDER BY window_start_ms, category""".stripMargin,
  )
}
