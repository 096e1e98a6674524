package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming restatement of the reference's incremental
  * protocol (SURVEY §2.9): the bronze→silver increment
  * (`loaded_to_silver = FALSE`, /root/reference
  * include/sql/silver/silver_load.sql:219) is exactly a
  * `Trigger.AvailableNow` file-stream over the bronze directory — Spark's
  * checkpoint replaces the per-row flag, and each micro-batch is the
  * "new rows only" set. Plus the streaming operators a training-data
  * feed needs: watermarked window aggregation and stateful
  * sessionization.
  *
  * Every transform below is batch/stream agnostic (pure DataFrame →
  * DataFrame), so the SAME code runs in the batch oracle-checked queries
  * and in a streaming job — the Spark-first way to keep incremental and
  * full recompute semantically identical (the P2 invariant).
  */
object Streams {

  /** A sibling session whose `spark.sql.shuffle.partitions` — which is
    * ALSO Structured Streaming's state-partition count, frozen into the
    * checkpoint at first start — is sized to the pipeline's STATE
    * volume instead of inheriting the cluster-parallelism default.
    * State-store cost per micro-batch is (stores × partitions) snapshot/
    * delta commits of mostly-fixed IO, so an oversized partition count
    * buys nothing but commit fan-out: the round-12 A/B priced the nine
    * stateful restart/maintain queries at 0.71× wall under 8 state
    * partitions vs 32 at sf0.1 (PLANS.md table), results hash-identical
    * (state partitioning is semantically invisible — the oracles prove
    * it). `newSession` shares the SparkContext; only the conf forks, so
    * batch queries on the parent session keep the cluster-sized
    * default. At 100 TB the same knob sizes UP with state volume — the
    * point is sizing state partitions to state, not to cores.
    */
  def stateSizedSession(spark: SparkSession, statePartitions: Int): SparkSession = {
    require(statePartitions >= 1, "need at least one state partition")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    ss
  }

  /** The file feed of the maintenance and admission pipelines: ONE
    * landed file per micro-batch, the granularity their replay and
    * batch == stream laws are stated at (three files → three batches).
    */
  private def oneFilePerBatch(spark: SparkSession, schema: StructType,
                              srcDir: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(srcDir)

  /** Watermarked hourly windowed aggregation (event-time). Cents-exact
    * sums as everywhere else.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_cents"))

  /** File-stream incremental pipeline: bronze dir → windowed silver agg →
    * parquet sink, processing exactly the files not yet checkpointed,
    * then stopping (Trigger.AvailableNow) — the scheduled-batch shape of
    * the reference's daily DAG.
    */
  def incrementalPipeline(spark: SparkSession, schema: StructType,
                          srcDir: String, outDir: String,
                          checkpointDir: String,
                          prepare: DataFrame => DataFrame = identity): StreamingQuery =
    windowedCounts(prepare(spark.readStream.schema(schema).parquet(srcDir)))
      .writeStream
      .format("parquet")
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start(outDir)

  /** Stream-static enrichment pipeline: the live form of the reference's
    * dim-join enrichment — each micro-batch joins the (bounded, broadcast)
    * dimension with NO state: a static join adds nothing to the streaming
    * state store, so it scales with the dim, not the stream. Downstream,
    * the watermarked window agg is the only stateful operator.
    */
  def enrichedPipeline(spark: SparkSession, schema: StructType,
                       srcDir: String, outDir: String, checkpointDir: String,
                       dim: DataFrame, dimKey: String, categoryCol: String,
                       fallbackCategory: String,
                       prepare: DataFrame => DataFrame = identity): StreamingQuery =
    prepare(spark.readStream.schema(schema).parquet(srcDir))
      // LEFT join + fallback: a key missing from the dim must not drop
      // the event from the feed — it lands in the catch-all category
      // (dropping it would silently under-count on dim drift).
      .join(broadcast(dim), Seq(dimKey), "left")
      .withColumn(categoryCol,
        coalesce(col(categoryCol), lit(fallbackCategory)))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col(categoryCol))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("window.start").as("window_start"), col(categoryCol),
        col("n_events"), col("value_cents"))
      .writeStream
      .format("parquet")
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start(outDir)

  /** Streaming ingest dedup — the streaming form of the reference's
    * at-least-once idempotency (`ON CONFLICT DO NOTHING`): a duplicate ID
    * arriving within the watermark horizon is dropped even when its
    * event-time differs from the first occurrence (true id-level
    * semantics, not exact-record replay); state is bounded by the
    * watermark — ids older than the horizon age out, so a replay beyond
    * it reinserts, exactly the boundedness trade every streaming dedup
    * makes.
    */
  def dedupStream(events: DataFrame, idCol: String): DataFrame =
    events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(idCol)

  /** [[dedupStream]] as a LIVE pipeline: file stream → watermark id-dedup
    * → parquet sink, AvailableNow — the at-least-once ingest front door
    * (a replayed source file's rows are dropped on id, first occurrence
    * emitted immediately; dedup state ages out past the watermark
    * horizon, so state is bounded no matter how long the feed runs).
    */
  def dedupPipeline(spark: SparkSession, schema: StructType, srcDir: String,
                    outDir: String, checkpointDir: String, idCol: String,
                    prepare: DataFrame => DataFrame = identity): StreamingQuery =
    dedupStream(prepare(spark.readStream.schema(schema).parquet(srcDir)), idCol)
      .writeStream
      .format("parquet")
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start(outDir)

  /** STREAMING corpus admission — the live front door of the corpus
    * release pipeline (`Pipeline.runCorpusEtl`'s first stages re-expressed
    * for a document FEED): quality gate → Bloom decontamination gate →
    * at-least-once delivery dedup, in the order that keeps per-row cost
    * and state smallest.
    *
    *  - QUALITY GATE: [[graft.ext.TextAnalysis.qualityGateDocs]] — a pure
    *    projection filter, no state, identical keep/drop set to the batch
    *    semi-join form.
    *  - DECONTAMINATION GATE: each surviving doc's distinct 5-shingles are
    *    probed against the BENCH set's Bloom filter (`shingleGate`, a
    *    packed-bitmap [[graft.ext.Sketches.bloomGateColumn]] — pure
    *    projection, no shuffle, no join), and docs whose might-contain
    *    fraction reaches `threshold` are dropped. This is the
    *    RECALL-FIRST admission form of the sweep: Bloom false positives
    *    can only over-drop (never leak bench text into the stream), and
    *    the batch sweep (`corpus_decontaminate`) remains the
    *    publication-grade pass with the frequency cap — which needs
    *    global shingle frequencies no streaming stage can know.
    *  - DELIVERY DEDUP: watermarked [[dedupStream]] semantics on doc_id —
    *    a replayed delivery inside the horizon is dropped, state ages out
    *    beyond it. The only stateful stage, holding ids (not documents),
    *    and only for docs that SURVIVED both gates.
    *
    * Event time is synthesized from doc_id (one doc per minute) the same
    * way the batch oracle does, so the output is deterministic and
    * hash-comparable. Batch/stream agnostic like every transform here.
    */
  def corpusCleanStream(docs: DataFrame,
                        shingleGate: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                        benchSources: Seq[String],
                        threshold: Double,
                        semantic: Option[SemanticGate] = None): DataFrame = {
    val gated = graft.ext.TextAnalysis.qualityGateDocs(
      docs.filter(!col("source").isin(benchSources: _*)))
    // native ShingleArray kernel (round 17): bit-identical distinct
    // 5-shingles without the interpreted per-element lambda chain; the
    // quality gate upstream guarantees >= 5 tokens, and the < 5 guard
    // is inside the kernel anyway (empty array).
    val shArr = graft.functions.KeyColumns.shingle_array(col("text"), 5)
    val shingled = gated
      .withColumn("n_sh", size(shArr))
      .withColumn("n_hit", size(filter(shArr, shingleGate)))
      .filter(col("n_hit").cast("double") <
        lit(threshold) * col("n_sh").cast("double"))
    semantic.fold(shingled)(g => semanticGate(shingled, g))
      .withColumn("ts",
        timestamp_micros(col("doc_id").cast("long") * lit(60000000L)))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("n_sh"), col("n_hit"))
  }

  /** Configuration of the streaming SEMANTIC admission leg: the static
    * embeddings side table (vec_id, embedding), the PERSISTED
    * bench-signature state ([[graft.ext.Corpus.benchSignatureTable]] —
    * small by construction, an eval corpus), and the cosine threshold.
    */
  case class SemanticGate(emb: DataFrame, benchState: DataFrame,
                          threshold: Double, numPlanes: Int = 16,
                          bandWidth: Int = 4, dim: Int = 64)

  /** SEMANTIC (embedding) admission gate for the streaming corpus
    * front door — the stream form of the persisted bench-signature
    * sweep, closing stream/batch parity for decontamination (the batch
    * release chain got this leg the same round): a doc is dropped when
    * its embedding cosine-matches any banded bench candidate at or
    * above the threshold.
    *
    * Stream shape: STATELESS. Embeddings attach by one stream-static
    * left join; then ONE stream-static LEFT ANTI join per band, keyed
    * on that band's signature (the column form of the hyperplane
    * banding — [[graft.ext.Similarity.withBandKeys]]'s keys without the
    * row explosion, so no stream-side aggregation is ever needed to
    * collapse band rows back to docs) with the exact-cosine
    * verification inside the join condition. A doc survives iff NO
    * bench candidate in ANY of its bands clears the threshold — exactly
    * the batch operator's candidates-then-verify semantics. The bench
    * state is broadcast (eval corpora are small by construction); docs
    * without an embedding row pass through un-swept (null embedding:
    * empty band keys match nothing, null cosine clears nothing).
    */
  def semanticGate(docs: DataFrame, g: SemanticGate): DataFrame = {
    graft.ext.Stamp.require(g.benchState, "bench-signature state",
      graft.ext.Corpus.benchSigLayout(g.numPlanes, g.bandWidth, g.dim))
    val withEmb = docs.join(
      g.emb.select(col("vec_id").as("doc_id"), col("embedding").as("_emb")),
      Seq("doc_id"), "left")
    val keys = graft.ext.Similarity.bandKeyExprs(col("_emb"),
      g.numPlanes, g.bandWidth, g.dim)
    keys.zipWithIndex.foldLeft(withEmb) { case (df, (key, b)) =>
      val bench = g.benchState.filter(col("band") === b)
        .select(col("bkey").as(s"_bk$b"), col("be").as(s"_be$b"))
      df.join(broadcast(bench),
        key === col(s"_bk$b") &&
          graft.functions.KeyColumns.cosine_native(col("_emb"),
            col(s"_be$b")) >= lit(g.threshold),
        "left_anti")
    }.drop("_emb")
  }

  /** LIVE incremental maintenance of persisted, layout-stamped KMV
    * sketch state — the day-N lifecycle of the sketch family run BY A
    * STREAM instead of a nightly batch: each micro-batch builds its own
    * k-hash sketch and folds it into the persisted state with
    * [[graft.ext.Sketches.kmvMerge]] (state stamps cross-validated on
    * every fold), so the distinct-cardinality estimate is always
    * current without any stage ever seeing more than sketch-sized data.
    *
    * Correctness under the at-least-once `foreachBatch` contract comes
    * from ALGEBRA, not coordination: KMV merge is IDEMPOTENT (bottom-k
    * of a hash-set union — folding the same batch twice is a no-op), so
    * a micro-batch replayed after a crash between state write and
    * checkpoint commit converges to the identical state. That is the
    * same exactly-once-by-idempotency argument as [[exactlyOnceSink]],
    * carried by the operator's merge law instead of per-batch
    * directories — the reason mergeable sketches are THE streaming
    * statistics shape at 100 TB (state is ≤k rows forever; the merge
    * law is oracle-proven in stats_kmv; restart recovery is
    * StreamingSpec-proven on a grown source).
    *
    * The per-batch state rewrite is promoted through
    * [[graft.operators.ScaleOps.PointerSwap]]: the merged ≤k rows
    * (sketch-sized, never data) are staged as an immutable version
    * directory and the one-line `current` pointer is swapped — the only
    * reader-visible mutation. That closes the one crash window a plain
    * overwrite has (delete-then-write: a crash in between leaves an
    * EMPTY state dir for the replayed batch to merge against, silently
    * forgetting every prior fold). Under the pointer a crash at any
    * point leaves `current` naming a complete version: before the swap
    * the old state is live, after it the new one is — and the replayed
    * batch re-merges idempotently either way. The predecessor version
    * is retained across the swap, so the merged frame's own source
    * files survive promotion and no lineage detach (localCheckpoint) is
    * needed. Read the state back with
    * [[graft.operators.ScaleOps.readMaintained]] (PointerSwap); a plain
    * pre-existing flat state dir is migrated in place on first fold.
    */
  def sketchMaintainPipeline(spark: SparkSession, schema: StructType,
                             srcDir: String, stateDir: String,
                             checkpointDir: String, itemCol: String, k: Int,
                             prepare: DataFrame => DataFrame = identity): StreamingQuery =
    prepare(oneFilePerBatch(spark, schema, srcDir))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.operators.ScaleOps
        val s = batch.sparkSession
        val root = new org.apache.hadoop.fs.Path(stateDir)
        val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
        val b = graft.ext.Sketches.kmvBuild(batch.select(col(itemCol)), itemCol, k)
        val merged =
          if (fs.exists(root))
            graft.ext.Sketches.kmvMerge(k, b,
              ScaleOps.readMaintained(s, stateDir, ScaleOps.PointerSwap))
          else b
        // stage next to the root (never inside it — promote would prune
        // it as a stray), then swap the pointer. The staging path is
        // per-batch-deterministic: a replayed batch overwrites its own
        // crashed leftovers.
        val staged = s"$stateDir.stage-$batchId"
        graft.ext.Sketches.kmvWrite(merged, staged, k)
        ScaleOps.PointerSwap.promote(fs, root,
          new org.apache.hadoop.fs.Path(staged))
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** LIVE histogram-state maintenance — the drift monitor's baseline
    * kept current BY A STREAM: each micro-batch's fixed-width histogram
    * folds into the persisted width-stamped state with
    * [[graft.ext.Quality.histMerge]] (additive: build(A) ⊕ build(B) ==
    * build(A ∪ B), so the final state is BIT-IDENTICAL to one pass over
    * the whole feed), and each rewrite promotes through
    * [[graft.operators.ScaleOps.PointerSwap]] — the crash-window-free
    * shape [[sketchMaintainPipeline]] established.
    *
    * Replay safety differs from KMV in KIND: additive merge is NOT
    * idempotent — a re-folded batch double-counts — so the
    * exactly-once argument cannot ride on the algebra. Instead the
    * state itself carries `last_batch_id`, making the fold
    * insert-if-absent at BATCH granularity: a batch replayed after a
    * crash between pointer swap and checkpoint commit finds its own id
    * already stamped and skips; a batch replayed after a crash BEFORE
    * the swap sees the predecessor state (its partial staging is
    * overwritten) and folds normally. AvailableNow's sequential batch
    * ids make `max(last_batch_id) >= batchId` exactly the
    * already-folded predicate.
    *
    * Contract: a state dir this pipeline maintains is bound to ONE
    * checkpoint INSTANCE, and the state carries that lineage explicitly
    * (a token minted inside the checkpoint dir on first fold — not a
    * path hash, which an `rm -rf` + re-create at the same path would
    * silently satisfy). Growing the source and re-running on the SAME
    * checkpoint folds exactly the new files (ids keep ascending). Any
    * OTHER checkpoint — fresh dir, or the same path wiped and recreated
    * — REFUSES loudly: its batch ids restart at 0, so the stamp alone
    * cannot distinguish re-delivered old files from genuinely new ones
    * (whichever file sequences past the old max id would silently
    * double-fold). The same binding every Structured Streaming stateful
    * operator has, surfaced as an error because this state outlives the
    * query. A BATCH-written baseline ([[graft.ext.Quality.histWrite]] —
    * no stamp, no lineage) attaches cleanly: the first fold adopts it
    * under the new stream's lineage, the day-0 handoff a drift monitor
    * actually performs.
    */
  def histMaintainPipeline(spark: SparkSession, schema: StructType,
                           srcDir: String, stateDir: String,
                           checkpointDir: String, valueCol: String,
                           binWidth: Double): StreamingQuery =
    oneFilePerBatch(spark, schema, srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        additiveFold(batch.sparkSession, stateDir, checkpointDir, batchId,
          opName = "histMaintain",
          build = graft.ext.Quality.histBuild(batch.toDF(), valueCol, binWidth),
          merge = st => graft.ext.Quality.histMerge(binWidth,
            st.select(col("bin"), col("n"), col("bin_width")),
            graft.ext.Quality.histBuild(batch.toDF(), valueCol, binWidth)),
          stateCols = df => df.select(col("bin"), col("n"))
            .withColumn("bin_width", lit(binWidth)))
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Shared fold harness for ADDITIVE stream-maintained state (the
    * histogram-maintainer discipline, factored out when the LM-count
    * maintainer joined the family): additive merges are NOT idempotent —
    * a re-folded batch double-counts — so exactly-once rides on a
    * batch-id stamp (insert-if-absent at batch granularity) plus a
    * checkpoint-INSTANCE lineage token. The token is minted INSIDE the
    * checkpoint dir on first fold: hashing the checkpoint PATH would
    * survive an `rm -rf` + re-create at the same path (the standard
    * streaming reset), which re-delivers everything with fresh batch
    * ids and must be refused like any other foreign lineage.
    *
    * Fold-guard cases, in order:
    *  - state present, stamped, same lineage, `max(last_batch_id) >=
    *    batchId` → replay of a committed fold: SKIP (the no-op that
    *    makes additive folds exactly-once).
    *  - state present, stamped, FOREIGN lineage → refuse loudly (batch
    *    ids restarted; re-delivery is indistinguishable from new data).
    *  - state present, unstamped → a BATCH-written baseline: adopt it
    *    under this stream's lineage (the day-0 handoff).
    *  - state ABSENT but the lineage token pre-existed and a prior
    *    batch committed → refuse loudly: folds happened whose state is
    *    gone; re-initializing from this batch alone would silently drop
    *    them. (Absent root + pre-existing token at batch 0 is the one
    *    legitimate case: a replay after a crash between token mint and
    *    first promote — nothing was folded, nothing is lost.)
    * Every rewrite stages next to the root and promotes through
    * [[graft.operators.ScaleOps.PointerSwap]] — the crash-window-free
    * shape [[sketchMaintainPipeline]] established.
    */
  /** Mint-or-read the per-checkpoint-INSTANCE lineage token (minted
    * inside the checkpoint dir on first fold). Returns (token, whether
    * it pre-existed).
    */
  private def lineageToken(fs: org.apache.hadoop.fs.FileSystem,
                           checkpointDir: String): (String, Boolean) = {
    val linPath = new org.apache.hadoop.fs.Path(checkpointDir,
      ".graft_state_lineage")
    val tokenPreExisted = fs.exists(linPath)
    val lin =
      if (tokenPreExisted) {
        val in = fs.open(linPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      } else {
        val t = java.util.UUID.randomUUID().toString
        val out = fs.create(linPath, false)
        try out.write(t.getBytes("UTF-8")) finally out.close()
        t
      }
    (lin, tokenPreExisted)
  }

  private def additiveFold(s: SparkSession, stateDir: String,
                           checkpointDir: String, batchId: Long,
                           opName: String,
                           build: => DataFrame,
                           merge: DataFrame => DataFrame,
                           stateCols: DataFrame => DataFrame): Unit = {
    import graft.operators.ScaleOps
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val (lin, tokenPreExisted) = lineageToken(fs, checkpointDir)
    val (merged, alreadyFolded) =
      if (fs.exists(root)) {
        val st = ScaleOps.readMaintained(s, stateDir, ScaleOps.PointerSwap)
        val streamMaintained = st.columns.contains("last_batch_id")
        require(!streamMaintained || st.columns.contains("lineage"),
          s"$opName: state $stateDir is stream-maintained but " +
            "predates the lineage stamp — rebuild it from the retained " +
            "corpus (its fold history cannot be validated)")
        val folded = streamMaintained && {
          val r = st.agg(max(col("lineage")).as("l"),
            max(col("last_batch_id")).as("b")).collect()(0)
          require(r.isNullAt(0) || r.getString(0) == lin,
            s"$opName: state $stateDir is bound to a different " +
              "checkpoint lineage — fold new data through the ORIGINAL " +
              "checkpoint, or rebuild the state from the retained corpus")
          !r.isNullAt(1) && r.getLong(1) >= batchId
        }
        (merge(st), folded)
      } else {
        require(!tokenPreExisted || batchId == 0,
          s"$opName: state $stateDir is absent but checkpoint " +
            s"$checkpointDir has already folded batches under its " +
            "lineage token — prior folds cannot be reconstructed; " +
            "rebuild the state from the retained corpus on a fresh " +
            "checkpoint")
        (build, false)
      }
    if (!alreadyFolded) {
      val staged = s"$stateDir.stage-$batchId"
      stateCols(merged)
        .withColumn("last_batch_id", lit(batchId))
        .withColumn("lineage", lit(lin))
        .write.mode("overwrite").parquet(staged)
      ScaleOps.PointerSwap.promote(fs, root,
        new org.apache.hadoop.fs.Path(staged))
    }
  }

  /** LIVE incremental DSIR estimation — the importance-resampling
    * estimator's ([[graft.ext.Corpus.importanceWeights]]) per-bucket
    * count state maintained BY A STREAM: each micro-batch's
    * [[graft.ext.Corpus.importanceCountsBuild]] (target-slice and raw
    * hashed-ngram counts, one pass) folds in with
    * [[graft.ext.Corpus.importanceCountsMerge]] under the shared
    * [[additiveFold]] discipline. Additivity makes the accumulated
    * counts — and therefore the ratio table
    * [[graft.ext.Corpus.importanceRatiosFromCounts]] derives —
    * BIT-IDENTICAL to the batch estimator over the concatenated feed,
    * so target-domain selection retrains continuously as new corpus
    * flows in. State is ≤`buckets` rows FOREVER (bucket-hashed
    * counts), the cheapest state in the maintenance family.
    */
  def dsirMaintainPipeline(spark: SparkSession, schema: StructType,
                           srcDir: String, stateDir: String,
                           checkpointDir: String,
                           targetPred: org.apache.spark.sql.Column,
                           buckets: Int = 4096): StreamingQuery =
    oneFilePerBatch(spark, schema, srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.ext.Corpus
        // the state flows into the merge WITH its geometry stamp (the
        // merge validates it against this run's buckets and re-stamps),
        // and stateCols keeps the stamp in the persisted state — a
        // restart under a different buckets fails loudly instead of
        // silently folding counts from two hash spaces together
        additiveFold(batch.sparkSession, stateDir, checkpointDir, batchId,
          opName = "dsirMaintain",
          build = Corpus.importanceCountsBuild(batch.toDF(), targetPred,
            buckets),
          merge = st => Corpus.importanceCountsMerge(st,
            Corpus.importanceCountsBuild(batch.toDF(), targetPred, buckets)),
          stateCols = df => df.select(
            (Seq("bucket", "ct", "cr") ++
              (if (df.columns.contains("buckets")) Seq("buckets") else Nil))
              .map(col): _*))
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** LIVE incremental Naive Bayes training — the supervised
    * classifier's ([[graft.ext.Classifier.nbClassify]]) class-
    * conditional count state maintained BY A STREAM: each micro-batch's
    * [[graft.ext.Classifier.nbCountsBuild]] (per-(label, bucket)
    * occurrence counts plus the per-label doc-count sentinel rows, one
    * pass) folds in with [[graft.ext.Classifier.nbCountsMerge]] under
    * the shared [[additiveFold]] discipline. Additivity makes the
    * accumulated counts — and the dense model
    * [[graft.ext.Classifier.nbModelFromCounts]] derives — BIT-IDENTICAL
    * to one batch train over the concatenated feed, so the quality/
    * domain classifier retrains continuously as labeled corpus flows
    * in. State is ≤ `labels × (buckets+1)` rows FOREVER — the bounded
    * rewrite-per-fold class, like the DSIR and histogram members.
    */
  def nbMaintainPipeline(spark: SparkSession, schema: StructType,
                         srcDir: String, stateDir: String,
                         checkpointDir: String,
                         labelCol: String = "lang",
                         buckets: Int = 1024): StreamingQuery =
    oneFilePerBatch(spark, schema, srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.ext.Classifier
        // stamp handling mirrors dsirMaintain: geometry validated at
        // every fold, persisted with the state
        additiveFold(batch.sparkSession, stateDir, checkpointDir, batchId,
          opName = "nbMaintain",
          build = Classifier.nbCountsBuild(batch.toDF(), labelCol, buckets),
          merge = st => Classifier.nbCountsMerge(st,
            Classifier.nbCountsBuild(batch.toDF(), labelCol, buckets)),
          stateCols = df => df.select(
            (Seq("label", "bucket", "c") ++
              (if (df.columns.contains("buckets")) Seq("buckets") else Nil))
              .map(col): _*))
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Right-to-be-forgotten against a STREAM-MAINTAINED additive count
    * state ([[nbMaintainPipeline]] / [[dsirMaintainPipeline]] /
    * [[histMaintainPipeline]] states): subtract the removed cohort's
    * counts ([[graft.operators.ScaleOps.subtractCounts]]'s
    * negative-refusal discipline) and rewrite the state through the
    * same staged PointerSwap promotion the fold path uses — the
    * `last_batch_id` / `lineage` stamps ride through UNCHANGED, so the
    * maintaining stream keeps folding on the forgotten state exactly
    * where it left off (a replayed batch still no-ops, the next live
    * batch still folds in). This is the production GDPR-delete shape:
    * the deletion arrives BETWEEN micro-batches, not as a corpus
    * rebuild.
    */
  def forgetFromMaintained(spark: SparkSession, stateDir: String,
                           removed: DataFrame, keys: Seq[String],
                           counts: Seq[String], opName: String): Unit = {
    import graft.operators.ScaleOps
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = ScaleOps.readMaintained(spark, stateDir, ScaleOps.PointerSwap)
    require(Seq("last_batch_id", "lineage").forall(st.columns.contains),
      s"$opName: $stateDir is not a stream-maintained state — forget " +
        "plain count tables by subtracting and rewriting them directly")
    val stamps = st.agg(max(col("last_batch_id")), max(col("lineage")))
      .collect()(0)
    require(!stamps.isNullAt(0),
      s"$opName: $stateDir holds no folded batches — nothing to forget from")
    val staged = s"$stateDir.forget-stage"
    ScaleOps.subtractCounts(
        st.select((keys ++ counts).map(col): _*), removed, keys, counts,
        opName)
      .withColumn("last_batch_id", lit(stamps.getLong(0)))
      .withColumn("lineage", lit(stamps.getString(1)))
      .write.mode("overwrite").parquet(staged)
    ScaleOps.PointerSwap.promote(fs, root,
      new org.apache.hadoop.fs.Path(staged))
  }

  /** LIVE incremental LM training — the model-based quality scorer's
    * ([[graft.ext.TextAnalysis.lmScoreBigram]]) bigram/unigram count
    * state maintained BY A STREAM. Unlike the histogram/DSIR states
    * (bounded rows — a full merge-and-rewrite per fold is free), LM
    * count state is VOCABULARY-scale: at corpus scale a per-batch
    * rewrite of every distinct n-gram ever seen would make fold cost
    * grow with history. So this maintainer is the family's DELTA-LOG
    * member: each micro-batch APPENDS its own
    * [[graft.ext.TextAnalysis.lmCountsBuild]] counts as an immutable
    * `batch_id=<id>` partition — per-fold cost O(batch), independent
    * of accumulated state — and readers aggregate the log
    * ([[lmReadCounts]]: one partial+final sum over the partitions,
    * additivity makes it BIT-IDENTICAL to one batch train over the
    * concatenated feed). [[lmCompactState]] folds the log down between
    * releases so read cost stays bounded.
    *
    * Replay safety comes from the APPEND layout, not a batch-id
    * column: a replayed batch overwrites its OWN `batch_id=` partition
    * with identical content ([[exactlyOnceSink]]'s idempotency). The
    * checkpoint-lineage binding is the family's shared token
    * discipline — a foreign checkpoint restarts batch ids at 0 and its
    * deliveries would overwrite committed partitions, so a `_lineage`
    * marker adopted on first fold refuses any other checkpoint
    * instance loudly, and an absent state root under a token that has
    * already committed folds refuses the same way.
    *
    * DAY-0 BOOTSTRAP (the additive-fold family's batch-baseline
    * handoff, delta-log form): a state root holding a FLAT
    * batch-written [[graft.ext.TextAnalysis.lmCountsBuild]] table (no
    * `_lineage`, no `batch_id=` partitions — exactly what
    * `lmCountsBuild(corpus).write.parquet(stateDir)` leaves) is
    * ADOPTED on first fold: its files move into a `batch_id=-1`
    * baseline partition (below every checkpoint batch id, so no replay
    * can ever overwrite it) and the stream's lineage marker is minted
    * over it. Additivity then makes the maintained model BIT-IDENTICAL
    * to one batch train over baseline ∪ feed. The adoption is
    * file-rename idempotent — a crash mid-move resumes (remaining
    * loose files move, then the marker lands); a root with REAL
    * `batch_id=` partitions and no marker is still refused (a
    * pre-marker delta-log's fold history cannot be validated).
    */
  def lmMaintainPipeline(spark: SparkSession, schema: StructType,
                         srcDir: String, stateDir: String,
                         checkpointDir: String): StreamingQuery =
    oneFilePerBatch(spark, schema, srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.ext.TextAnalysis
        val s = batch.sparkSession
        val root = new org.apache.hadoop.fs.Path(stateDir)
        val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
        val (lin, tokenPreExisted) = lineageToken(fs, checkpointDir)
        val marker = new org.apache.hadoop.fs.Path(stateDir, "_lineage")
        if (fs.exists(root) && !fs.exists(marker)) {
          // day-0 bootstrap: a flat batch-written counts table (loose
          // data files, possibly plus a batch_id=-1 from a crashed
          // prior adoption) adopts under this stream's lineage; a real
          // pre-marker delta-log refuses.
          val entries = fs.listStatus(root)
          val loose = entries.filter(e => e.isFile &&
            !e.getPath.getName.startsWith(".") &&
            !e.getPath.getName.startsWith("_"))
          val logParts = entries.filter(e => e.isDirectory &&
            e.getPath.getName.startsWith("batch_id=") &&
            e.getPath.getName != "batch_id=-1")
          require(logParts.isEmpty &&
            (loose.nonEmpty ||
              fs.exists(new org.apache.hadoop.fs.Path(stateDir, "batch_id=-1"))),
            s"lmMaintain: state $stateDir has no lineage marker — not a " +
              "delta-log LM state or a flat batch-written baseline (or a " +
              "log written by a pre-marker version); rebuild it from the " +
              "retained corpus")
          require(!tokenPreExisted || batchId == 0,
            s"lmMaintain: state $stateDir is unadopted but checkpoint " +
              s"$checkpointDir has already folded batches under its " +
              "lineage token — rebuild the state from the retained " +
              "corpus on a fresh checkpoint")
          val baseDir = new org.apache.hadoop.fs.Path(stateDir, "batch_id=-1")
          fs.mkdirs(baseDir)
          loose.foreach { e =>
            require(fs.rename(e.getPath,
              new org.apache.hadoop.fs.Path(baseDir, e.getPath.getName)),
              s"lmMaintain: cannot adopt baseline file ${e.getPath}")
          }
        } else if (fs.exists(root)) {
          val in = fs.open(marker)
          val got = try scala.io.Source.fromInputStream(in, "UTF-8")
            .mkString.trim finally in.close()
          require(got == lin,
            s"lmMaintain: state $stateDir is bound to a different " +
              "checkpoint lineage — fold new data through the ORIGINAL " +
              "checkpoint, or rebuild the state from the retained corpus")
        } else {
          require(!tokenPreExisted || batchId == 0,
            s"lmMaintain: state $stateDir is absent but checkpoint " +
              s"$checkpointDir has already folded batches under its " +
              "lineage token — prior folds cannot be reconstructed; " +
              "rebuild the state from the retained corpus on a fresh " +
              "checkpoint")
        }
        // marker BEFORE the first partition write: the reverse order
        // leaves a first-fold crash window (partition exists, marker
        // absent) where the batch-0 replay would be refused as
        // foreign state even though a same-content overwrite is safe.
        // Marker-then-crash replays fine: root exists, marker matches.
        // No explicit mkdirs(root): fs.create already creates parent
        // directories, so the root only comes into existence TOGETHER
        // with the marker — a crash between a separate mkdirs and the
        // marker create would leave a rootless-marker state that the
        // batch-0 replay permanently refuses as foreign.
        if (!fs.exists(marker)) {
          val out = fs.create(marker, false)
          try out.write(lin.getBytes("UTF-8")) finally out.close()
        }
        TextAnalysis.lmCountsBuild(batch.toDF())
          .write.mode("overwrite").parquet(s"$stateDir/batch_id=$batchId")
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming MODEL-BASED quality admission — the LM the stream
    * maintains ([[lmMaintainPipeline]]) actually GATING the corpus
    * front door, the production use of model-based quality scoring:
    * every micro-batch is scored with
    * [[graft.ext.TextAnalysis.lmScoreBigram]] against a model FROZEN
    * from the delta-log state at gate start (retrain = restart the
    * gate after folding/compacting more reference data — scoring
    * against a moving model would make admission order-dependent),
    * and only documents clearing `minAvgLp` land in the per-batch
    * sink. Unscorable documents (under two tokens, or an unknown
    * model) REJECT — a gate that cannot certify quality must not wave
    * content through.
    *
    * Replay safety is [[exactlyOnceSink]]'s: the gate is STATELESS per
    * batch given the frozen model, and a replayed batch overwrites its
    * own `batch_id=` directory with identical content. The model is
    * resolved ONCE per gate run ([[graft.ext.TextAnalysis.resolveLm]]:
    * one bounded collect, then a broadcast), so a micro-batch scores in
    * its own scan against the broadcast table.
    */
  def lmGatePipeline(spark: SparkSession, schema: StructType,
                     srcDir: String, lmStateDir: String, outDir: String,
                     checkpointDir: String, minAvgLp: Double): StreamingQuery = {
    import graft.ext.TextAnalysis
    val lm = TextAnalysis.resolveLm(
      TextAnalysis.lmModelFromCounts(lmReadCounts(spark, lmStateDir)))
    oneFilePerBatch(spark, schema, srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // sparse scorer (round 18): the gate's >= cut rejects NULL
        // avg_lp anyway, so only pair-bearing docs need a score row.
        val admitted = batch.toDF().join(
          TextAnalysis.lmScoreBigramSparse(batch.toDF(), lm)
            .filter(col("avg_lp") >= lit(minAvgLp))
            .select(col("doc_id"), col("n_pairs"), col("avg_lp")),
          Seq("doc_id"))
        admitted.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** STREAMING unified admission — the calibrated front door
    * ([[graft.ext.Admission.report]]) run live: every micro-batch is
    * evaluated against artifacts FROZEN at gate start (Bloom gate
    * column, persisted bench-signature state, LM and NB models — the
    * models resolved to broadcast tables, the Bloom bitmap collected
    * into the gate column by ONE application of `shingleGate`, every
    * state layout and the embeddings' length validated once here, the
    * [[lmGatePipeline]] discipline, so a micro-batch runs no layout,
    * stamp, dimension or Bloom probe — only its own work: the band
    * table, its state-cell collect, and the report write), and the
    * batch's full per-document decision table
    * lands in a per-batch sink directory. Because every verdict is a
    * function of the document and the frozen artifacts alone, the
    * union of the per-batch tables is BIT-IDENTICAL to one batch
    * [[graft.ext.Admission.report]] over the concatenated feed — batch
    * and streaming admission are one definition, which is the whole
    * point: the audit table a release ships does not depend on how the
    * corpus arrived. Replay safety is [[exactlyOnceSink]]'s: stateless
    * per batch given the frozen artifacts, and a replayed batch
    * overwrites its own `batch_id=` directory with identical content.
    */
  def admissionPipeline(spark: SparkSession, schema: StructType,
                        srcDir: String, outDir: String,
                        checkpointDir: String,
                        benchSources: Seq[String],
                        shingleGate: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                        contamThreshold: Double,
                        semantic: Option[graft.ext.Admission.SemanticCfg],
                        lmModel: DataFrame, minAvgLp: Double,
                        nbModel: DataFrame, allowedLabels: Seq[String],
                        nbBuckets: Int = 1024,
                        nearDup: Option[graft.ext.Admission.NearDupCfg] = None): StreamingQuery = {
    val lm = graft.ext.TextAnalysis.resolveLm(lmModel)
    val nb = graft.ext.Classifier.resolveNb(nbModel, nbBuckets)
    admissionPipelineWith(spark, schema, srcDir, outDir, checkpointDir,
      benchSources, shingleGate, contamThreshold, semantic, minAvgLp,
      allowedLabels, nearDup,
      modelsOf = _ => (lm, nb, None))
  }

  /** [[admissionPipeline]] with a MODEL ROLLOUT mid-stream: batches
    * with id < `swapAtBatch` score against (lmV0, nbV0), batches from
    * `swapAtBatch` on against (lmV1, nbV1), and every per-batch report
    * row is tagged `model_version` (v0 | v1). The version is a PURE
    * function of the batch id, so a replayed batch recomputes its
    * first-delivery answer bit-for-bit — the foreachBatch overwrite
    * idempotency discipline extends to model versioning. Every
    * non-model gate artifact is shared across the swap, so only the
    * model gates (and the decision) can differ between versions:
    * admission stays ONE definition per (document, model version).
    */
  def admissionModelSwapPipeline(spark: SparkSession, schema: StructType,
                                 srcDir: String, outDir: String,
                                 checkpointDir: String,
                                 benchSources: Seq[String],
                                 shingleGate: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                                 contamThreshold: Double,
                                 semantic: Option[graft.ext.Admission.SemanticCfg],
                                 lmV0: DataFrame, nbV0: DataFrame,
                                 lmV1: DataFrame, nbV1: DataFrame,
                                 swapAtBatch: Long,
                                 minAvgLp: Double, allowedLabels: Seq[String],
                                 nbBuckets: Int = 1024,
                                 nearDup: Option[graft.ext.Admission.NearDupCfg] = None): StreamingQuery = {
    require(swapAtBatch > 0,
      "admissionModelSwapPipeline: swapAtBatch must be > 0 — a rollout " +
        "at batch 0 is a plain run under v1; use admissionPipeline")
    import graft.ext.{Classifier, TextAnalysis}
    val lm0 = TextAnalysis.resolveLm(lmV0)
    val nb0 = Classifier.resolveNb(nbV0, nbBuckets)
    val lm1 = TextAnalysis.resolveLm(lmV1)
    val nb1 = Classifier.resolveNb(nbV1, nbBuckets)
    admissionPipelineWith(spark, schema, srcDir, outDir, checkpointDir,
      benchSources, shingleGate, contamThreshold, semantic, minAvgLp,
      allowedLabels, nearDup,
      modelsOf = id =>
        if (id < swapAtBatch) (lm0, nb0, Some("v0"))
        else (lm1, nb1, Some("v1")))
  }

  /** Shared foreachBatch body: per-batch models (and an optional
    * version tag emitted as `model_version`) chosen by batch id —
    * constant for the plain pipeline, a rollout step function for the
    * swap form. Caller resolves the models.
    */
  private def admissionPipelineWith(spark: SparkSession, schema: StructType,
                                    srcDir: String, outDir: String,
                                    checkpointDir: String,
                                    benchSources: Seq[String],
                                    shingleGate: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                                    contamThreshold: Double,
                                    semantic: Option[graft.ext.Admission.SemanticCfg],
                                    minAvgLp: Double,
                                    allowedLabels: Seq[String],
                                    nearDup: Option[graft.ext.Admission.NearDupCfg],
                                    modelsOf: Long => (graft.ext.LmScorer, graft.ext.NbScorer, Option[String])): StreamingQuery = {
    val semFrozen = semantic.map(g =>
      g.copy(benchState = g.benchState.localCheckpoint(eager = true)))
    // the near-dup band state is NOT re-frozen here: at scale it is
    // O(corpus docs) rows — the caller passes a persisted
    // writeBandState read (stable by file immutability, resilient to
    // executor loss) and a block-memory copy would be the exact
    // materialization risk the staged paths exist to avoid. Verdicts
    // are deterministic either way (md5 banding recomputes
    // identically); passing a derived in-memory frame merely prices a
    // per-batch recompute unless the caller froze it themselves.
    // With `stateDir` set on the cfg the per-batch probe goes further:
    // the batch's band table is built ONCE (cached — the cell
    // collect is its materializing action, and the report then reads
    // the cached blocks) and the state is re-read pruned to the cells
    // that batch can collide with ([[graft.ext.Dedup.readBandState]])
    // — O(batch-cells) file reads per micro-batch instead of a full
    // state scan, which is the whole point of writeBandState's
    // band=/bpfx= layout. Pruning is exact (a collision outside the
    // probe's cells is impossible), so decisions are bit-identical to
    // the full-state join. The state HANDLE (directory listing +
    // one-row layout probe) is resolved ONCE here, not per batch: the
    // state is frozen for the pipeline's lifetime, and the r15 form
    // that re-opened it per micro-batch paid ~3 extra driver jobs ×
    // batches × passes — the restart bench's 2.6× regression. The
    // layouts of every frozen state (bench signatures, the band state
    // the batches actually probe — checked by the open's one stamp
    // read) are validated here once for the same reason; the per-batch
    // probe is built with the gate's own layout, and the cfg's frames
    // stand in only when there is no state directory.
    val ndFrozen = nearDup
    val ndState = ndFrozen.flatMap(g => g.stateDir.map(
      graft.ext.Dedup.openBandState(spark, _, g.w, g.numHashes, g.bandWidth)))
    graft.ext.Admission.requireLayouts(semFrozen,
      ndFrozen.filter(_ => ndState.isEmpty))
    // the Bloom gate is applied once too: its bitmap collect (and, for a
    // lazy filter frame, the filter build) is frozen state, not batch work
    val shHits = graft.ext.Admission.shingleHits(shingleGate)
    oneFilePerBatch(spark, schema, srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.Stage.scoped { st =>
          val ndBatch = (ndFrozen, ndState) match {
            case (Some(g), Some(h)) =>
              val p = st.cache(graft.ext.Dedup.bandTable(batch.toDF(), g.w,
                g.numHashes, g.bandWidth))
              Some(g.copy(seenBands = graft.ext.Dedup.readBandState(h, p),
                bands = Some(p)))
            case (other, _) => other
          }
          val (lmB, nbB, verB) = modelsOf(batchId)
          val rep = graft.ext.Admission.reportResolved(batch.toDF(),
            benchSources, shHits, contamThreshold, semFrozen, lmB,
            minAvgLp, nbB, allowedLabels, ndBatch)
          verB.fold(rep)(v => rep.withColumn("model_version", lit(v)))
            .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Aggregate a [[lmMaintainPipeline]] delta-log into the flat
    * `(kind, w1, w2, c)` counts frame
    * [[graft.ext.TextAnalysis.lmModelFromCounts]] consumes: one
    * partial+final sum over the `batch_id=` partitions.
    */
  def lmReadCounts(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(stateDir)
      .groupBy(col("kind"), col("w1"), col("w2"))
      .agg(sum(col("c")).as("c"))

  /** Hidden stamp inside a compacted `batch_id=` partition recording
    * the SMALLEST original batch id folded into it (the largest is the
    * partition's own id). Dot-prefixed → invisible to parquet
    * discovery; travels atomically with the partition's rename.
    */
  private val FoldedRangeFile = ".folded_range"

  /** (smallest folded id, partition id) for a delta-log partition —
    * `(id, id)` for a never-compacted partition.
    */
  private def foldedRange(fs: org.apache.hadoop.fs.FileSystem,
                          part: org.apache.hadoop.fs.Path): (Long, Long) = {
    val id = part.getName.stripPrefix("batch_id=").toLong
    val rf = new org.apache.hadoop.fs.Path(part, FoldedRangeFile)
    if (!fs.exists(rf)) (id, id)
    else {
      val in = fs.open(rf)
      val mn = try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim.toLong finally in.close()
      (mn, id)
    }
  }

  private def writeSmallFile(fs: org.apache.hadoop.fs.FileSystem,
                             path: org.apache.hadoop.fs.Path,
                             content: String): Unit = {
    val out = fs.create(path, false)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** Fold a QUIESCED [[lmMaintainPipeline]] delta-log down to a single
    * partition so read cost stays bounded as batches accumulate. The
    * aggregate is staged OUTSIDE the state root, the old partitions are
    * swapped out, and the compacted counts land under the HIGHEST
    * folded batch id — so the replay guard's semantics survive: every
    * id ≤ that maximum is committed history (AvailableNow replays only
    * the last uncommitted batch, which by the quiesce precondition does
    * not exist), and the next live fold appends past it. The lineage
    * marker rides through untouched.
    *
    * Compaction COARSENS expiry granularity: the folded partition's
    * counts can no longer be dropped batch-by-batch. So the partition
    * is stamped with the RANGE of original batch ids it folded (a
    * hidden `.folded_range` file riding inside the partition dir —
    * atomic with the rename that publishes it), and
    * [[lmExpireBatchesBelow]] REFUSES any expiry whose boundary falls
    * strictly inside a folded range rather than silently retaining
    * pre-compaction history. Run retention-critical expiry BEFORE
    * compacting, or compact only batches old enough to age out
    * together.
    */
  def lmCompactState(spark: SparkSession, stateDir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(stateDir, "_lineage")),
      s"lmCompactState: $stateDir is not a maintained LM delta-log")
    def parts() = fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("batch_id="))
    // No step of delete-many-then-rename is atomic, so the crash
    // discipline is RESUME-FROM-STAGING: once a COMPLETE aggregate
    // (parquet _SUCCESS) is staged outside the root, the remaining log
    // partitions are dead weight — a re-run after a crash mid-delete
    // must NOT re-aggregate the now-partial log (that would lose the
    // deleted partitions' counts); it finishes the delete+move from
    // the staging instead. The staging name carries the max folded
    // batch id so the resume keeps the replay-guard semantics without
    // consulting the (possibly partial) log.
    val prior = fs.globStatus(
      new org.apache.hadoop.fs.Path(stateDir + ".compacting-*"))
      .map(_.getPath)
    val resume = prior.find(p =>
      fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
    val (stagedPath, maxId) = resume match {
      case Some(p) =>
        // a complete staged aggregate from a crashed prior attempt:
        // finish its transaction. (Incomplete stagings are stray
        // partial writes — superseded and removed.) A complete staging
        // without a range stamp (crash between the parquet write and
        // the stamp, or a pre-stamp writer) gets the CONSERVATIVE
        // stamp min=0: batch ids start at 0, so [0, maxId] always
        // contains the true folded range, and expiry errs toward
        // refusal, never toward silent inexactness.
        prior.filterNot(_ == p).foreach(fs.delete(_, true))
        if (!fs.exists(new org.apache.hadoop.fs.Path(p, FoldedRangeFile)))
          writeSmallFile(fs,
            new org.apache.hadoop.fs.Path(p, FoldedRangeFile), "0")
        (p, p.getName.stripPrefix(root.getName + ".compacting-").toLong)
      case None =>
        prior.foreach(fs.delete(_, true))
        val live = parts()
        require(live.nonEmpty,
          s"lmCompactState: no folded batches in $stateDir")
        if (live.length == 1) return // already compact
        val id = live.map(_.getName.stripPrefix("batch_id=").toLong).max
        // the new folded range spans everything being folded — including
        // the range a PREVIOUSLY compacted partition already folded
        val minFolded = live.map(p => foldedRange(fs, p)._1).min
        val staged = s"$stateDir.compacting-$id"
        lmReadCounts(spark, stateDir).write.mode("overwrite").parquet(staged)
        writeSmallFile(fs,
          new org.apache.hadoop.fs.Path(staged, FoldedRangeFile),
          minFolded.toString)
        (new org.apache.hadoop.fs.Path(staged), id)
    }
    // delete ONLY ids ≤ the staged aggregate's max: the stream may have
    // appended newer partitions since the aggregate was staged (a crash
    // between staging and the deletes, then a resumed source) — those
    // folds are NOT in the aggregate, and deleting them would silently
    // lose committed counts the checkpoint will never redeliver.
    parts().filter(_.getName.stripPrefix("batch_id=").toLong <= maxId)
      .foreach(p => fs.delete(p, true))
    require(fs.rename(stagedPath,
      new org.apache.hadoop.fs.Path(stateDir, s"batch_id=$maxId")),
      s"lmCompactState: rename of $stagedPath failed")
  }

  /** SLIDING-WINDOW retention for a [[lmMaintainPipeline]] delta-log:
    * drop every `batch_id=` partition below `minKeepId`, so the model
    * tracks the RECENT feed only (the recency-weighted LM a drifting
    * corpus needs — old releases age out of the model without ever
    * rescanning them). The delta-log layout makes this exact and
    * O(expired partitions): a batch's counts live ONLY in its own
    * partition, so deleting the partition subtracts the batch
    * bit-identically to training on the retained batches alone.
    *
    * Crash discipline: each expired partition is RENAMED to a
    * dot-prefixed tombstone (atomic; hidden from parquet discovery, so
    * readers never see a half-deleted partition) and then deleted;
    * the pass is idempotent — a crashed run leaves only tombstones
    * and untouched partitions, and the re-run sweeps both. Refuses to
    * expire the whole log: an empty state cannot carry V and every
    * score would silently go NULL — retire the model explicitly
    * instead. Run quiesced (between stream runs), like compaction.
    *
    * Interaction with [[lmCompactState]]: a compacted partition holds
    * EVERY folded batch's counts under one id, so "drop batches below
    * minKeepId" is only exact when the boundary does not split a
    * folded range. The compaction stamp makes that checkable — an
    * expiry whose `minKeepId` falls strictly inside a partition's
    * folded range REFUSES (silently proceeding would retain every
    * pre-compaction batch the caller asked to drop). A boundary at or
    * below the range's start keeps the partition whole; a boundary
    * above its id drops it whole — both exact.
    */
  def lmExpireBatchesBelow(spark: SparkSession, stateDir: String,
                           minKeepId: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(stateDir, "_lineage")),
      s"lmExpireBatchesBelow: $stateDir is not a maintained LM delta-log")
    // finish any crashed prior expiry first: tombstones are committed
    // deletions (their rename already published the removal)
    fs.globStatus(new org.apache.hadoop.fs.Path(stateDir, ".expiring-*"))
      .foreach(t => fs.delete(t.getPath, true))
    val parts = fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("batch_id="))
    parts.foreach { p =>
      val (mn, id) = foldedRange(fs, p)
      require(minKeepId <= mn || minKeepId > id,
        s"lmExpireBatchesBelow: minKeepId=$minKeepId falls inside " +
          s"batch_id=$id's compacted range [$mn, $id] — compaction " +
          "folded those batches' counts together, so this expiry can " +
          s"only be exact at a boundary <= $mn (keep the whole " +
          s"partition) or > $id (drop it whole); rebuild the state " +
          "from the retained corpus to expire at finer granularity")
    }
    val (expire, keep) = parts.partition(
      _.getName.stripPrefix("batch_id=").toLong < minKeepId)
    require(keep.nonEmpty,
      s"lmExpireBatchesBelow: expiring every batch below $minKeepId " +
        s"would empty $stateDir — an empty log cannot carry a " +
        "vocabulary; retire the model explicitly instead")
    expire.foreach { p =>
      val tomb = new org.apache.hadoop.fs.Path(root, ".expiring-" + p.getName)
      require(fs.rename(p, tomb),
        s"lmExpireBatchesBelow: rename of $p failed")
      fs.delete(tomb, true)
    }
  }

  /** STREAMING NEAR-DUP admission — the near-duplicate leg of the live
    * corpus front door ([[corpusCleanPipeline]] carries only ID-level
    * delivery dedup; this admits on CONTENT): each micro-batch runs
    * [[graft.ext.Dedup.incrementalNearDup]] against the PERSISTED band
    * state (reject on any LSH bucket collision with the accumulated
    * corpus, or with a smaller-id sibling in the same batch), appends
    * the admitted documents' bands to the state, and lands the admitted
    * documents in a per-batch sink directory. State is the band table —
    * O(docs × nBands) small rows, never shingles or text.
    *
    * Replay safety under the at-least-once `foreachBatch` contract, leg
    * by leg (the sketch/index-maintain idempotency argument):
    *  - ADMISSION reads the state MINUS the batch's own doc ids. First
    *    delivery: no batch doc is in the committed state, so the
    *    subtraction is the identity. Replay after a crash between state
    *    append and checkpoint commit: the subtraction removes exactly
    *    the rows the crashed attempt appended, so admission recomputes
    *    the ORIGINAL answer — without it, every doc would collide with
    *    its own persisted bands and the replayed batch would emit empty.
    *  - STATE APPEND is insert-if-absent at (doc_id, band) granularity
    *    (anti-join against the live state, one bkey per band per doc):
    *    a replayed append is a no-op, and a crash that committed only
    *    part of a doc's bands COMPLETES on replay instead of
    *    duplicating — the VectorIndex.append discipline.
    *  - SINK write overwrites its own `batch_id=<id>` directory
    *    ([[exactlyOnceSink]]'s pattern): a replay rewrites identical
    *    content, never appends a second copy.
    * AvailableNow processes batches sequentially, so "state minus own
    * ids" is exactly the committed prefix's state — the property the
    * subtraction relies on.
    */
  def nearDedupPipeline(spark: SparkSession, schema: StructType,
                        srcDir: String, stateDir: String, outDir: String,
                        checkpointDir: String, w: Int = 5,
                        numHashes: Int = 8, bandWidth: Int = 2): StreamingQuery =
    oneFilePerBatch(spark, schema, srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        val ids = batch.select(col("doc_id"))
        // one-call admission transaction (Dedup.admitAndMaintainState):
        // bands computed once, state probed with one driver row, the
        // read PRUNED to the cells the batch probes (O(batch-cells)
        // state files per micro-batch, not the whole accumulated corpus
        // state), insert-if-absent band append BEFORE the sink write —
        // the replay-safe order argued in the scaladoc above.
        val admitted = graft.ext.Dedup.admitAndMaintainState(
          s, batch.toDF(), stateDir, w, numHashes, bandWidth,
          excludeIds = Some(ids))
        admitted.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** LIVE maintenance of the persisted ANN index
    * ([[graft.ext.VectorIndex]]): each micro-batch of new vectors folds
    * into the on-disk index — the FIRST non-empty batch BUILDS it
    * (trains and freezes the coarse quantizer + PQ codebooks), every
    * later batch APPENDs against those frozen artifacts, exactly the
    * grow-only discipline a production vector store runs between
    * periodic re-trains.
    *
    * Correctness under the at-least-once `foreachBatch` contract comes
    * from the index lifecycle's own idempotency, the same argument as
    * [[sketchMaintainPipeline]]'s merge law: build is an atomic
    * overwrite (a replayed build rewrites the identical tables — the
    * quantizer is a pure function of the batch), and append is
    * per-table INSERT-IF-ABSENT with a crash-safe write order
    * (`VectorIndex.append` — a replayed or half-crashed append restores
    * the exact m-rows-per-vector invariant instead of duplicating
    * candidates). State is the four index tables; no vector is ever
    * lost, doubled, or re-encoded.
    */
  def indexMaintainPipeline(spark: SparkSession, schema: StructType,
                            srcDir: String, indexDir: String,
                            checkpointDir: String, numCells: Int = 16,
                            m: Int = 4, numCodes: Int = 16, dim: Int = 64): StreamingQuery =
    oneFilePerBatch(spark, schema, srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val vecs = batch.select(col("vec_id"), col("embedding"))
        if (!vecs.isEmpty) {
          if (java.nio.file.Files.exists(
              java.nio.file.Paths.get(s"$indexDir/centroids")))
            graft.ext.VectorIndex.append(batch.sparkSession, indexDir, vecs)
          else
            graft.ext.VectorIndex.build(vecs, indexDir, numCells, m,
              numCodes, dim)
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** [[corpusCleanStream]] as a LIVE pipeline: file stream over a staged
    * document directory → the three admission stages → parquet sink,
    * AvailableNow.
    */
  def corpusCleanPipeline(spark: SparkSession, schema: StructType,
                          srcDir: String, outDir: String, checkpointDir: String,
                          shingleGate: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                          benchSources: Seq[String],
                          threshold: Double,
                          semantic: Option[SemanticGate] = None): StreamingQuery =
    corpusCleanStream(spark.readStream.schema(schema).parquet(srcDir),
        shingleGate, benchSources, threshold, semantic)
      .writeStream
      .format("parquet")
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start(outDir)

  /** Exactly-once `foreachBatch` sink via IDEMPOTENT per-batch writes —
    * the standard hardening of Structured Streaming's at-least-once
    * `foreachBatch` contract: a micro-batch can be REPLAYED after a
    * failure between sink write and checkpoint commit, so each batch
    * OVERWRITES its own `batch_id=<id>` directory instead of appending
    * to a shared one. A replay rewrites the identical directory (no
    * duplicate rows, no commit-marker protocol whose marker write can
    * itself be lost mid-crash), and the batch id doubles as provenance:
    * readers see it as a partition column over `outDir/data`.
    *
    * Scope: `foreachBatch` idempotency is for NON-transactional sinks
    * (jdbc upserts keyed on batch id, multi-table fan-out). For plain
    * parquet output, Spark's built-in file sink already achieves
    * exactly-once through its `_spark_metadata` log
    * ([[incrementalPipeline]] uses it); this operator demonstrates the
    * pattern on files because the container has no external store.
    */
  def exactlyOnceSink(stream: DataFrame, outDir: String,
                      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite")
          .parquet(s"$outDir/data/batch_id=$batchId")
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Stream-stream interval join: each left row matches right rows for
    * the same key whose event time falls in `[leftTs − horizon, leftTs]`
    * — "recent context" attachment (e.g. purchases in the hour before a
    * click). Both sides are watermarked with the horizon, which BOUNDS
    * the join state: a buffered right row can never match once it falls
    * `horizon` behind the watermark, so Spark evicts it. The identical
    * code runs in batch (withWatermark is a no-op there) — the P2
    * batch/stream-agnostic invariant, oracle-checked via
    * `stream_interval_join`.
    *
    * Columns keep their side via the `l`/`r` aliases; callers select
    * `col("l.x")` / `col("r.y")`.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String,
                   horizon: String = "1 hour",
                   joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, horizon)
    val r = right.withWatermark(rightTs, horizon)
    l.as("l").join(r.as("r"),
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") - expr(s"interval $horizon") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs"),
      joinType)
  }

  /** [[intervalJoin]] as a LIVE pipeline over ONE event feed: the stream
    * is split by event_type into a click side and a purchase side (a
    * stream self-join — each side buffers independently in the state
    * store, bounded by the watermark horizon), inner-joined on
    * user within `[click − horizon, click]`, one row per matched pair
    * to a parquet sink. Inner join emits matches as both sides arrive —
    * no watermark-closure wait — and a buffered row outlives its
    * micro-batch (and its RUN: the buffer is checkpointed state, which
    * is what `stream_join_restart` proves) until the watermark says no
    * future partner can match.
    */
  def intervalJoinPipeline(spark: SparkSession, schema: StructType,
                           srcDir: String, outDir: String,
                           checkpointDir: String,
                           prepare: DataFrame => DataFrame = identity): StreamingQuery = {
    val stream = prepare(spark.readStream.schema(schema).parquet(srcDir))
    val clicks = stream.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = stream.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"),
        col("ts").as("pts"), col("value"))
    intervalJoin(clicks, purchases, "user_id", "ts", "pts",
        horizon = "1 hour", joinType = "inner")
      .select(col("l.event_id").as("event_id"), col("l.user_id").as("user_id"),
        col("r.pid").as("pid"),
        round(col("r.value") * 100).cast("long").as("value_cents"))
      .writeStream
      .format("parquet")
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start(outDir)
  }

  case class SessionEvent(user_id: Long, ts_ms: Long)
  case class UserSession(user_id: Long, start_ms: Long, end_ms: Long, n_events: Int)
  private case class SessionState(start_ms: Long, end_ms: Long, n: Int)

  /** Stateful sessionization: events for a user belong to one session
    * while gaps stay under `gapMs`. Emits a session when a LATER event
    * for the same user closes it; the trailing open session stays in
    * state until the next batch for that user (by design for the
    * AvailableNow scheduled-batch pattern — each run closes what the
    * previous runs left open). State is one small record per active
    * user — the bounded-state shape that survives unbounded streams.
    * A deployment that must flush idle users adds an event-time timeout;
    * batch backfill with identical semantics is [[sessionizeBatch]].
    */
  def sessionize(events: Dataset[SessionEvent], gapMs: Long): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) => {
          val sorted = it.toSeq.sortBy(_.ts_ms)
          var closed = List.empty[UserSession]
          var cur = state.getOption
          sorted.foreach { e =>
            cur match {
              case Some(s) if e.ts_ms - s.end_ms <= gapMs =>
                cur = Some(SessionState(s.start_ms, e.ts_ms, s.n + 1))
              case Some(s) =>
                closed ::= UserSession(userId, s.start_ms, s.end_ms, s.n)
                cur = Some(SessionState(e.ts_ms, e.ts_ms, 1))
              case None =>
                cur = Some(SessionState(e.ts_ms, e.ts_ms, 1))
            }
          }
          cur.foreach(state.update)
          closed.reverseIterator
        })
  }

  /** Session windows via Spark's built-in `session_window` — the
    * declarative form of [[sessionize]]/[[sessionizeBatch]]: same
    * gap-based semantics, and in streaming the watermark both bounds
    * state and finalizes idle sessions (the timeout flush the
    * flatMapGroupsWithState form leaves to the next batch).
    *
    * Semantics alignment with the sibling forms (which define "same
    * session" as `diff ≤ gapMs` at MILLISECOND precision): event times
    * are truncated to ms (raw micro-precision timestamps would split
    * where the ms-based forms merge), and the window gap is `gapMs + 1`
    * because `session_window` merges on `diff < gap` ([start, end)
    * windows) while the others merge on `diff ≤ gapMs` — with whole-ms
    * times, `< gapMs+1 ⟺ ≤ gapMs`, so all three forms agree exactly.
    * The window end is `last event + gap`, so the session's true end is
    * `window.end − (gapMs + 1)`.
    */
  def sessionWindows(events: DataFrame, gapMs: Long): DataFrame =
    events
      .withColumn("ts", timestamp_millis(unix_millis(col("ts"))))
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"),
        session_window(col("ts"), s"${gapMs + 1} milliseconds").as("sw"))
      .agg(count(lit(1)).cast("int").as("n_events"))
      .select(col("user_id"),
        unix_millis(col("sw.start")).as("start_ms"),
        (unix_millis(col("sw.end")) - (gapMs + 1)).as("end_ms"),
        col("n_events"))

  /** [[sessionWindows]] as a LIVE pipeline: file stream → watermarked
    * session windows → parquet sink, AvailableNow — the scheduled-batch
    * form of streaming sessionization. Session state (one open window
    * per active user) lives in the checkpoint between runs, so a
    * session whose events span two runs is MERGED by the restored
    * state — the crash-recovery property `stream_session_restart`
    * proves: a fresh-state restart would emit two half-sessions.
    * Append mode emits a session only once the watermark passes its
    * window end (last event + gap), finalize-once.
    */
  def sessionPipeline(spark: SparkSession, schema: StructType,
                      srcDir: String, outDir: String, checkpointDir: String,
                      gapMs: Long,
                      prepare: DataFrame => DataFrame = identity): StreamingQuery =
    sessionWindows(
        prepare(spark.readStream.schema(schema).parquet(srcDir))
          .select(col("user_id"), col("ts")), gapMs)
      .writeStream
      .format("parquet")
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start(outDir)

  /** Batch sessionization with identical semantics (used to cross-check
    * the stateful path in tests, and as the backfill job at scale —
    * window lag over (user, ts) then a running session id).
    */
  def sessionizeBatch(events: DataFrame, gapMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
    events
      .withColumn("prev_ts", lag(col("ts_ms"), 1).over(w))
      .withColumn("new_session",
        (col("prev_ts").isNull || (col("ts_ms") - col("prev_ts") > gapMs)).cast("int"))
      .withColumn("session_seq",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts_ms")).as("start_ms"), max(col("ts_ms")).as("end_ms"),
        count(lit(1)).cast("int").as("n_events"))
      .select(col("user_id"), col("start_ms"), col("end_ms"), col("n_events"))
  }
}
