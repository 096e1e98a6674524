package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.bronze.Bronze
import graft.enrich.Enrich
import graft.ext.{Admission, Classifier, Corpus, Dedup, Sketches, TextAnalysis}
import graft.operators.ScaleOps
import graft.plans.Pipeline
import graft.streaming.Streams

/** One timed operation: its kind, latency and the input rows it completed. */
final case class Op(kind: String, latency: Double, rows: Long)

/** A workload drives the program only through its public functions.
  *
  * `prepare` builds fresh state and resolves the inputs (set-up);
  * `warmUp` runs the untimed steps that precede measurement; `next` runs
  * one timed step and returns the ops it completed; `afterOp` keeps what
  * the output check needs (untimed).
  */
trait Workload {
  def prepare(spark: SparkSession): Unit
  def warmUp(spark: SparkSession): Unit
  def hasNext: Boolean
  def next(spark: SparkSession): Seq[Op]
  def afterOp(spark: SparkSession, step: Int): Unit = ()
  /** Directories whose on-disk bytes count as what the run leaves. */
  def storedDirs: Seq[String]
  def record: Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String, inputs: String, work: String, trace: Trace): Workload = name match {
    case "medallion_rebuild" => new MedallionRebuild(inputs, work, trace)
    case "incremental_batches" => new IncrementalBatches(inputs, work, trace)
    case "corpus_admission" => new CorpusAdmission(inputs, work, trace)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def delete(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
  }

  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }
}

/** Full bronze→silver→gold rebuild with stage-then-promote. */
final class MedallionRebuild(inputs: String, work: String, trace: Trace) extends Workload {
  private val src = s"$inputs/src"
  private val warehouse = s"$work/warehouse"
  private val marts = Seq("dm_daily_trip_summary", "dm_popular_routes",
    "dm_station_popularity", "dm_user_behavior")
  private var lineitems = 0L

  private def rebuild(spark: SparkSession): Unit =
    trace.span("plans", "Pipeline.runFullEtl") { Pipeline.runFullEtl(spark, src, warehouse) }

  def prepare(spark: SparkSession): Unit = {
    Workload.delete(warehouse)
    Files.createDirectories(Paths.get(warehouse))
    lineitems = Tables.lineitem(spark, src).count()
  }
  // the first rebuild fills an empty warehouse; timed ones replace it
  def warmUp(spark: SparkSession): Unit = rebuild(spark)
  def hasNext: Boolean = true
  def next(spark: SparkSession): Seq[Op] = {
    val (_, dt) = Workload.timed(rebuild(spark))
    Seq(Op("rebuild", dt, lineitems))
  }
  // keep each rebuild's promoted marts for the oracle check
  override def afterOp(spark: SparkSession, step: Int): Unit =
    marts.foreach { m =>
      val to = Paths.get(s"$work/checks/op-$step/$m")
      Files.createDirectories(to)
      Files.list(Paths.get(warehouse, m)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(f => Files.copy(f, to.resolve(f.getFileName)))
    }
  def storedDirs: Seq[String] = Seq(warehouse)
  override def record: Map[String, Any] = Map("oracle" -> Seq(
    "gold_daily_summary", "gold_popular_routes", "gold_station_popularity",
    "gold_user_behavior").map(k => k -> graft.SparkEntry.oracleSql(k)).toMap)
}

/** Arrival batches: land, select new rows, upsert users, refresh the
  * affected mart partitions, advance the stream, read the mart back.
  */
final class IncrementalBatches(inputs: String, work: String, trace: Trace) extends Workload {
  private val state = s"$work/incremental"
  private val bronze = s"$state/bronze"
  private val fact = s"$state/fact"
  private val mart = s"$state/mart"
  private val users = s"$state/users"
  private val streamOut = s"$state/stream_out"
  private val streamCkpt = s"$state/stream_checkpoint"
  private val batches = Files.list(Paths.get(inputs, "batches")).iterator().asScala
    .map(_.getFileName.toString).toSeq.sorted
  private var cursor = 0
  private var hwm = "1970-01-01 00:00:00"
  private val readBack = mutable.ArrayBuffer[Map[String, Any]]()
  private var lastRead: Map[String, Any] = Map.empty

  private def batchDir = s"$inputs/batches/${batches(cursor)}"

  private def runBatch(spark: SparkSession): Unit = {
    val dir = batchDir
    val events = trace.span("tables", "Tables.events") { Tables.events(spark, dir) }
    trace.span("bronze", "Bronze.appendSink") { Bronze.appendSink(events, bronze) }
    val fresh = trace.span("bronze", "Bronze.newSince") {
      val f = Bronze.newSince(spark.read.parquet(bronze), "created_at", hwm)
      // advance the ingest high-water mark to this batch's stamp
      hwm = f.agg(date_format(max(col("created_at")), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .head().getString(0)
      f
    }
    val offered = trace.span("enrich", "Enrich.insertIfAbsent") {
      val offered = Enrich.geocodeUsers(spark, fresh.select(col("user_id")).distinct())
      Enrich.insertIfAbsent(offered, spark.read.parquet(users), Seq("user_id"))
        .write.mode("append").parquet(users)
      offered
    }
    // counted outside the span: an extra job the untraced run does not pay
    if (trace.active) trace.count("enrich.rows_offered", offered.count().toDouble)
    val delta = fresh.drop("created_at").withColumn("event_date", to_date(col("ts")))
    val affected = trace.span("operators", "ScaleOps.incrementalRefresh") {
      ScaleOps.incrementalRefresh(spark, fact, mart, delta, "event_date",
        IncrementalBatches.dailyMart)
    }
    if (trace.active) {
      trace.count("operators.partitions_rewritten", affected.size.toDouble)
      trace.count("operators.partitions_total", Files.list(Paths.get(mart)).iterator()
        .asScala.count(_.getFileName.toString.startsWith("event_date=")).toDouble)
      trace.count("operators.delta_bytes", Files.size(Paths.get(dir, "events.parquet")).toDouble)
    }
    val schema = spark.read.parquet(bronze).schema
    val q = trace.span("streaming", "Streams.incrementalPipeline") {
      val q = Streams.incrementalPipeline(spark, schema, bronze, streamOut, streamCkpt)
      q.awaitTermination()
      q
    }
    trace.streamProgress(q)
    // read the refreshed partitions back, as a dashboard would
    val days = affected.map(_.toString)
    val got = spark.read.parquet(mart).filter(col("event_date").cast("string").isin(days: _*))
      .collect()
    lastRead = Map("batch" -> cursor, "days" -> days.sorted,
      "rows" -> got.map(r => Seq(r.getAs[Any]("event_date").toString,
        r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
        r.getAs[Long]("value_cents"), r.getAs[Long]("n_users"))).toSeq)
    cursor += 1
  }

  def prepare(spark: SparkSession): Unit = {
    Workload.delete(state)
    cursor = 0
    hwm = "1970-01-01 00:00:00"
    readBack.clear()
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, geo_code BIGINT, geo_name STRING"))
      .write.parquet(users)
  }
  // the history batch: the days the mart holds before arrivals
  def warmUp(spark: SparkSession): Unit = runBatch(spark)
  def hasNext: Boolean = cursor < batches.size
  def next(spark: SparkSession): Seq[Op] = {
    val dir = batchDir
    val (_, dt) = Workload.timed(runBatch(spark))
    // rows landed, counted from the file footer outside the timed window
    Seq(Op("batch", dt, spark.read.parquet(dir).count()))
  }
  override def afterOp(spark: SparkSession, step: Int): Unit = readBack += lastRead
  def storedDirs: Seq[String] = Seq(bronze, fact, mart)
  override def record: Map[String, Any] = Map(
    "batches_processed" -> cursor, "read_back" -> readBack.toSeq,
    "state" -> state)
}

object IncrementalBatches {
  /** The daily events mart: per day and event type, events, value in
    * cents (exact integer partials) and distinct users.
    */
  def dailyMart(fact: DataFrame): DataFrame =
    fact.groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"),
        countDistinct(col("user_id")).as("n_users"))
}

/** The seven-gate admission front door: build the gate artifacts and one
  * batch report (step 1), then stream the same documents, one file per
  * micro-batch (step 2).
  */
final class CorpusAdmission(inputs: String, work: String, trace: Trace) extends Workload {
  private val src = s"$inputs/src"
  private val feed = s"$inputs/feed"
  private val benchSources = Seq("src0", "src1")
  private var cycle = 0
  private val cycles = mutable.ArrayBuffer[String]()
  private var docCount = 0L

  /** Step 1; returns the artifacts step 2 reuses. */
  private def buildAndReport(spark: SparkSession, dir: String) = {
    val docs = trace.span("tables", "Tables.documents") { Tables.documents(spark, src) }
    val emb = trace.span("tables", "Tables.embeddings") { Tables.embeddings(spark, src) }
    // every artifact is persisted and read back, as a deployed gate would
    def persist(name: String, df: DataFrame): DataFrame = {
      df.write.parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }
    val lm = trace.span("ext.text", "TextAnalysis.bigramLmTrain") {
      persist("lm", TextAnalysis.bigramLmTrain(docs))
    }
    val nb = trace.span("ext.classifier", "Classifier.nbTrain") {
      persist("nb", Classifier.nbTrain(docs))
    }
    val bloom = trace.span("ext.sketches", "Sketches.bloomBuild") {
      persist("bloom", Sketches.bloomBuild(
        Dedup.shingles(docs.filter(col("source").isin(benchSources: _*)), w = 5)
          .select(col("sh")), "sh", numBits = 1 << 18, numHashes = 4))
    }
    val sig = trace.span("ext.corpus", "Corpus.benchSignatureTable") {
      persist("bench_signatures", Corpus.benchSignatureTable(docs, emb, benchSources))
    }
    trace.span("ext.dedup", "Dedup.writeBandState") {
      Dedup.writeBandState(Dedup.bandTable(docs.filter(col("doc_id") % 7 === 3),
        w = 5, numHashes = 8, bandWidth = 2), s"$dir/bands", "overwrite")
    }
    val seen = spark.read.parquet(s"$dir/bands")
    val gate = (sh: Column) =>
      Sketches.bloomGateColumn(bloom, sh, numBits = 1 << 18, numHashes = 4)
    val semantic = Some(Admission.SemanticCfg(emb, sig, threshold = 0.42))
    trace.span("ext.admission", "Admission.report") {
      Admission.report(docs, benchSources, gate, contamThreshold = 0.3,
        semantic = semantic, lmModel = lm, minAvgLp = -3.40, nbModel = nb,
        allowedLabels = Seq("en"),
        nearDup = Some(Admission.NearDupCfg(seen, w = 5, numHashes = 8, bandWidth = 2)))
        .write.parquet(s"$dir/report")
    }
    (gate, semantic, lm, nb, seen)
  }

  private def runCycle(spark: SparkSession): Seq[Op] = {
    val dir = s"$work/admission/cycle-$cycle"
    cycle += 1
    val ((gate, semantic, lm, nb, seen), reportS) =
      Workload.timed(buildAndReport(spark, dir))
    val schema = spark.read.parquet(feed).schema
    val q = trace.span("streaming", "Streams.admissionPipeline") {
      val q = Streams.admissionPipeline(spark, schema, feed, s"$dir/stream_out",
        s"$dir/stream_checkpoint", benchSources, gate, 0.3, semantic, lm, -3.40,
        nb, Seq("en"), nearDup = Some(Admission.NearDupCfg(seen, w = 5,
          numHashes = 8, bandWidth = 2, stateDir = Some(s"$dir/bands"))))
      q.awaitTermination()
      q
    }
    trace.streamProgress(q)
    cycles += dir
    Op("report", reportS, docCount) +: q.recentProgress.toSeq
      .filter(_.numInputRows > 0)
      .map(p => Op("micro_batch", p.durationMs.get("triggerExecution").doubleValue / 1000,
        p.numInputRows))
  }

  def prepare(spark: SparkSession): Unit = {
    Workload.delete(s"$work/admission")
    cycle = 0
    cycles.clear()
    docCount = Tables.documents(spark, src).count()
  }
  // no warm-up step: one cycle is as long as a run can afford, so the
  // timed cycle also pays the first compilation of the gate plans
  def warmUp(spark: SparkSession): Unit = ()
  def hasNext: Boolean = true
  def next(spark: SparkSession): Seq[Op] = runCycle(spark)
  def storedDirs: Seq[String] = cycles.lastOption.toSeq
  override def record: Map[String, Any] = Map("cycles" -> cycles.toSeq)
}
