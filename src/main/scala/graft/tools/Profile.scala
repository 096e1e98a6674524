package graft.tools

import org.apache.spark.sql.functions._
import graft.{Session, SparkEntry, Tables}

/** Dev harness: stage-by-stage timing + formatted plans for one query.
  * Usage: runMain graft.tools.Profile <queryName>[,<queryName>...] [sfDir]
  *   [--explain|--scaleops|--joinrestart|--vindex|--admission|--corpusetl]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    def time[A](lbl: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[profile] $lbl%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); r
    }
    // warm the JVM/codegen with a trivial job first
    time("warmup")(spark.range(1000000).selectExpr("sum(id)").collect())
    if (args.contains("--scaleops")) {
      import graft.operators.ScaleOps
      val li = Tables.lineitem(spark, sfDir)
      val o = Tables.orders(spark, sfDir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
      val plain = li.join(o, Seq("l_orderkey")).count()
      val salted = ScaleOps.saltedJoin(li, o, Seq("l_orderkey"), salt = 7).count()
      println(s"[profile] plain=$plain salted=$salted equal=${plain == salted}")
      ScaleOps.writeBucketed(li.select("l_orderkey", "l_quantity"),
        "li_b", Seq("l_orderkey"), 8)
      ScaleOps.writeBucketed(Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_totalprice"), "o_b", Seq("o_orderkey"), 8)
      val j = ScaleOps.readTable(spark, "li_b")
        .join(ScaleOps.readTable(spark, "o_b"), col("l_orderkey") === col("o_orderkey"))
      println("[profile] bucketed rows=" + j.count())
      j.explain("formatted")
      spark.stop(); return
    }
    if (args.contains("--joinrestart")) {
      // per-pass pricing of stream_join_restart (VERDICT r10 item 4):
      // the restart harness decomposed into stage-data / pass-1 / stage /
      // pass-2 / read-back walls, with Structured Streaming's own
      // per-batch durationMs + state-store metrics attributing each
      // pass's time to source IO (getBatch/latestOffset), execution
      // (addBatch), planning, and checkpoint IO (walCommit +
      // commitOffsets + state commits).
      val tmp = java.nio.file.Files.createTempDirectory("graft-joinrestart-prof-").toString
      val src = s"$tmp/src"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      val feed = Tables.eventsRaw(spark, sfDir)
      val b = feed.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      val mid = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
      def pass(label: String, sch: org.apache.spark.sql.types.StructType): Unit = {
        val t0 = System.nanoTime()
        val q = graft.streaming.Streams.intervalJoinPipeline(
          spark, sch, src, s"$tmp/out", s"$tmp/ck", prepare = Tables.normalizeTs)
        q.awaitTermination()
        println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
        q.recentProgress.foreach { p =>
          val d = p.durationMs
          println(s"[profile]   batch=${p.batchId} rows=${p.numInputRows} " +
            s"addBatch=${d.get("addBatch")}ms getBatch=${d.get("getBatch")}ms " +
            s"latestOffset=${d.get("latestOffset")}ms planning=${d.get("queryPlanning")}ms " +
            s"walCommit=${d.get("walCommit")}ms commitOffsets=${d.get("commitOffsets")}ms " +
            s"trigger=${d.get("triggerExecution")}ms")
          p.stateOperators.foreach(so =>
            println(s"[profile]     state rows=${so.numRowsTotal} " +
              s"updated=${so.numRowsUpdated} updateMs=${so.allUpdatesTimeMs} " +
              s"removeMs=${so.allRemovalsTimeMs} commitMs=${so.commitTimeMs}"))
        }
      }
      time("stage pass1 data")(feed.filter(unix_micros(col("ts")) < mid)
        .coalesce(1).write.mode("append").parquet(src))
      val sch = spark.read.parquet(src).schema
      pass("pass1 (cold checkpoint)", sch)
      time("stage pass2 data")(feed.filter(unix_micros(col("ts")) >= mid)
        .coalesce(1).write.mode("append").parquet(src))
      pass("pass2 (restored state)", sch)
      time("readback sink")(println("[profile] sink rows=" +
        spark.read.parquet(s"$tmp/out").count()))
      graft.plans.Pipeline.deleteRecursively(java.nio.file.Paths.get(tmp))
      spark.stop(); return
    }
    if (args.contains("--vindex")) {
      // stage walls of the persisted-index lifecycle (round 18): where
      // do sim_index_compact / roundtrip / recenter actually spend —
      // the quantizer+encode build, the per-append encode+write, the
      // staged rewrite, or the search.
      import graft.ext.VectorIndex
      val emb = Tables.embeddings(spark, sfDir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-vprof-").toString
      val dir = s"$tmp/index"
      time("build (1/2 corpus)")(
        VectorIndex.build(emb.filter(col("vec_id") % 4 < 2), dir))
      time("append 1 (1/4 corpus)")(
        VectorIndex.append(spark, dir, emb.filter(col("vec_id") % 4 === 2)))
      time("append 2 (1/4 corpus)")(
        VectorIndex.append(spark, dir, emb.filter(col("vec_id") % 4 === 3)))
      time("file count probe")(
        spark.read.parquet(s"$dir/cells").select(input_file_name())
          .distinct().count())
      time("compact cells+codes")(VectorIndex.compact(spark, dir))
      time("searchFlat nprobe=16")(
        VectorIndex.searchFlat(spark, dir, emb.filter(col("vec_id") < 5),
          k = 10, nprobe = 16).count())
      time("recenter")(VectorIndex.recenter(spark, dir))
      time("retain 3/4")(
        VectorIndex.retain(spark, dir, emb.filter(col("vec_id") % 4 =!= 3)))
      graft.plans.Pipeline.deleteRecursively(java.nio.file.Paths.get(tmp))
      spark.stop(); return
    }
    if (args.contains("--admission")) {
      // stage walls of the standalone admission-report chain (round 17):
      // where do the ~10 s of corpus_admission_report actually go —
      // models, gate artifacts, band state, or the report DAG itself.
      import graft.ext.{Admission, Classifier, Corpus, Dedup, Sketches, TextAnalysis}
      val docs = Tables.documents(spark, sfDir)
      val emb = Tables.embeddings(spark, sfDir)
      val lm = time("lm train + freeze")(
        TextAnalysis.bigramLmTrain(docs).localCheckpoint(eager = true))
      val nb = time("nb train + freeze")(
        Classifier.nbTrain(docs).localCheckpoint(eager = true))
      val bench = docs.filter(col("source").isin("src0", "src1"))
      val bloom = Sketches.bloomBuild(
        Dedup.shingles(bench, w = 5).select(col("sh")), "sh",
        numBits = 1 << 18, numHashes = 4)
      val gate = time("bloom build + pack (collect)") {
        val g = (sh: org.apache.spark.sql.Column) =>
          Sketches.bloomGateColumn(bloom, sh, numBits = 1 << 18, numHashes = 4)
        g(lit("probe")) // forces the collect+pack inside the timer
        g
      }
      val sig = time("bench signature table")(
        Corpus.benchSignatureTable(docs, emb, Seq("src0", "src1"))
          .localCheckpoint(eager = true))
      val tmp = java.nio.file.Files.createTempDirectory("graft-admprof-").toString
      val bands = time("band state build+write+read") {
        Dedup.writeBandState(
          Dedup.bandTable(docs.filter(col("doc_id") % 7 === 3),
            w = 5, numHashes = 8, bandWidth = 2),
          s"$tmp/state", "overwrite")
        spark.read.parquet(s"$tmp/state")
      }
      val rep = Admission.report(docs, Seq("src0", "src1"), gate,
        contamThreshold = 0.3,
        semantic = Some(Admission.SemanticCfg(emb, sig, threshold = 0.42)),
        lmModel = lm, minAvgLp = -3.40,
        nbModel = nb, allowedLabels = Seq("en"),
        nearDup = Some(Admission.NearDupCfg(bands, w = 5,
          numHashes = 8, bandWidth = 2)))
      time("report execute (count)")(rep.count())
      time("report execute again")(rep.count())
      time("report + orderBy (registered shape)")(
        rep.orderBy("doc_id", "gate").count())
      graft.plans.Pipeline.deleteRecursively(java.nio.file.Paths.get(tmp))
      spark.stop(); return
    }
    // comma-separated names run once each in THIS session (the A/B
    // harness shape: one JVM, many queries, uniform conf); a single
    // name keeps the run1/run2 cold-vs-warm split.
    if (name.contains(",")) {
      name.split(',').foreach(q =>
        time(s"$q")(SparkEntry.queries(q)(spark, sfDir).count()))
      spark.stop(); return
    }
    time(s"$name run1")(SparkEntry.queries(name)(spark, sfDir).count())
    time(s"$name run2")(SparkEntry.queries(name)(spark, sfDir).count())
    if (args.contains("--explain"))
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    if (args.contains("--corpusetl")) {
      // per-stage pricing of the corpus release chain (VERDICT r9 item
      // 5): the probe forces each persisted id-sized pivot at its
      // boundary, so the stage walls are attributable AND the forced
      // materialization is exactly what later stages reuse — the total
      // stays honest. Written bytes per table close the IO-floor vs
      // plan-waste question.
      val wh = java.nio.file.Files.createTempDirectory("graft-corpusetl-prof-").toString
      val t0 = System.nanoTime()
      var last = t0
      graft.plans.Pipeline.runCorpusEtl(spark, sfDir, wh,
        probe = (stage, df) => {
          val n = df.count()
          val now = System.nanoTime()
          println(f"[profile] stage $stage%-26s ${(now - last) / 1e9}%8.2f s  ($n rows)")
          last = now
        })
      println(f"[profile] stage pack_split_stage_promote ${(System.nanoTime() - last) / 1e9}%8.2f s")
      println(f"[profile] corpus etl total          ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      for (t <- Seq("corpus_release", "corpus_flags")) {
        val p = java.nio.file.Paths.get(wh, t)
        val st = java.nio.file.Files.walk(p)
        val bytes =
          try st.filter(java.nio.file.Files.isRegularFile(_))
            .mapToLong(java.nio.file.Files.size(_)).sum()
          finally st.close()
        println(s"[profile] written $t: $bytes bytes")
      }
      graft.plans.Pipeline.deleteRecursively(java.nio.file.Paths.get(wh))
      spark.stop(); return
    }
    spark.stop()
  }
}
