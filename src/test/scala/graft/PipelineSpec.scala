package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.Pipeline

class PipelineSpec extends AnyFunSuite {
  import SparkTestBase._

  test("full ETL stages then promotes all silver+gold tables atomically") {
    val wh = tmpDir("graft_wh").toString
    val written = Pipeline.runFullEtl(spark, sfDir, wh)
    assert(written.size === 8)
    written.foreach { t =>
      assert(spark.read.parquet(s"$wh/$t").count() > 0, s"$t is empty")
    }
    // no staging residue after promotion
    assert(!new java.io.File(wh).listFiles().exists(_.getName.startsWith(".staging")))
    // re-running (the reference's idempotent re-run) fully replaces tables
    val counts1 = written.map(t => t -> spark.read.parquet(s"$wh/$t").count()).toMap
    Pipeline.runFullEtl(spark, sfDir, wh)
    written.foreach { t =>
      assert(spark.read.parquet(s"$wh/$t").count() === counts1(t), s"$t changed on rerun")
    }
  }

  /** Runs one [[Pipeline.runFullEtl]] at sf0.01 and returns its job
    * count and, per staged table, the physical plans of the SQL
    * executions that wrote it.
    */
  private def tracedRebuild(): (Int, Map[String, Seq[String]]) = {
    val dir = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath
    val wh = tmpDir("graft_wh_budget").toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            plans.add(s.physicalPlanDescription)
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Pipeline.runFullEtl(spark, dir, wh)
      drainListenerBus()
    } finally spark.sparkContext.removeSparkListener(listener)
    // the write command's first argument is its output path
    val target = """Arguments: \S*\.staging-[0-9a-f-]+/(\w+),""".r
    val writes = plans.toArray(Array.empty[String]).toSeq
      .flatMap(p => target.findFirstMatchIn(p).map(m => m.group(1) -> p))
      .groupBy(_._1).map { case (t, ps) => t -> ps.map(_._2) }
    (jobs.get, writes)
  }

  test("a rebuild stays within its job budget and spreads only the fact pipeline") {
    // Measured at 47 jobs on this fixture (sf0.01, 4 cores): the silver
    // wave, the two source-read marts and the two star-read marts, whose
    // shuffle and broadcast stages adaptive execution submits as jobs of
    // their own. A schema-inference read of a staged table, or a
    // round-robin spread in front of an aggregate, raises it.
    val JobsPerRebuild = 47
    val (jobs, writes) = tracedRebuild()
    info(s"one rebuild ran $jobs jobs")
    assert(writes.keySet === Set("dim_station", "dim_user", "dim_date", "fact_trips",
      "dm_daily_trip_summary", "dm_popular_routes", "dm_station_popularity",
      "dm_user_behavior"), s"unexpected write targets ${writes.keySet}")
    // the aggregate-only consumers read the plain scan: their partial
    // aggregate runs in the scan task, behind no round-robin exchange
    Seq("dim_date", "dim_user", "dm_station_popularity", "dm_user_behavior").foreach { t =>
      writes(t).foreach(plan => assert(!plan.contains("RoundRobinPartitioning"),
        s"$t spreads its source before aggregating it:\n$plan"))
    }
    // the fact keeps its spread: one-file sources, four cores
    assert(writes("fact_trips").exists(_.contains("RoundRobinPartitioning")),
      "fact_trips lost the spread of its one-file sources")
    assert(jobs <= JobsPerRebuild, s"one rebuild ran $jobs jobs, over the budget $JobsPerRebuild")
  }

  test("corpus ETL: every stage binds, release is self-consistent, re-release replaces atomically") {
    import org.apache.spark.sql.functions._
    val wh = tmpDir("graft_corpus_wh").toString
    val written = Pipeline.runCorpusEtl(spark, sfDir, wh)
    assert(written === Seq("corpus_release", "corpus_flags"))
    val docs = Tables.documents(spark, sfDir)
    val release = spark.read.parquet(s"$wh/corpus_release")
    val flags = spark.read.parquet(s"$wh/corpus_flags")
    // the chain BINDS: every stage dropped something — a release equal
    // to the raw corpus means a stage silently no-opped
    val total = docs.filter(!col("source").isin("src0", "src1")).count()
    assert(release.count() > 0 && release.count() < total,
      s"release ${release.count()} vs train corpus $total — no stage bound")
    assert(flags.count() > 0, "contamination sweep found nothing — not binding")
    // self-consistency: no bench sources, no flagged doc, no exact-dup
    // content, every pack/split column populated
    assert(release.filter(col("source").isin("src0", "src1")).count() === 0)
    assert(release.join(flags.select(col("train_doc").as("doc_id")).distinct(),
      Seq("doc_id"), "left_semi").count() === 0)
    val texts = docs.join(release.select("doc_id"), Seq("doc_id"), "left_semi")
    assert(texts.groupBy(md5(col("text"))).count().filter(col("count") > 1).count() === 0,
      "exact duplicates survived the release")
    assert(release.filter(col("pack_id").isNull || col("split").isNull).count() === 0)
    // re-release (the idempotent re-run) fully replaces both tables
    val c1 = release.count()
    Pipeline.runCorpusEtl(spark, sfDir, wh)
    assert(spark.read.parquet(s"$wh/corpus_release").count() === c1)
    assert(!new java.io.File(wh).listFiles().exists(_.getName.startsWith(".staging")))
  }

  test("a failed table write surfaces ITS error, leaves the live warehouse intact") {
    val wh = tmpDir("graft_wh_fail").toString
    Pipeline.runFullEtl(spark, sfDir, wh)
    val before = spark.read.parquet(s"$wh/dm_daily_trip_summary").count()
    val boom = new RuntimeException("injected: dim_user write failed")
    val e = intercept[RuntimeException] {
      Pipeline.runFullEtl(spark, sfDir, wh,
        failpoint = name => if (name == "dim_user") throw boom)
    }
    // the INJECTED failure must surface — not a staging-cleanup IO error
    // from a sibling future racing the deleted directory.
    assert(e eq boom, s"expected the injected error, got: $e")
    // staging is fully cleaned (no writer re-created it after the delete)
    assert(!new java.io.File(wh).listFiles()
      .exists(_.getName.startsWith(".staging")), "staging residue left behind")
    // nothing was promoted: the live warehouse is byte-for-byte intact
    assert(spark.read.parquet(s"$wh/dm_daily_trip_summary").count() === before)
  }

  test("single-mart refresh matches the pipeline's version") {
    val wh = tmpDir("graft_wh2").toString
    Pipeline.refreshMart(spark, sfDir, wh, "dm_station_popularity")
    val refreshed = spark.read.parquet(s"$wh/dm_station_popularity")
    val direct = graft.gold.Gold.stationPopularity(
      Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir),
      Tables.customer(spark, sfDir), Tables.supplier(spark, sfDir),
      Tables.nation(spark, sfDir))
    assert(refreshed.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(refreshed).count() === 0)
    intercept[IllegalArgumentException] {
      Pipeline.refreshMart(spark, sfDir, wh, "nope")
    }
  }

  test("fact-grain refresh reads the warehouse star and reproduces the ETL mart") {
    val wh = tmpDir("graft_wh3").toString
    Pipeline.runFullEtl(spark, sfDir, wh)
    Seq("dm_daily_trip_summary", "dm_popular_routes").foreach { m =>
      val etl = spark.read.parquet(s"$wh/$m").collect().toSet
      Pipeline.refreshMart(spark, sfDir, wh, m)
      val refreshed = spark.read.parquet(s"$wh/$m").collect().toSet
      assert(refreshed === etl, s"$m refresh-from-star must match the ETL output")
    }
  }

  test("registered views give a SQL-only user the whole star") {
    val names = graft.plans.Views.register(spark, sfDir)
    assert(names.size === 18)
    // a reference-style SQL query straight against the mart view
    val top = spark.sql(
      """SELECT station_name, net_flow FROM dm_station_popularity
        |ORDER BY net_flow DESC, station_name LIMIT 3""".stripMargin).collect()
    assert(top.length === 3)
    // silver + gold agree through SQL: mart total == fact row count
    val factN = spark.sql("SELECT count(*) FROM fact_trips").head().getLong(0)
    val martTrips = spark.sql(
      "SELECT sum(total_trips) FROM dm_daily_trip_summary").head().getLong(0)
    assert(martTrips === factN)
    // custom function + view compose in one SQL statement
    graft.functions.KeyColumns.register(spark)
    val k = spark.sql(
      "SELECT signed_md5_long(station_name) AS k FROM dm_station_popularity LIMIT 1")
      .head().getLong(0)
    assert(k != 0L)
  }

  test("GraftExtensions makes the native functions SQL-visible in a fresh session") {
    import org.apache.spark.sql.SparkSession
    spark // force shared session init first
    // getOrCreate would hand back the shared session (and silently skip
    // extension injection) — detach it so a genuinely new session with
    // the extensions applied is built on the same SparkContext.
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    try {
      val k = s2.sql("SELECT signed_md5_long('station|3') AS k").head().getLong(0)
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest("station|3".getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(k === java.lang.Long.parseUnsignedLong(hex.substring(0, 16), 16))
      val c = s2.sql(
        "SELECT cosine_native(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
          "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c").head().getDouble(0)
      assert(math.abs(c - 1.0) < 1e-12)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }
}
