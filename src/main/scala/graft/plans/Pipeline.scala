package graft.plans

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import graft.gold.Gold
import graft.silver.Silver

/** End-to-end orchestration — the reference's transactional ETL procedure
  * and mart-refresh DAG (/root/reference
  * include/sql/silver/silver_load.sql:285-308, dags/gold_dag.py:33-70)
  * restated for an immutable-files warehouse:
  *
  *  - Postgres gave the reference one transaction around the five silver
  *    steps; Spark+parquet has no cross-table transactions, so atomicity
  *    becomes STAGE-THEN-PROMOTE: every table is written to a staging
  *    directory and moved into place only after the whole batch succeeds.
  *    A failed run leaves the live warehouse untouched: a write failure
  *    never reaches promotion, and a promotion failure rolls back every
  *    table already swapped (asides are retained until the whole batch
  *    lands). The remaining window is a hard process crash mid-promote,
  *    which leaves `.old-*` aside directories for manual recovery —
  *    closing that too takes a catalog pointer swap (below).
  *  - The four gold marts are independent, exactly like the reference's
  *    parallel refresh fan-out — they're submitted as concurrent jobs on
  *    the shared SparkSession (Spark's scheduler interleaves stages).
  *
  * The directory-move promotion here targets a filesystem warehouse
  * (local/HDFS renames are atomic). On an object store, the same
  * stage-then-promote protocol is expressed as a catalog pointer swap —
  * write staging prefixes, then update each table's location in the
  * metastore — or delegated to a table format's transactional commit.
  */
object Pipeline {

  /** Build all silver + gold tables from the source dir and atomically
    * promote them under `warehouseDir`. Returns table names written.
    */
  def runFullEtl(spark: SparkSession, srcDir: String, warehouseDir: String): Seq[String] =
    runFullEtl(spark, srcDir, warehouseDir, failpoint = _ => ())

  /** Test seam: `failpoint(tableName)` runs inside each table's write
    * future before the write starts — PipelineSpec injects a failure to
    * prove the error-path contract (original error surfaces, staging is
    * cleaned only after every sibling settles).
    */
  private[graft] def runFullEtl(spark: SparkSession, srcDir: String,
                                warehouseDir: String,
                                failpoint: String => Unit): Seq[String] = {
    val nation = Tables.nation(spark, srcDir)
    val region = Tables.region(spark, srcDir)
    val customer = Tables.customer(spark, srcDir)
    val supplier = Tables.supplier(spark, srcDir)
    val orders = Tables.orders(spark, srcDir)
    val lineitem = Tables.lineitem(spark, srcDir)

    // Only the fact pipeline spreads its sources: with the dims broadcast
    // it inherits the SCAN's partitioning, and a few-row-group source
    // would serialize the row-wise key projection and the fact write into
    // one or two tasks. dim_date, dim_user and the two order-grain marts
    // collapse the same scans in a partial aggregate, which runs in the
    // scan task; a round-robin shuffle in front of it would only move
    // rows the aggregate then discards. Identity at warehouse scale (a
    // big scan already has ≥ default parallelism splits).
    val silverTables: Seq[(String, DataFrame)] = Seq(
      "dim_station" -> Silver.dimStation(nation, region, customer, supplier),
      "dim_user" -> Silver.dimUser(customer, orders),
      "dim_date" -> Silver.dimDate(orders, lineitem),
      "fact_trips" -> Silver.factTrips(Tables.spread(lineitem),
        Tables.spread(orders), customer, supplier))

    val staging = Paths.get(warehouseDir, s".staging-${java.util.UUID.randomUUID}")
    Files.createDirectories(staging)
    val tableNames = silverTables.map(_._1) ++
      Seq("dm_daily_trip_summary", "dm_popular_routes",
        "dm_station_popularity", "dm_user_behavior")

    try {
      // the gold_dag fan-out with the reference's silver_dag → gold_dag
      // dependency structure, expressed as futures over concurrent jobs
      // on the shared session: the FACT-grain marts (daily, routes) wait
      // only for the staged tables they read — the lineitem⋈orders
      // shuffle is paid exactly once, into fact_trips, and those marts
      // roll up from the persisted fact instead of re-joining raw
      // sources. station_popularity and user_behavior are ORDER-grain
      // (trips_started counts orders, not line items), aggregate their
      // unspread sources directly, and overlap the whole silver wave.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      def write(name: String, df: DataFrame): Unit = {
        failpoint(name)
        df.write.mode("overwrite").parquet(staging.resolve(name).toString)
      }
      // a staged table is read with the schema of the frame that wrote
      // it: no schema-inference job on the tail. The broadcast dims are
      // not spread (a broadcast build collects every row anyway); the
      // fact is, for the parallelism of the marts' aggregates.
      val written = silverTables.toMap
      def staged(name: String): DataFrame =
        spark.read.schema(written(name).schema).parquet(staging.resolve(name).toString)
      val silverDone = silverTables.map { case (name, df) =>
        name -> Future(write(name, df))
      }.toMap
      val goldFutures = Seq(
        Future(write("dm_station_popularity",
          Gold.stationPopularity(lineitem, orders, customer, supplier, nation))),
        Future(write("dm_user_behavior", Gold.userBehavior(orders, customer))),
        silverDone("fact_trips").zip(silverDone("dim_date")).map { _ =>
          write("dm_daily_trip_summary",
            Gold.dailySummaryFromStar(Tables.spread(staged("fact_trips")),
              staged("dim_date")))
        },
        silverDone("fact_trips").zip(silverDone("dim_station")).map { _ =>
          write("dm_popular_routes",
            Gold.popularRoutesFromStar(Tables.spread(staged("fact_trips")),
              staged("dim_station")))
        })
      // SETTLE every future (lift to Try — never fail-fast): the enclosing
      // finally deletes the staging directory, and a fail-fast Await would
      // reach it while sibling futures still write into staging — the
      // delete races live writers and their confused IO errors can mask
      // the original failure. Once all writers have settled, rethrow the
      // first failure with the others attached as suppressed.
      val settled = Await.result(
        Future.sequence((silverDone.values.toSeq ++ goldFutures)
          .map(_.transform(scala.util.Success(_)))), Duration.Inf)
      val failures = settled.collect { case scala.util.Failure(e) => e }
      failures.headOption.foreach { first =>
        // reference-dedup: a failed silver future propagates the SAME
        // exception object through the gold futures zipped on it, and
        // addSuppressed(self) is an error.
        failures.drop(1).distinct.filter(_ ne first).foreach(first.addSuppressed)
        throw first
      }
      promoteStaged(warehouseDir, staging, tableNames)
      tableNames
    } finally deleteRecursively(staging)
  }

  /** Promote: swap each staged table in. The live copy is moved ASIDE
    * first (not deleted) and every aside is retained until the WHOLE
    * batch has promoted — if any swap fails, all earlier promotions
    * roll back from their asides, so observers never see a mixed
    * warehouse (the reference's transaction-rollback behavior). Only
    * after the last table is in place are the asides removed.
    */
  private def promoteStaged(warehouseDir: String, staging: Path,
                            tableNames: Seq[String]): Unit = {
    case class Promoted(live: Path, aside: Path, hadLive: Boolean)
    val done = scala.collection.mutable.ListBuffer.empty[Promoted]
    try {
      tableNames.foreach { name =>
        val live = Paths.get(warehouseDir, name)
        val aside = Paths.get(warehouseDir, s".old-$name-${java.util.UUID.randomUUID}")
        val hadLive = Files.exists(live)
        if (hadLive) Files.move(live, aside, StandardCopyOption.ATOMIC_MOVE)
        try Files.move(staging.resolve(name), live, StandardCopyOption.ATOMIC_MOVE)
        catch {
          case e: Throwable =>
            if (hadLive) Files.move(aside, live, StandardCopyOption.ATOMIC_MOVE)
            throw e
        }
        done += Promoted(live, aside, hadLive)
      }
    } catch {
      case e: Throwable =>
        // restore every table promoted before the failure. The fresh
        // copy is MOVED aside (atomic) — never deleted first — so no
        // instant exists where a table has neither old nor new data;
        // restores are best-effort across all tables (one failed move
        // must not strand the rest mid-rollback).
        done.toList.reverse.foreach { p =>
          try {
            val failed = Paths.get(warehouseDir,
              s".failed-${p.live.getFileName}-${java.util.UUID.randomUUID}")
            Files.move(p.live, failed, StandardCopyOption.ATOMIC_MOVE)
            if (p.hadLive)
              Files.move(p.aside, p.live, StandardCopyOption.ATOMIC_MOVE)
            deleteRecursively(failed)
          } catch {
            case re: Throwable => e.addSuppressed(re)
          }
        }
        throw e
    }
    done.foreach(p => if (p.hadLive) deleteRecursively(p.aside))
  }

  /** The training-corpus RELEASE pipeline — the extension-surface analog
    * of [[runFullEtl]] (reference: the transactional silver orchestrator,
    * /root/reference/include/sql/silver/silver_load.sql:285-308): one
    * staged-then-promoted run composing the corpus operators end to end,
    *
    *   quality gate → exact dedup → near dedup (banded MinHash →
    *   connected components → keep best per cluster) → Bloom-gated
    *   decontamination vs the benchmark sources → sequence packing →
    *   train/val/test split
    *
    * `corpus_release` (the shippable table) and `corpus_flags` (the
    * contamination audit list the release is justified by) land together
    * or not at all, under the same aside/rollback promotion as the
    * warehouse ETL. The quality gate is integer-exact (length, stopword
    * presence, 4·distinct ≥ tokens) so every keep/drop decision is
    * bit-portable to the oracle.
    */
  def runCorpusEtl(spark: SparkSession, srcDir: String,
                   warehouseDir: String,
                   probe: (String, DataFrame) => Unit = (_, _) => ()): Seq[String] = {
    import org.apache.spark.sql.functions._
    import graft.ext.{Corpus, Dedup, TextAnalysis}
    val docs = Tables.documents(spark, srcDir)
    val benchSrc = Seq("src0", "src1")
    // the pipeline runs on the TRAIN side only — the bench sources are
    // the external eval sets decontamination protects, not corpus to
    // clean (deduplicating them INTO the corpus would silently do the
    // sweep's job on cross-side near-dups and leave it nothing to find)
    val train = docs.filter(!col("source").isin(benchSrc: _*))
    // Each stage's DECISION (which ids survive) is cached as an ID-SIZED
    // frame; the document frame is re-derived per use as one documents
    // scan ⋈ cached ids. Before this (round-10 audit), lazy lineage
    // recomputed nearKept twice and its MinHash/LSH/CC ancestry up to
    // four times through the downstream reuses. Ids are orders of
    // magnitude below the corpus bytes at 100 TB (the cache spills to
    // disk if not); the TEXT is never cached. `probe` observes each
    // pivot for stage pricing (Profile --corpusetl); default no-op.
    graft.Stage.scoped { st =>
      val gatedIds = st.cache(TextAnalysis.qualityScore(train)
        .filter(col("n_tokens") >= 5 && col("n_stopwords") >= 1 &&
          col("n_distinct_tokens") * 4 >= col("n_tokens"))
        .select(col("doc_id")))
      probe("quality_gate_ids", gatedIds)
      val gated = train.join(gatedIds, Seq("doc_id"), "left_semi")
      val exactIds = st.cache(Dedup.exact(gated).select(col("keeper").as("doc_id")))
      probe("exact_dedup_ids", exactIds)
      val exactKept = train.join(exactIds, Seq("doc_id"), "left_semi")
      val clusters = st.cache(Dedup.clusterPairs(
        Dedup.minhashLsh(exactKept, w = 5, numHashes = 8, bandWidth = 2,
          threshold = 0.5)))
      probe("near_dup_clusters", clusters)
      val keepers = Dedup.keepBestPerCluster(clusters,
        exactKept.select(col("doc_id"), col("n_chars")), "n_chars")
      val losers = clusters
        .join(keepers.select(col("cluster_id"), col("keeper")), Seq("cluster_id"))
        .filter(col("doc_id") =!= col("keeper"))
        .select(col("doc_id"))
      val survivorIds = st.cache(exactIds.join(losers, Seq("doc_id"), "left_anti"))
      probe("near_dedup_survivor_ids", survivorIds)
      val nearKept = train.join(survivorIds, Seq("doc_id"), "left_semi")
      // sweep = raw bench docs ∪ surviving train docs; the result is read
      // twice (apply + audit table) — keep the sweep result, not the
      // documents, in memory
      val flags = st.cache(Corpus.contaminationBloomGated(
        docs.filter(col("source").isin(benchSrc: _*)).unionByName(nearKept),
        benchSrc, w = 5, maxShingleFreq = 8, threshold = 0.3))
      probe("contamination_flags", flags)
      val clean = Corpus.decontaminate(nearKept, flags, benchSrc)
      val released = Corpus.splitAssign(
        clean.select(col("doc_id"), col("source"), col("n_chars"))
          .join(Corpus.packSequences(clean, maxTokens = 512)
            .select(col("doc_id"), col("n_tok"), col("pack_id")),
            Seq("doc_id")))
      val staging = Paths.get(warehouseDir, s".staging-${java.util.UUID.randomUUID}")
      Files.createDirectories(staging)
      val tables = Seq("corpus_release", "corpus_flags")
      try {
        released.write.mode("overwrite")
          .parquet(staging.resolve("corpus_release").toString)
        flags.write.mode("overwrite")
          .parquet(staging.resolve("corpus_flags").toString)
        promoteStaged(warehouseDir, staging, tables)
        tables
      } finally deleteRecursively(staging)
    }
  }

  /** S8: recompute-and-overwrite mart refresh (`REFRESH MATERIALIZED
    * VIEW` semantics) for one mart by name. Fact-grain marts refresh
    * FROM the warehouse's persisted silver tables when a prior
    * [[runFullEtl]] left them in place (the reference's REFRESH reads
    * the silver star, never raw bronze) and fall back to recomputing
    * from sources on a cold warehouse; both forms are oracle-proven
    * equal. Order-grain marts aggregate sources directly either way.
    *
    * Freshness contract (same as the reference's gold_dag, which reads
    * whatever silver currently holds): if sources changed since the
    * star was built, star-read marts reflect the star's version and
    * source-read marts the sources' — advance the star first
    * ([[runFullEtl]]) when refreshing after new data. Version-coherent
    * multi-mart refresh IS [[runFullEtl]]; this entry point is the
    * single-mart convenience.
    */
  def refreshMart(spark: SparkSession, srcDir: String, warehouseDir: String,
                  mart: String): Unit = {
    // the star is read as runFullEtl reads its staged copy: the fact
    // spread, the broadcast dims not
    def live(n: String): Option[DataFrame] = {
      val p = Paths.get(warehouseDir, n)
      if (Files.exists(p)) Some(spark.read.parquet(p.toString)) else None
    }
    val df = mart match {
      case "dm_daily_trip_summary" =>
        (live("fact_trips").map(Tables.spread), live("dim_date")) match {
          case (Some(fact), Some(dd)) => Gold.dailySummaryFromStar(fact, dd)
          case _ =>
            Gold.dailyTripSummary(Tables.lineitem(spark, srcDir), Tables.orders(spark, srcDir),
              Silver.dimDate(Tables.orders(spark, srcDir), Tables.lineitem(spark, srcDir)))
        }
      case "dm_popular_routes" =>
        (live("fact_trips").map(Tables.spread), live("dim_station")) match {
          case (Some(fact), Some(ds)) => Gold.popularRoutesFromStar(fact, ds)
          case _ =>
            Gold.popularRoutes(Tables.lineitem(spark, srcDir), Tables.orders(spark, srcDir),
              Tables.customer(spark, srcDir), Tables.supplier(spark, srcDir),
              Tables.nation(spark, srcDir))
        }
      case "dm_station_popularity" =>
        Gold.stationPopularity(Tables.lineitem(spark, srcDir), Tables.orders(spark, srcDir),
          Tables.customer(spark, srcDir), Tables.supplier(spark, srcDir),
          Tables.nation(spark, srcDir))
      case "dm_user_behavior" =>
        Gold.userBehavior(Tables.orders(spark, srcDir), Tables.customer(spark, srcDir))
      case other => throw new IllegalArgumentException(s"unknown mart: $other")
    }
    // the refresh reads live warehouse tables and writes a DIFFERENT
    // directory, so overwrite cannot clobber its own input; eager
    // materialization before the delete-and-write is therefore not needed.
    df.write.mode("overwrite").parquet(s"$warehouseDir/$mart")
  }

  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
    }
}
