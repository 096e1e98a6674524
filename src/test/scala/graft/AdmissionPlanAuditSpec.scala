package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Admission
import graft.registry.CorpusRegistry

/** Structural plan-audit of the admission ensemble (round 17, judge
  * directive): the round-13 bug class — a consumer branch silently
  * re-deriving the model subtree, multiplying full-corpus scans — is
  * pinned here as a SCAN-COUNT regression test over every registered
  * admission consumer, not just the original nbScores no-BNLJ check.
  *
  * The invariant: the 7-gate report reads the documents table a fixed
  * number of times (one scan per gate leg that consumes raw text),
  * and every calibration rollup is a bounded aggregate OVER the
  * report — it must add ZERO documents scans of its own. The LM and NB
  * models are broadcast tables resolved before the plan is built, so
  * they appear nowhere in it; if a model leg regresses to a join, the
  * model relation and a documents scan re-enter the plan — exactly what
  * these assertions catch, before any timing does.
  */
class AdmissionPlanAuditSpec extends AnyFunSuite {
  import SparkTestBase._

  /** Count leaf scans of the documents table in the OPTIMIZED logical
    * plan (pre-AQE is fine: scan multiplicity is a logical property;
    * no job needs to run to read it).
    */
  private def docScans(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case f: HadoopFsRelation =>
          f.location.rootPaths.count(_.toString.contains("documents.parquet"))
        case _ => 0
      }
    }.sum

  // The live report subtree every standalone consumer embeds. Its
  // documents-scan budget (measured on the current plan, leg by leg):
  // the wide frame (source, quality, contamination, and the LM and NB
  // scores — both models are broadcast tables, so their legs read no
  // documents of their own), the semantic sweep's probe side, its
  // bench-signature state, and the near-dup probe's band table — a
  // FIXED count independent of corpus size. A regression to a model
  // join re-adds a scan per model leg, and unmaterialized gate artifacts
  // re-enter their builds into the plan — the round-13 bug class; either
  // blows this budget.
  private val ReportScanBudget = 4

  /** The registered report over whole-corpus models, its band state
    * written to a temp dir that is deleted after `audit`.
    */
  private def withReport(audit: DataFrame => Unit): Unit = {
    val dir = tmpDir("graft-planaudit-bands-")
    try audit(CorpusRegistry.admissionReportFor(spark, sfDir, dir.toString))
    finally graft.plans.Pipeline.deleteRecursively(dir)
  }

  test("live report: documents-scan count stays at the fixed gate constant") {
    withReport { rep =>
      val n = docScans(rep)
      assert(n >= 1 && n <= ReportScanBudget,
        s"admission report reads documents $n times (budget $ReportScanBudget) — " +
          "a gate leg re-derives an artifact it should share:\n" +
          rep.queryExecution.optimizedPlan.toString.take(4000))
    }
  }

  test("report plan: no Aggregate or Join is fed by the LM or NB model") {
    // both models are resolved to broadcast tables before the plan is
    // built, so the scoring legs are per-row projections of the
    // documents scan: a regression to the join form re-enters the model
    // relation under a Join and the per-doc rollup Aggregate
    val docs = Tables.documents(spark, sfDir)
    val tmp = tmpDir("graft-planaudit-models-").toString
    try {
      graft.ext.TextAnalysis.bigramLmTrain(docs).write.parquet(s"$tmp/lm")
      graft.ext.Classifier.nbTrain(docs).write.parquet(s"$tmp/nb")
      val seen = graft.ext.Dedup.bandTable(docs.filter(col("doc_id") % 7 === 3),
        w = 5, numHashes = 8, bandWidth = 2)
      val rep = Admission.report(docs, Seq("src0", "src1"), _ => lit(false),
        0.3, None, spark.read.parquet(s"$tmp/lm"), -3.40,
        spark.read.parquet(s"$tmp/nb"), Seq("en"),
        nearDup = Some(Admission.NearDupCfg(seen, w = 5, numHashes = 8,
          bandWidth = 2)))
      def readsModel(p: LogicalPlan): Boolean = p.collectLeaves().exists {
        case l: LogicalRelation => l.relation match {
          case f: HadoopFsRelation => f.location.rootPaths.exists { r =>
            val s = r.toString
            s.endsWith("/lm") || s.endsWith("/nb")
          }
          case _ => false
        }
        case _ => false
      }
      val plan = rep.queryExecution.optimizedPlan
      val fed = plan.collect {
        case a: Aggregate if readsModel(a) => a.nodeName
        case j: Join if readsModel(j) => j.nodeName
      }
      assert(fed.isEmpty, s"model-fed ${fed.mkString(", ")} in the report " +
        s"plan:\n${plan.toString.take(4000)}")
      assert(!readsModel(plan), "the report plan reads a model relation")
    } finally graft.plans.Pipeline
      .deleteRecursively(java.nio.file.Paths.get(tmp))
  }

  test("every live standalone consumer adds zero documents scans beyond its report") {
    // the registered consumers of one live report subtree, audited
    // through the builders their queries run (a query detaches its
    // result before its scratch dir goes, so its returned plan is a
    // leaf; the staged family is audited below via the staged-rollup
    // shape instead)
    val live = Seq("corpus_admission_report", "corpus_admission_overlap",
      "corpus_admission_overlap_matrix", "corpus_admission_funnel",
      "corpus_admission_lm_sweep")
    assert(CorpusRegistry.reportConsumers.map(_._1) === live)
    withReport { rep =>
      val base = docScans(rep)
      CorpusRegistry.reportConsumers.foreach { case (name, consume) =>
        assert(CorpusRegistry.queries.contains(name), s"$name is not registered")
        val n = docScans(consume(rep))
        assert(n == base,
          s"$name reads documents $n times but its report subtree reads " +
            s"$base — the rollup re-derives part of the chain instead of " +
            "aggregating the decision table")
      }
    }
  }

  test("staged rollups read ONLY the staged report — zero documents scans") {
    // the amortized production shape (lifecycle / lifecycle_full /
    // retrain lifecycle): gate artifacts staged once, every consumer a
    // bounded scan of the persisted decision table. Structurally that
    // means the consumer plans touch NO raw-corpus file at all.
    val tmp = tmpDir("graft-planaudit-").toString
    try {
      CorpusRegistry.admissionReportFor(spark, sfDir, tmp)
        .write.parquet(s"$tmp/report")
      val rep = spark.read.parquet(s"$tmp/report")
      val consumers = Seq[(String, DataFrame)](
        "overlap" -> Admission.gateOverlap(rep),
        "overlap_matrix" -> Admission.gateOverlapMatrix(rep),
        "funnel" -> Admission.gateFunnel(rep),
        "lm_sweep" -> Admission.lmThresholdSweep(rep,
          Seq(-3.60, -3.50, -3.40, -3.30, -3.20)),
        "gate_auc" -> {
          val kept = rep.filter(col("gate") === "8_decision")
            .select(col("doc_id"), col("pass").as("is_kept"))
          graft.ext.Eval.aucByKey(
            rep.filter(col("gate") =!= "8_decision" &&
                col("score").isNotNull)
              .select(col("doc_id"), col("gate"),
                floor(col("score") * lit(1099511627776L)).as("s"))
              .join(kept, Seq("doc_id")),
            "gate", "s", "is_kept")
        })
      consumers.foreach { case (name, df) =>
        assert(docScans(df) == 0,
          s"staged $name consumer re-reads the documents table — the " +
            "amortization contract is broken")
      }
    } finally graft.plans.Pipeline
      .deleteRecursively(java.nio.file.Paths.get(tmp))
  }
}
