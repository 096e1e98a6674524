package graft.ext

import scala.collection.immutable.ListMap
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Hashed-feature multinomial Naive Bayes — the model-based selection
  * tier's SUPERVISED member (the fastText-style quality/domain
  * classifier a curation pipeline runs next to the generative LM
  * scorer and the DSIR importance weigher). Training is closed-form
  * counting, so the whole family is deterministic end to end and the
  * DuckDB oracle reproduces every fixed-point log-probability
  * bit-for-bit — no SGD, no seed, no iteration order.
  *
  * Model: `P(label | doc) ∝ P(label) · Π_f P(f | label)` over hashed
  * uni+bigram feature OCCURRENCES (multinomial event model) with
  * add-one smoothing over the `buckets` hashed vocabulary. Per-pair
  * `ln` values snap to 1e-3 fixed point BEFORE any per-document
  * summation (the pipeline's embedding-centroid convention), so doc
  * scores are long-integer sums — associative across partitions and
  * engines.
  *
  * Scale design (100 TB):
  *  - TRAIN is one corpus pass: the feature stream collapses to
  *    `(label, bucket)` counts via partial+final aggregation (map-side
  *    combine absorbs the token stream before the exchange); the count
  *    state is ≤ `labels × (buckets+1)` rows — bounded, never
  *    corpus-sized.
  *  - The counts are ADDITIVE under [[nbCountsMerge]]
  *    (`build(A) ⊕ build(B) == build(A ∪ B)`), so a stream maintains
  *    the classifier live ([[graft.streaming.Streams.nbMaintainPipeline]])
  *    without re-reading the corpus — same discipline as the DSIR and
  *    histogram states.
  *  - CLASSIFY is one scan: the dense model (≤ labels×(buckets+1) rows
  *    by construction) is collected and broadcast once
  *    ([[resolveNb]]), and each document's per-label scores and argmax
  *    are computed in the projection that reads its text. No join, no
  *    exchange, no aggregation touches the corpus side.
  */
object Classifier {

  /** The hashed uni+bigram feature-bucket stream of one document under
    * a `salt` — the ONE feature kernel of the NB feature space (salt
    * `nb|`: the training aggregation [[nbCountsBuild]] and the scoring
    * kernel [[NbTable]]) and of the DSIR importance buckets (salt
    * `dsir|`, [[Corpus]]); the salts keep the two hash families
    * independent. Split keeps trailing empty tokens (limit -1) like
    * split()/string_split; each bucket is the first 4 md5 bytes
    * ([[graft.functions.KeyFunctions.md5First32]]) of the salted
    * feature string. A FUNCTION VALUE (bound to a local before each
    * flatMap captures it): a method reference would drag the whole
    * non-serializable object into the task closure.
    */
  private[ext] val ngramBuckets: (String, String, Int) => Iterator[Int] =
    (salt, text, buckets) =>
      if (text == null) Iterator.empty
      else {
        import org.apache.spark.unsafe.types.UTF8String
        val t = text.split(" ", -1)
        def b(f: String): Int =
          (graft.functions.KeyFunctions.md5First32(
            UTF8String.fromString(salt + f)) % buckets).toInt
        val uni = t.iterator.map(b)
        val bi =
          if (t.length < 2) Iterator.empty
          else (0 until t.length - 1).iterator
            .map(i => b(t(i) + " " + t(i + 1)))
        uni ++ bi
      }

  /** Sentinel bucket carrying the per-label DOCUMENT count (the prior's
    * numerator) inside the same additive count frame as the feature
    * counts — one state table, one merge law, one fold discipline.
    */
  val DocCountBucket: Int = -1

  /** Class-conditional count state from labeled documents: one row per
    * `(label, bucket)` with the occurrence count `c`, plus one
    * [[DocCountBucket]] row per label holding its document count.
    * Unlabeled rows (NULL label) are excluded — they are what the
    * trained classifier will label. ADDITIVE under [[nbCountsMerge]].
    * The hash geometry rides as a constant `buckets` stamp column
    * ([[Stamp]]'s discipline) so persisted state can never be derived
    * from or combined under a different geometry silently.
    */
  def nbCountsBuild(docs: DataFrame, labelCol: String = "lang",
                    buckets: Int = 1024): DataFrame = {
    require(buckets >= 2, "nbCountsBuild: need at least two buckets")
    val spark = docs.sparkSession
    import spark.implicits._
    val labeled = docs.filter(col(labelCol).isNotNull)
      .withColumn("_label", col(labelCol).cast("string"))
    // direct label-grain aggregation (round 18, guide §2.3 — aggregate
    // before you shuffle): training needs only Σ occurrences per
    // (label, bucket), so map-side combine collapses the occurrence
    // stream to ≤ labels×buckets rows per partition before the only
    // exchange.
    val biFn = ngramBuckets // local copy: the closure must not capture the object
    val feat = labeled.select(col("_label"), col("text"))
      .as[(String, String)]
      .flatMap { case (label, text) =>
        biFn("nb|", text, buckets).map(bk => (label, bk))
      }
      .toDF("label", "bucket")
      .groupBy(col("label"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val docCounts = labeled.groupBy(col("_label").as("label"))
      .agg(count(lit(1)).as("c"))
      .select(col("label"), lit(DocCountBucket).as("bucket"), col("c"))
    feat.select(col("label"), col("bucket"), col("c"))
      .unionByName(docCounts)
      .withColumn("buckets", lit(buckets))
  }

  /** Additive merge of two [[nbCountsBuild]] frames. NOT idempotent —
    * stream maintenance pairs it with the batch-id insert-if-absent
    * fold discipline. Stamped inputs must agree on geometry; the
    * common stamp rides through to the output.
    */
  def nbCountsMerge(a: DataFrame, b: DataFrame): DataFrame = {
    val stamp = Stamp.agreeing(Seq(a, b), "nbCountsMerge", Seq("buckets"))
    val cols = Seq("label", "bucket", "c").map(col)
    Stamp.restamp(
      a.select(cols: _*).unionByName(b.select(cols: _*))
        .groupBy(col("label"), col("bucket"))
        .agg(sum(col("c")).as("c")), stamp)
  }

  /** Right-to-be-forgotten for the classifier: subtract a removed
    * cohort's [[nbCountsBuild]] from the accumulated state —
    * bit-identical to rebuilding on the survivors (counts are
    * invertible; zeroed keys drop, so a fully-removed label vanishes
    * from the model exactly as a rebuild would omit it). Refuses a
    * cohort the state never folded in (negative-count validation).
    */
  def nbCountsSubtract(state: DataFrame, removed: DataFrame): DataFrame = {
    val stamp = Stamp.agreeing(Seq(state, removed), "nbCountsSubtract",
      Seq("buckets"))
    Stamp.restamp(
      graft.operators.ScaleOps.subtractCounts(state, removed,
        keys = Seq("label", "bucket"), counts = Seq("c"),
        what = "nbCountsSubtract"), stamp)
  }

  /** DENSE fixed-point model from accumulated counts: one row per
    * `(label, bucket)` for every bucket in [0, buckets) —
    * `lp_fp = round(ln((c+1)/(tot_label+buckets)) · 1000)` — plus one
    * [[DocCountBucket]] row per label carrying the prior
    * `round(ln(n_docs_label / n_docs) · 1000)`. Dense emission is what
    * lets classification join WITHOUT a missing-key default path, and
    * the table is ≤ `labels × (buckets+1)` rows — broadcast material
    * by construction. Bit-identical to training once on the
    * concatenated corpus when counts were folded additively (the
    * streaming oracle pins it).
    */
  def nbModelFromCounts(counts: DataFrame, buckets: Int = 1024): DataFrame = {
    require(Seq("label", "bucket", "c").forall(counts.columns.contains),
      "nbModelFromCounts: not an NB count state — need (label, bucket, c) " +
        "as built by nbCountsBuild")
    val spark = counts.sparkSession
    // bounded by labels×(buckets+1): materialize ONCE so the stamp
    // probe, the totals, the dense grid and the priors all read the same
    // blocks — probing the lazy counts first would run their whole
    // aggregation twice
    val stamped = counts.select(Seq(col("label"), col("bucket"), col("c")) ++
        (if (counts.columns.contains("buckets")) Seq(col("buckets")) else Nil): _*)
      .localCheckpoint(eager = true)
    Stamp.require(stamped, "nbModelFromCounts", Seq("buckets" -> buckets))
    val c = stamped.select(col("label"), col("bucket"), col("c"))
    val feat = c.filter(col("bucket") =!= DocCountBucket)
    val docs = c.filter(col("bucket") === DocCountBucket)
      .select(col("label"), col("c").as("n_docs"))
    val totals = feat.groupBy(col("label")).agg(sum(col("c")).as("tot"))
    val nTotal = docs.agg(sum(col("n_docs"))).head().getLong(0)
    val grid = docs.select(col("label")).distinct()
      .crossJoin(spark.range(buckets).select(col("id").cast("int").as("bucket")))
    val lp = grid
      .join(totals, Seq("label"))
      .join(feat, Seq("label", "bucket"), "left")
      .select(col("label"), col("bucket"),
        round(log((coalesce(col("c"), lit(0L)).cast("double") + lit(1.0)) /
          (col("tot").cast("double") + lit(buckets.toDouble))) * lit(1000), 0)
          .cast("long").as("lp_fp"))
    val prior = docs.select(col("label"), lit(DocCountBucket).as("bucket"),
      round(log(col("n_docs").cast("double") / lit(nTotal.toDouble)) *
        lit(1000), 0).cast("long").as("lp_fp"))
    // the model carries the geometry stamp forward: nbClassify hashes
    // features with ITS buckets parameter, and a model applied under a
    // different geometry scores silently wrong
    lp.unionByName(prior).withColumn("buckets", lit(buckets))
  }

  /** One-call batch train: counts → dense fixed-point model. */
  def nbTrain(docs: DataFrame, labelCol: String = "lang",
              buckets: Int = 1024): DataFrame =
    nbModelFromCounts(nbCountsBuild(docs, labelCol, buckets), buckets)

  /** Resolve a trained model ONCE for in-scan scoring: one collect —
    * bounded by construction, labels × (buckets + 1) rows — with the
    * geometry stamp checked on the collected rows (no separate probe),
    * then `sparkContext.broadcast`. A long-lived consumer (a streaming
    * admission gate) resolves once and classifies every micro-batch
    * against the handle.
    */
  def resolveNb(model: DataFrame, buckets: Int = 1024): NbScorer = {
    require(Seq("label", "bucket", "lp_fp").forall(model.columns.contains),
      "nbScores: not an NB model — need (label, bucket, lp_fp) as " +
        "built by nbModelFromCounts")
    val stamped = model.columns.contains("buckets")
    val rows = model.select(Seq(col("label").cast("string"),
        col("bucket").cast("int"), col("lp_fp").cast("long")) ++
        (if (stamped) Seq(col("buckets")) else Nil): _*)
      .collect()
    if (stamped) Stamp.require(
      rows.headOption.map(r => ListMap[String, Any]("buckets" -> r.get(3))),
      "nbScores", Seq("buckets" -> buckets))
    new NbScorer(model.sparkSession.sparkContext
      .broadcast(NbTable(rows, buckets)))
  }

  /** Classify every document against a trained model: the per-label
    * fixed-point score `score_fp = prior_fp + Σ n·lp_fp` over the
    * document's hashed feature occurrences, and the argmax label with a
    * deterministic `(score desc, label asc)` tie-break. Returns
    * `(doc_id, pred_label, n_feats, score_fp)` for every document with
    * at least one feature (NULL text has none and emits nothing). One
    * scan: the model is resolved once ([[resolveNb]]) and the argmax is
    * taken per row over the bounded label set — no join, exchange or
    * aggregation.
    */
  def nbClassify(docs: DataFrame, model: DataFrame,
                 buckets: Int = 1024): DataFrame = {
    val table = resolveNb(model, buckets).table
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        Option(table.value.classify(text))
          .map(p => (id, p.pred_label, p.n_feats, p.score_fp))
      }
      .toDF("doc_id", "pred_label", "n_feats", "score_fp")
  }

  /** The FULL per-(doc, label) score table [[nbClassify]] argmaxes
    * over: `(doc_id, label, n_feats, score_fp)` for every label of the
    * model's bounded class enum (the dense model covers every bucket
    * under every label, so each doc with ≥1 feature scores under ALL
    * labels; feature-less docs — NULL text — emit nothing, as in
    * classification). This is the evaluation tier's raw material:
    * one-vs-rest margins, ranking metrics (AUC), and calibration bins
    * all need the scores the argmax discards.
    */
  def nbScores(docs: DataFrame, model: DataFrame,
               buckets: Int = 1024): DataFrame = {
    val table = resolveNb(model, buckets).table
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        table.value.scores(text).iterator
          .map(s => (id, s.label, s.n_feats, s.score_fp))
      }
      .toDF("doc_id", "label", "n_feats", "score_fp")
  }

  /** One-vs-rest MARGINS from a [[nbScores]] table: per (doc, label),
    * `margin_fp = score_fp(label) − max over OTHER labels` — positive
    * iff the label would win the argmax (ties at the top → margin 0
    * for both). The margin is the classifier's native confidence
    * ordering for "is this document class c?" — a length-robust
    * discriminant (the document-length term in each class score
    * cancels in the difference), and exact long arithmetic end to end
    * (no softmax float). Windows run over the per-doc label set — a
    * BOUNDED enum partition (≤ |labels| rows per doc), never a
    * data-sized window. A dense model guarantees ≥2 labels per scored
    * doc; a degenerate single-label table has no "rest" and margins
    * NULL (the max-of-nothing), which downstream consumers must treat
    * as unusable rather than zero.
    */
  def nbMargins(scores: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id"))
    val top = scores.withColumn("_top", max(col("score_fp")).over(byDoc))
    top
      .withColumn("_n_top",
        sum(when(col("score_fp") === col("_top"), 1L).otherwise(0L))
          .over(byDoc))
      .withColumn("_second",
        max(when(col("score_fp") < col("_top"), col("score_fp")))
          .over(byDoc))
      .withColumn("_others_max",
        when(col("score_fp") < col("_top") || col("_n_top") > 1, col("_top"))
          .otherwise(col("_second")))
      .select(col("doc_id"), col("label"),
        (col("score_fp") - col("_others_max")).as("margin_fp"))
  }
}

/** One label's score of one document. */
private[graft] final case class NbLabelScore(label: String, n_feats: Long,
                              score_fp: Option[Long])

/** One document's NB argmax. */
private[graft] final case class NbPrediction(pred_label: String, n_feats: Long,
                              score_fp: Option[Long])

/** An NB model resolved for in-scan scoring ([[Classifier.resolveNb]]):
  * a handle on the broadcast [[NbTable]]. Serializable, so a streaming
  * pipeline can hold it for its lifetime.
  */
final class NbScorer private[ext] (private[ext] val table: Broadcast[NbTable])
    extends Serializable {

  /** `struct<pred_label: string, n_feats: bigint, score_fp: bigint>` of
    * a text column — the [[Classifier.nbClassify]] row, NULL for a
    * document without features — evaluated in the projection that
    * reads the text.
    */
  def classifyColumn(text: Column): Column = {
    val t = table
    udf((s: String) => t.value.classify(s)).apply(text)
  }
}

/** The broadcast form of an [[Classifier.nbModelFromCounts]] model: the
  * labels that carry a prior, in ascending UTF8String order (the order
  * Spark compares labels in), and per label a dense bucket → `lp_fp`
  * array. Scoring reproduces the join form exactly: a label scores a
  * document when at least one of the document's buckets has a model
  * row under it; `n_feats` sums the matched occurrences, and NULL
  * `lp_fp` values are skipped as Spark's `sum` skips them.
  */
private[graft] final class NbTable private (
    labels: Array[String], lp: Array[Array[Long]], has: Array[Array[Byte]],
    prior: Array[java.lang.Long], buckets: Int) extends Serializable {
  import NbTable.{Absent, NullLp}

  /** Per-label scores of one document, labels ascending; empty when it
    * has no features.
    */
  def scores(text: String): Array[NbLabelScore] = {
    val bs = Classifier.ngramBuckets("nb|", text, buckets).toArray
    if (bs.isEmpty) Array.empty
    else {
      java.util.Arrays.sort(bs)
      // run-length: distinct buckets with their occurrence counts
      val ub = new Array[Int](bs.length)
      val un = new Array[Long](bs.length)
      var k = -1
      var i = 0
      while (i < bs.length) {
        if (k < 0 || ub(k) != bs(i)) { k += 1; ub(k) = bs(i) }
        un(k) += 1
        i += 1
      }
      val out = Array.newBuilder[NbLabelScore]
      var l = 0
      while (l < labels.length) {
        var nFeats = 0L
        var sum = 0L
        var matched = false
        var summed = false
        var j = 0
        while (j <= k) {
          val h = has(l)(ub(j))
          if (h != Absent) {
            matched = true
            nFeats += un(j)
            if (h != NullLp) { sum += un(j) * lp(l)(ub(j)); summed = true }
          }
          j += 1
        }
        if (matched) out += NbLabelScore(labels(l), nFeats,
          if (summed && prior(l) != null) Some(sum + prior(l)) else None)
        l += 1
      }
      out.result()
    }
  }

  /** The argmax of [[scores]] in `min(struct(-score_fp, label))` order:
    * a NULL score orders first, then the highest score; labels are
    * ascending, so the first of a tie wins. NULL without features.
    */
  def classify(text: String): NbPrediction = {
    val ss = scores(text)
    if (ss.isEmpty) null
    else {
      var best = ss(0)
      ss.iterator.drop(1).foreach { s =>
        val wins = (s.score_fp, best.score_fp) match {
          case (None, b) => b.isDefined
          case (Some(_), None) => false
          case (Some(a), Some(b)) => a > b
        }
        if (wins) best = s
      }
      NbPrediction(best.label, best.n_feats, best.score_fp)
    }
  }
}

private[graft] object NbTable {
  private val Absent: Byte = 0
  private val Present: Byte = 1
  private val NullLp: Byte = 2

  /** Build from collected `(label, bucket, lp_fp)` rows. A label scores
    * only with its [[Classifier.DocCountBucket]] prior row (the join
    * form's inner join); rows with a NULL label or bucket, or a bucket
    * outside [0, buckets), can never match a feature and are skipped.
    * A repeated prior or (label, bucket) row is not an
    * [[Classifier.nbModelFromCounts]] model (the join form would count
    * it twice) and is refused.
    */
  def apply(rows: Array[Row], buckets: Int): NbTable = {
    val keyed = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    val priors = keyed.filter(_.getInt(1) == Classifier.DocCountBucket)
    priors.groupBy(_.getString(0)).foreach { case (l, rs) =>
      require(rs.length == 1, s"nbScores: not an NB model — label '$l' " +
        s"has ${rs.length} prior rows (nbModelFromCounts emits one)")
    }
    val sorted = priors.sortWith((a, b) =>
      UTF8String.fromString(a.getString(0))
        .compareTo(UTF8String.fromString(b.getString(0))) < 0)
    val labels = sorted.map(_.getString(0))
    val index = labels.zipWithIndex.toMap
    val lp = Array.fill(labels.length)(new Array[Long](buckets))
    val has = Array.fill(labels.length)(new Array[Byte](buckets))
    keyed.foreach { r =>
      val b = r.getInt(1)
      if (b >= 0 && b < buckets) index.get(r.getString(0)).foreach { l =>
        require(has(l)(b) == Absent, s"nbScores: not an NB model — " +
          s"(label '${labels(l)}', bucket $b) appears twice " +
          "(nbModelFromCounts emits one)")
        if (r.isNullAt(2)) has(l)(b) = NullLp
        else { has(l)(b) = Present; lp(l)(b) = r.getLong(2) }
      }
    }
    val prior = sorted.map(r =>
      if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2)))
    new NbTable(labels, lp, has, prior, buckets)
  }
}
