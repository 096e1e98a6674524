package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Similarity

/** The IVF/k-means surface: argmax assignment plan shape, the Lloyd loop,
  * deterministic empty-cell reseeding, and refined-centroid search.
  */
class SimilaritySpec extends AnyFunSuite {
  import SparkTestBase._
  import spark.implicits._

  private def embDf(rows: Seq[(Long, Seq[Float])]): DataFrame =
    rows.toDF("vec_id", "embedding")

  test("planeMatrix: +1 exactly where the last hex digit of md5(\"p_d\") is even") {
    // the definition the DuckDB oracle embeds, spelled out on hex strings
    val md = java.security.MessageDigest.getInstance("MD5")
    val byHex = Array.tabulate(16, 64) { (p, d) =>
      val hex = md.digest(s"${p}_$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if ("02468ace".contains(hex.last)) 1.0 else -1.0
    }
    assert(Similarity.planeMatrix(16, 64).map(_.toSeq).toSeq === byHex.map(_.toSeq).toSeq)
  }

  test("IVF assignment is a pure projection at small K: no window, no join, no K-expansion") {
    val emb = Tables.embeddings(spark, sfDir)
    val refined = Similarity.ivfRefineStep(emb, numCells = 16)
    val plan = refined.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the corpus-only path must carry ZERO window operators, and at
    // bounded K (round 18) the nearest cell is a greatest() over K
    // literal-centroid cosines — a PROJECTION: no join node may expand
    // the corpus K× and no arg-max exchange may ship it (the only
    // aggregation left in the refine step is the fixed-point mean).
    assert(!plan.contains("Window"),
      s"corpus cell assignment regressed to a window plan:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"small-K cell assignment regressed to a join plan:\n$plan")
  }

  test("IVF build and search attach every broadcast hint to a join") {
    // a hint on a frame that is only collected (the small-K literal
    // assignment path) never reaches a join and Spark warns through
    // HintErrorLogger; capture that logger around build + search
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("hint-probe", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warnings.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager
      .getLogger("org.apache.spark.sql.catalyst.analysis.HintErrorLogger")
      .asInstanceOf[Logger]
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    try {
      val emb = Tables.embeddings(spark, sfDir)
      val q = emb.filter(col("vec_id") < 5)
      val dir = tmpDir("graft-hint-probe-")
      try {
        graft.ext.VectorIndex.build(emb, dir.resolve("index").toString)
        graft.ext.VectorIndex.searchFlat(spark, dir.resolve("index").toString,
          q, k = 5).collect()
        graft.ext.VectorIndex.searchAdc(spark, dir.resolve("index").toString,
          q, k = 5).collect()
      } finally graft.plans.Pipeline.deleteRecursively(dir)
      Similarity.ivfTopK(emb, q, k = 5).collect()
      Similarity.ivfPqTopK(emb, q, k = 5).collect()
      Similarity.ivfKMeans(emb, numCells = 16, iters = 1).collect()
    } finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
    assert(warnings.isEmpty, s"stray hints: ${warnings.toArray.mkString("; ")}")
  }

  test("cell assignment over an array<int> centroid table takes the join path and matches the same centroids as doubles") {
    val emb = embDf(Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(0.9f, 0.2f))))
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val ints = Seq((0L, Seq(1, 0)), (1L, Seq(0, 1))).toDF("cell", "centroid")
    val doubles = ints.select(col("cell"),
      col("centroid").cast("array<double>").as("centroid"))
    def cells(centroids: DataFrame) =
      Similarity.assignCells(emb, "cid", "ce", centroids).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // the literal path cannot hold int elements; the join path widens
    // them to double, so both tables assign identically
    assert(cells(ints) === cells(doubles))
    assert(cells(ints) === Map(1L -> 0L, 2L -> 1L, 3L -> 0L))
  }

  test("cell assignment above the literal cap takes the join path and equals a brute-force argmax") {
    // LiteralAssignCap + 1 float centroids: the bounded collect sees one
    // row too many, so assignment runs as the partial-agg argmax join.
    // Duplicated centroids tie exactly; the tie goes to the lower cell.
    val rnd = new scala.util.Random(17)
    def vec(): Seq[Float] = Seq.fill(4)(rnd.nextInt(9) - 4 + 0.5f)
    val k = Similarity.LiteralAssignCap + 1
    val base = Seq.fill(k - 5)(vec())
    val cents = (base ++ base.take(5)).zipWithIndex
      .map { case (c, i) => ((i * 7 % k).toLong + 100L, c) }
    val vecs = (Seq.fill(200)(vec()) ++ base.take(10)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val (x, y) = (a.map(_.toDouble), b.map(_.toDouble))
      x.zip(y).map { case (p, q) => p * q }.sum /
        (math.sqrt(x.map(v => v * v).sum) * math.sqrt(y.map(v => v * v).sum))
    }
    val expected = vecs.map { case (id, v) =>
      id -> cents.map { case (cell, c) => (-cos(v, c), cell) }.min._2
    }.toMap
    val assigned = Similarity.assignCells(
        embDf(vecs).select(col("vec_id").as("cid"), col("embedding").as("ce")),
        "cid", "ce", cents.toDF("cell", "centroid"))
    val plan = assigned.queryExecution.executedPlan.toString
    assert(plan.contains("Join") || plan.contains("CartesianProduct"),
      s"above the cap the assignment must take the join path:\n$plan")
    assert(assigned.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap === expected)
  }

  test("one ivfKMeans iteration is exactly the oracle-checked Lloyd step") {
    val emb = Tables.embeddings(spark, sfDir)
    val one = Similarity.ivfKMeans(emb, numCells = 16, iters = 1)
      .orderBy("cell", "pos").collect()
    val step = Similarity.ivfRefineStep(emb, numCells = 16)
      .orderBy("cell", "pos").collect()
    assert(one.toSeq === step.toSeq)
  }

  test("k-means converges and early-stops under tol without changing the result") {
    // two tight clusters, one seed lands in each (ids 0 and 1): Lloyd
    // reaches its fixed point after two iterations, so a tol run and a
    // long fixed run must return the same table bit for bit.
    val e1 = Seq(1f, 0f, 0f, 0f); val e2 = Seq(0f, 1f, 0f, 0f)
    val rows = (0L until 10L).map(i => (i * 2, e1)) ++
      (0L until 10L).map(i => (i * 2 + 1, e2))
    val emb = embDf(rows)
    val fixed = Similarity.ivfKMeans(emb, numCells = 2, iters = 2)
      .orderBy("cell", "pos").collect()
    val early = Similarity.ivfKMeans(emb, numCells = 2, iters = 10, tol = 1e-12)
      .orderBy("cell", "pos").collect()
    assert(early.toSeq === fixed.toSeq)
    // and the means recovered the true cluster centers
    val byCell = fixed.groupBy(_.getLong(0)).view.mapValues(
      _.sortBy(_.getInt(1)).map(_.getDouble(3)).toSeq).toMap
    assert(byCell(0L) === Seq(1.0, 0.0, 0.0, 0.0))
    assert(byCell(1L) === Seq(0.0, 1.0, 0.0, 0.0))
  }

  test("empty cells are reseeded deterministically with the farthest corpus points") {
    // seeds 0,1,2 are IDENTICAL vectors in the large cluster: the argmax
    // tie-break sends every vector to cell 0, cells 1 and 2 go empty and
    // must be reseeded with the farthest points — the small cluster
    // (which the skewed mean keeps far away), lowest vec_ids first.
    val e1 = Seq(1f, 0f, 0f, 0f); val e2 = Seq(0f, 1f, 0f, 0f)
    val rows = (0L until 15L).map((_, e1)) ++ (15L until 20L).map((_, e2))
    val emb = embDf(rows)
    val out = Similarity.ivfKMeans(emb, numCells = 3, iters = 2)
      .orderBy("cell", "pos").collect()
    val byCell = out.groupBy(_.getLong(0)).view.mapValues { rs =>
      (rs.head.getLong(2), rs.sortBy(_.getInt(1)).map(_.getDouble(3)).toSeq)
    }.toMap
    // iteration 2 sees cell 0 = skewed mean, cells 1,2 = reseeded e2
    // vectors: the e1 cluster stays on cell 0 (mean snaps back to e1),
    // the e2 cluster ties between the two reseeds and takes cell 1.
    assert(byCell.keySet === Set(0L, 1L))
    assert(byCell(0L) === ((15L, Seq(1.0, 0.0, 0.0, 0.0))))
    assert(byCell(1L) === ((5L, Seq(0.0, 1.0, 0.0, 0.0))))
  }

  test("refined centroids beat sampled seeds on clustered data (recall@k)") {
    // 8 well-separated clusters in 16 dims, corpus ordered by cluster —
    // so the first-8 sampled seeds all land in cluster 0 (the worst
    // case sampling can hit) while k-means walks them onto the true
    // centers. Deterministic noise from a fixed-seed PRNG.
    val rnd = new scala.util.Random(42)
    val dim = 16; val clusters = 8; val per = 25
    val rows = for {
      c <- 0 until clusters
      i <- 0 until per
    } yield {
      val v = Array.tabulate(dim)(d =>
        (if (d == 2 * c) 1f else 0f) + (rnd.nextFloat() - 0.5f) * 0.1f)
      ((c * per + i).toLong, v.toSeq)
    }
    val emb = embDf(rows)
    emb.cache()
    val q = emb.filter(col("vec_id") % 25 === 7) // one probe per cluster
    val truth = Similarity.bruteForceTopK(emb, q, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(topk: DataFrame): Double = {
      val got = topk.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val sampled = recall(
      Similarity.ivfTopK(emb, q, k = 5, numCells = clusters, nprobe = 2))
    val refined = recall(Similarity.ivfTopKWith(emb, q, k = 5,
      Similarity.centroidsFromRefinement(
        Similarity.ivfKMeans(emb, numCells = clusters, iters = 4)),
      nprobe = 2))
    info(f"recall@5 sampled=$sampled%.2f refined=$refined%.2f")
    assert(refined > sampled,
      s"k-means centroids should beat all-in-one-cluster seeds: $refined <= $sampled")
    assert(refined >= 0.9, s"refined centroids should make IVF near-exact here: $refined")
    emb.unpersist()
  }

  test("centroidsFromRefinement round-trips the refinement table") {
    val emb = Tables.embeddings(spark, sfDir)
    val refined = Similarity.ivfRefineStep(emb, numCells = 4)
    val cents = Similarity.centroidsFromRefinement(refined)
      .orderBy("cell").collect()
    val expect = refined.orderBy("cell", "pos").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getDouble(3)).toSeq).toMap
    assert(cents.map(_.getLong(0)).toSet === expect.keySet)
    cents.foreach { r =>
      assert(r.getSeq[Double](1) === expect(r.getLong(0)))
    }
  }

  test("PQ encodes every vector to m in-range codes; ADC top-k recovers true neighbors") {
    val emb = Tables.embeddings(spark, sfDir)
    val cw = Similarity.pqCodebooks(emb, m = 4, numCodes = 16)
    // a full codebook: 4 subspaces x 16 codes, each codeword 16-dim
    assert(cw.count() === 64)
    assert(cw.select(size(col("codeword"))).distinct().head().getInt(0) === 16)
    val codes = Similarity.pqEncode(emb, cw, m = 4)
    // exactly m rows per vector, codes within [0, numCodes)
    assert(codes.count() === emb.count() * 4)
    assert(codes.filter(col("code") < 0 || col("code") >= 16).count() === 0L)
    // the compression claim: the PQ index stores m small ints per vector
    // vs 64 floats — the distinct-(sub, code) space is at most 64 cells.
    assert(codes.select("sub", "code").distinct().count() <= 64L)
    val q = emb.filter(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(emb, q, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = Similarity.pqTopK(emb, q, k = 10)
    val got = pq.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = got.intersect(bf).size.toDouble / bf.size
    info(f"PQ ADC recall@10 vs brute force: $recall%.2f (random vectors — low is expected)")
    assert(recall > 0.0, "ADC must recover at least some true neighbors")
    // deterministic across runs (sampled codebooks, exact argmin, pivot sum)
    assert(got === Similarity.pqTopK(emb, q, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet)
  }

  test("IVF-PQ: candidates come from probed cells only; ADC ranks within them") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") < 5)
    val out = Similarity.ivfPqTopK(emb, q, k = 5)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian:\n$plan")
    val got = out.collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(got.nonEmpty)
    assert(got.forall { case (qid, cid) => qid < 5 && cid != qid })
    // the IVF restriction is real: every returned neighbor also appears
    // in plain IVF's candidate set at the same (numCells, nprobe) when
    // ranked exactly — i.e. IVF-PQ returns a subset of IVF's reachable
    // candidates, never something outside the probed cells.
    val reachable = Similarity.ivfTopK(emb, q, k = 2000)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(got.forall(reachable.contains))
    // deterministic across runs
    assert(got.toSeq === Similarity.ivfPqTopK(emb, q, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq)
  }

  test("PQ composes with k-means: per-subspace refined codebooks cut quantization error") {
    val emb = Tables.embeddings(spark, sfDir)
    val m = 4
    val sampled = Similarity.pqCodebooks(emb, m = m, numCodes = 16)
    // refine each subspace codebook with the fixed-point k-means loop:
    // the subvector table IS an embedding table (vec_id, embedding).
    val refined = (0 until m).map { mm =>
      val subEmb = emb.select(col("vec_id"),
        slice(col("embedding"), mm * 16 + 1, 16).as("embedding"))
      Similarity.centroidsFromRefinement(
          Similarity.ivfKMeans(subEmb, numCells = 16, iters = 2))
        .select(lit(mm).as("sub"), col("cell").as("code"),
          col("centroid").as("codeword"))
    }.reduce(_.unionByName(_))
    def meanD2(cb: DataFrame): Double = {
      val codes = Similarity.pqEncode(emb, cb, m = m)
      // re-score each (vector, sub) against its ASSIGNED codeword: the
      // mean quantization error the encoder achieved with this codebook.
      val sv = emb.select(col("vec_id"),
        explode(array((0 until m).map(mm => struct(lit(mm).as("sub"),
          slice(col("embedding"), mm * 16 + 1, 16).as("sv"))): _*)).as("s"))
        .select(col("vec_id"), col("s.sub").as("sub"), col("s.sv").as("sv"))
      sv.join(codes, Seq("vec_id", "sub")).join(cb, Seq("sub", "code"))
        .select(((graft.functions.KeyColumns.dot_native(col("sv"), col("sv"))
          - lit(2.0) * graft.functions.KeyColumns.dot_native(col("sv"), col("codeword")))
          + graft.functions.KeyColumns.dot_native(col("codeword"), col("codeword"))).as("d2"))
        .agg(avg(col("d2"))).head().getDouble(0)
    }
    val (eS, eR) = (meanD2(sampled), meanD2(refined))
    info(f"mean subvector quantization error: sampled $eS%.4f -> refined $eR%.4f")
    assert(eR < eS, "k-means-refined codebooks must reduce quantization error")
  }

  test("trained codebooks on the shipped path: recall vs brute force >= sampled PQ") {
    // clustered corpus ordered by cluster — the first-16 sampled
    // codebook seeds all come from cluster 0 (the worst case sampling
    // can hit), so training must recover recall. (On ISOTROPIC random
    // vectors, k-means means shrink codeword norms and ADC inner-product
    // ranking can lose discrimination even as quantization error falls —
    // the structured-data case here is what PQ training is for.)
    val rnd = new scala.util.Random(7)
    val dim = 16; val clusters = 8; val per = 25
    val rows = for {
      c <- 0 until clusters
      i <- 0 until per
    } yield {
      val v = Array.tabulate(dim)(d =>
        (if (d == 2 * c) 1f else 0f) + (rnd.nextFloat() - 0.5f) * 0.1f)
      ((c * per + i).toLong, v.toSeq)
    }
    val emb = embDf(rows)
    emb.cache()
    val queries = emb.filter(col("vec_id") % 25 === 7)
    def hits(df: DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val truth = hits(Similarity.bruteForceTopK(emb, queries, k = 10))
    def recall(df: DataFrame): Double = {
      val h = hits(df)
      truth.map { case (q, t) =>
        h.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }.sum / truth.size
    }
    val rSampled = recall(
      Similarity.pqTopK(emb, queries, k = 10, m = 4, numCodes = 16, dim = dim))
    val rTrained = recall(Similarity.pqTopKWith(emb, queries, k = 10,
      Similarity.pqCodebooksTrained(emb, m = 4, numCodes = 16, dim = dim,
        iters = 2), m = 4, dim = dim))
    info(f"recall@10: sampled $rSampled%.3f -> trained $rTrained%.3f")
    assert(rTrained >= rSampled,
      s"trained codebooks should not lose recall: $rTrained < $rSampled")
    assert(rTrained >= 0.6,
      s"trained codebooks should make PQ usable on clustered data: $rTrained")
    emb.unpersist()
  }
}
