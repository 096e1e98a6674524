package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Similarity, VectorIndex}

class VectorIndexSpec extends AnyFunSuite {
  import SparkTestBase._

  private def freshDir(): String =
    tmpDir("graft_vidx").toString + "/index"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("persisted flat search == in-memory IVF search with the same frozen centroids") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 5)
    val dir = freshDir()
    VectorIndex.build(emb, dir)
    val centroids = emb.orderBy(col("vec_id")).limit(16)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    assert(rows(VectorIndex.searchFlat(spark, dir, queries, k = 5)) ===
      rows(Similarity.ivfTopKWith(emb, queries, k = 5, centroids)))
  }

  test("persisted ADC search == in-memory IVF-PQ on the same corpus") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 5)
    val dir = freshDir()
    VectorIndex.build(emb, dir)
    assert(rows(VectorIndex.searchAdc(spark, dir, queries, k = 5)) ===
      rows(Similarity.ivfPqTopK(emb, queries, k = 5)))
  }

  test("filtered search: only allowed ids, pre-filter semantics, identity filter == searchFlat") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 5)
    val dir = freshDir()
    VectorIndex.build(emb, dir)
    val allowed = emb.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
    val got = VectorIndex.searchFlatFiltered(spark, dir, queries, allowed,
      k = 5, nprobe = 4)
    val gotRows = rows(got)
    // every returned neighbor satisfies the predicate
    val allowedSet = allowed.collect().map(_.getLong(0)).toSet
    assert(gotRows.nonEmpty && gotRows.forall(t => allowedSet(t._3)))
    // PRE-filter semantics: equals in-memory IVF search over the allowed
    // subset with the SAME frozen centroids (trained on the full corpus)
    // — not a post-filtered unfiltered top-k, which could return < k
    // allowed rows per query
    val centroids = emb.orderBy(col("vec_id")).limit(16)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    val filteredCorpus = emb.join(allowed.withColumnRenamed("vec_id", "aid"),
      col("vec_id") === col("aid"), "left_semi")
    assert(gotRows === rows(
      Similarity.ivfTopKWith(filteredCorpus, queries, k = 5, centroids)))
    // an all-pass filter reduces to the unfiltered read path
    assert(rows(VectorIndex.searchFlatFiltered(spark, dir, queries,
        emb.select(col("vec_id")), k = 5)) ===
      rows(VectorIndex.searchFlat(spark, dir, queries, k = 5)))
    // the COMPRESSED filtered path: only allowed ids; with a shortlist
    // covering every candidate the exact re-rank makes it equal the
    // filtered flat search; an all-pass filter reduces to searchRefined
    val refF = rows(VectorIndex.searchRefinedFiltered(spark, dir, queries,
      allowed, k = 5, shortlist = 10000, nprobe = 4))
    assert(refF.nonEmpty && refF.forall(t => allowedSet(t._3)))
    assert(refF === gotRows,
      "all-candidate shortlist re-rank must equal filtered flat search")
    assert(rows(VectorIndex.searchRefinedFiltered(spark, dir, queries,
        emb.select(col("vec_id")), k = 5)) ===
      rows(VectorIndex.searchRefined(spark, dir, queries, k = 5)))
  }

  test("append against frozen quantizers: searches see the delta, quantizers untouched") {
    val emb = Tables.embeddings(spark, sfDir)
    val initial = emb.filter(col("vec_id") % 4 =!= 3)
    val delta = emb.filter(col("vec_id") % 4 === 3)
    val queries = emb.filter(col("vec_id") < 5)
    val dir = freshDir()
    VectorIndex.build(initial, dir)
    val centBefore = spark.read.parquet(s"$dir/centroids")
      .select(col("cell")).collect().map(_.getLong(0)).sorted.toSeq
    VectorIndex.append(spark, dir, delta)
    // quantizers frozen: the centroid set is still the INITIAL corpus's
    val centAfter = spark.read.parquet(s"$dir/centroids")
      .select(col("cell")).collect().map(_.getLong(0)).sorted.toSeq
    assert(centAfter === centBefore)
    // the cells table now holds the full corpus, assigned against the
    // frozen centroids — search equals in-memory search of the full
    // corpus with those centroids
    val frozen = initial.orderBy(col("vec_id")).limit(16)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    assert(rows(VectorIndex.searchFlat(spark, dir, queries, k = 5)) ===
      rows(Similarity.ivfTopKWith(emb, queries, k = 5, frozen)))
    // a delta member is actually findable: some result cid is from delta
    val cids = VectorIndex.searchFlat(spark, dir, queries, k = 5)
      .select(col("cid")).collect().map(_.getLong(0)).toSet
    val deltaIds = delta.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(cids.exists(deltaIds.contains),
      "appended vectors never surface in search results")
  }

  test("retain removes ghosts, keeps frozen quantizers, rewrites both state tables") {
    val emb = Tables.embeddings(spark, sfDir)
    val keep = emb.filter(col("vec_id") % 4 =!= 3)
    val queries = emb.filter(col("vec_id") < 5)
    val dir = freshDir()
    VectorIndex.build(emb, dir)
    VectorIndex.retain(spark, dir, keep)
    val removed = emb.filter(col("vec_id") % 4 === 3)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    // no removed id is searchable from either path
    val gotF = VectorIndex.searchFlat(spark, dir, queries, k = 5)
    val gotA = VectorIndex.searchAdc(spark, dir, queries, k = 5)
    (gotF.collect() ++ gotA.collect()).foreach(r =>
      assert(!removed.contains(r.getLong(2)),
        s"removed vector ${r.getLong(2)} still searchable — ghost state"))
    // quantizers untouched: centroid cells still the FULL corpus's seeds
    val cents = spark.read.parquet(s"$dir/centroids")
      .select(col("cell")).collect().map(_.getLong(0)).sorted.toSeq
    assert(cents === emb.orderBy(col("vec_id")).limit(16)
      .collect().map(_.getLong(0)).sorted.toSeq)
    // search equals in-memory IVF over the survivors with those centroids
    val frozen = emb.orderBy(col("vec_id")).limit(16)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    assert(rows(gotF) === rows(Similarity.ivfTopKWith(keep, queries, k = 5, frozen)))
    // both state tables physically rewritten
    assert(spark.read.parquet(s"$dir/cells").count() === keep.count())
    assert(spark.read.parquet(s"$dir/codes").count() === keep.count() * 4)
  }

  test("layout self-validation fails loudly on geometry mismatch and foreign tables") {
    val emb = Tables.embeddings(spark, sfDir)
    val dir = freshDir()
    VectorIndex.build(emb, dir, numCells = 16, m = 4, numCodes = 16, dim = 64)
    // overwrite the codebooks with a DIFFERENT geometry (m = 2): every
    // consumer that touches codebooks must refuse
    val dir2 = freshDir()
    VectorIndex.build(emb, dir2, numCells = 16, m = 2, numCodes = 16, dim = 64)
    val fs = java.nio.file.Paths.get(dir, "codebooks")
    graft.plans.Pipeline.deleteRecursively(fs)
    java.nio.file.Files.move(java.nio.file.Paths.get(dir2, "codebooks"), fs)
    val queries = emb.filter(col("vec_id") < 2)
    val e1 = intercept[IllegalArgumentException] {
      VectorIndex.searchAdc(spark, dir, queries, k = 3)
    }
    assert(e1.getMessage.contains("layout mismatch"))
    val e2 = intercept[IllegalArgumentException] {
      VectorIndex.append(spark, dir, emb.limit(3))
    }
    assert(e2.getMessage.contains("layout mismatch"))
    // a table with no layout columns at all is rejected as foreign
    emb.limit(1).write.mode("overwrite").parquet(s"$dir/centroids")
    val e3 = intercept[IllegalArgumentException] {
      VectorIndex.searchFlat(spark, dir, queries, k = 3)
    }
    assert(e3.getMessage.contains("lacks layout columns"))
  }

  test("append is insert-if-absent: retrying the same delta changes nothing") {
    val emb = Tables.embeddings(spark, sfDir)
    val initial = emb.filter(col("vec_id") % 4 =!= 3)
    val delta = emb.filter(col("vec_id") % 4 === 3)
    val queries = emb.filter(col("vec_id") < 5)
    val dir = freshDir()
    VectorIndex.build(initial, dir)
    VectorIndex.append(spark, dir, delta)
    val cells1 = spark.read.parquet(s"$dir/cells").count()
    val codes1 = spark.read.parquet(s"$dir/codes").count()
    val res1 = rows(VectorIndex.searchFlat(spark, dir, queries, k = 5))
    // the retry a failed/timed-out job issues: must be a no-op, not a
    // duplication that hands one cid two top-k slots
    VectorIndex.append(spark, dir, delta)
    assert(spark.read.parquet(s"$dir/cells").count() === cells1)
    assert(spark.read.parquet(s"$dir/codes").count() === codes1)
    assert(rows(VectorIndex.searchFlat(spark, dir, queries, k = 5)) === res1)
    assert(rows(VectorIndex.searchAdc(spark, dir, queries, k = 5)) ===
      rows(VectorIndex.searchAdc(spark, dir, queries, k = 5)))
    // a mixed batch appends only its genuinely new vectors
    VectorIndex.append(spark, dir, emb) // all already present
    assert(spark.read.parquet(s"$dir/cells").count() === cells1)
  }

  test("buildWith persists k-means-refined centroids: the trained-quantizer index") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 5)
    val refined = Similarity.centroidsFromRefinement(
      Similarity.ivfKMeans(emb, numCells = 16, iters = 2))
    refined.cache()
    val dir = freshDir()
    VectorIndex.buildWith(emb, dir, refined, numCells = 16)
    // the persisted centroid table IS the refined one (values round-trip)
    val persisted = spark.read.parquet(s"$dir/centroids")
      .select(col("cell"), col("centroid")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val expected = refined.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(persisted === expected)
    // and searching the persisted index == in-memory search with the
    // refined centroids — the production trained-IVF read path
    assert(rows(VectorIndex.searchFlat(spark, dir, queries, k = 5)) ===
      rows(Similarity.ivfTopKWith(emb, queries, k = 5, refined)))
    refined.unpersist()
  }

  test("searches dynamically prune the bucketed state to probed cells") {
    val emb = Tables.embeddings(spark, sfDir)
    val dir = freshDir()
    VectorIndex.build(emb, dir)
    val q = emb.filter(col("vec_id") < 5)
    // the cells/codes scans must carry a dynamic-pruning partition
    // filter fed by the broadcast probe side — the file-level skip that
    // makes nprobe/numCells the actual IO fraction, not just the
    // logical candidate fraction.
    val flatPlan = VectorIndex.searchFlat(spark, dir, q, 5)
      .queryExecution.executedPlan.toString
    assert(flatPlan.contains("dynamicpruning"),
      "flat search lost dynamic partition pruning on the cells scan")
    val adcPlan = VectorIndex.searchAdc(spark, dir, q, 5)
      .queryExecution.executedPlan.toString
    val pruned = "dynamicpruning".r.findAllIn(adcPlan).size
    assert(pruned >= 2,
      s"ADC search should prune BOTH the cells and codes scans, found $pruned")
    assert(!flatPlan.contains("SortMergeJoin") && !adcPlan.contains("SortMergeJoin"),
      "probe-side joins must broadcast, never sort-merge the state tables")
  }

  test("refined search == flat search when the shortlist covers every candidate") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 5)
    val dir = freshDir()
    VectorIndex.build(emb, dir)
    // shortlist >= corpus size: the ADC stage cannot cut anyone the
    // exact re-rank would have kept, so the two-stage path must equal
    // the flat (exact within probed cells) path bit-for-bit
    val n = emb.count().toInt
    assert(rows(VectorIndex.searchRefined(spark, dir, queries, k = 5, shortlist = n)) ===
      rows(VectorIndex.searchFlat(spark, dir, queries, k = 5)))
  }

  test("refined search re-ranks ONLY the ADC shortlist and stays DPP-pruned") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 5)
    val dir = freshDir()
    VectorIndex.build(emb, dir)
    val refined = VectorIndex.searchRefined(spark, dir, queries, k = 5, shortlist = 8)
    // behavioral proof the exact stage saw only shortlist rows: every
    // refined result id must come from the ADC top-8 of its query
    val short = VectorIndex.searchAdc(spark, dir, queries, k = 8)
      .select(col("qid"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    refined.collect().foreach { r =>
      assert(short.contains((r.getLong(0), r.getLong(2))),
        s"refined returned (${r.getLong(0)}, ${r.getLong(2)}) outside the ADC shortlist " +
          "— the re-rank read raw vectors beyond the shortlist")
    }
    // physical proof: the codes scan AND both cells touches keep
    // dynamic partition pruning, and no state table is sort-merged
    val plan = refined.queryExecution.executedPlan.toString
    val pruned = "dynamicpruning".r.findAllIn(plan).size
    assert(pruned >= 3,
      s"refined search should prune codes + candidate cells + re-rank cells, found $pruned")
    assert(!plan.contains("SortMergeJoin"),
      "probe/shortlist joins must broadcast, never sort-merge the state tables")
    // shortlist >= k is a hard precondition, not a silent truncation
    intercept[IllegalArgumentException] {
      VectorIndex.searchRefined(spark, dir, queries, k = 5, shortlist = 3)
    }
  }

  test("append retry after a crash between the codes and cells writes restores m-rows-per-vector") {
    val emb = Tables.embeddings(spark, sfDir)
    val initial = emb.filter(col("vec_id") % 4 =!= 3)
    val delta = emb.filter(col("vec_id") % 4 === 3)
    val queries = emb.filter(col("vec_id") < 5)
    val dir = freshDir()
    VectorIndex.build(initial, dir)
    // simulate the crash window: a full append, then the delta's CELLS
    // rows removed again — leaving exactly the on-disk state a crash
    // between the codes write (committed) and the cells write leaves
    VectorIndex.append(spark, dir, delta)
    graft.operators.ScaleOps.retainRows(spark, s"$dir/cells",
      initial.select(col("vec_id")), Seq("vec_id"))
    val codesAfterCrash = spark.read.parquet(s"$dir/codes").count()
    assert(codesAfterCrash === emb.count() * 4, "crash simulation should keep delta codes")
    // the retry a production job issues: must complete the cells side
    // WITHOUT doubling the already-committed codes rows
    VectorIndex.append(spark, dir, delta)
    val nCells = spark.read.parquet(s"$dir/cells").count()
    val nCodes = spark.read.parquet(s"$dir/codes").count()
    assert(nCells === emb.count())
    assert(nCodes === nCells * 4,
      s"m-rows-per-vector broken after retry: $nCodes codes for $nCells cells")
    // and the recovered index searches exactly like a clean append
    val clean = freshDir()
    VectorIndex.build(initial, clean)
    VectorIndex.append(spark, clean, delta)
    assert(rows(VectorIndex.searchAdc(spark, dir, queries, k = 5)) ===
      rows(VectorIndex.searchAdc(spark, clean, queries, k = 5)))
  }

  test("compaction shrinks both state tables' files, changes no answer on either search path") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 5)
    val dir = freshDir()
    VectorIndex.build(emb.filter(col("vec_id") % 4 < 2), dir)
    VectorIndex.append(spark, dir, emb.filter(col("vec_id") % 4 === 2))
    VectorIndex.append(spark, dir, emb.filter(col("vec_id") % 4 === 3))
    def nFiles(sub: String): Long =
      spark.read.parquet(s"$dir/$sub").select(input_file_name())
        .distinct().count()
    val flatBefore = rows(VectorIndex.searchFlat(spark, dir, queries, k = 5))
    val adcBefore = rows(VectorIndex.searchAdc(spark, dir, queries, k = 5))
    val (cellsBefore, codesBefore) = (nFiles("cells"), nFiles("codes"))
    VectorIndex.compact(spark, dir)
    assert(nFiles("cells") < cellsBefore, "cells files must shrink")
    assert(nFiles("codes") < codesBefore, "codes files must shrink")
    // content and layout untouched: both search paths (the ADC one
    // re-validates layout stamps on read) answer byte-identically
    assert(rows(VectorIndex.searchFlat(spark, dir, queries, k = 5)) === flatBefore)
    assert(rows(VectorIndex.searchAdc(spark, dir, queries, k = 5)) === adcBefore)
  }

  test("append validates the delta's dimension against the frozen index") {
    val emb = Tables.embeddings(spark, sfDir)
    val dir = freshDir()
    VectorIndex.build(emb, dir)
    val short = emb.select(col("vec_id"),
      slice(col("embedding"), 1, 32).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      VectorIndex.append(spark, dir, short)
    }
    assert(e.getMessage.contains("embedding length"))
  }

  test("recenter after a drifted append == fresh build on the union; staging cleaned up") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 5)
    val dir = freshDir()
    VectorIndex.build(emb.filter(col("vec_id") % 4 =!= 3), dir)
    VectorIndex.append(spark, dir, emb.filter(col("vec_id") % 4 === 3))
    VectorIndex.recenter(spark, dir)
    val fresh = freshDir()
    VectorIndex.build(emb, fresh)
    // both search paths agree with the fresh build — centroids AND
    // codebooks were retrained over the indexed set
    assert(rows(VectorIndex.searchFlat(spark, dir, queries, k = 5)) ===
      rows(VectorIndex.searchFlat(spark, fresh, queries, k = 5)))
    assert(rows(VectorIndex.searchAdc(spark, dir, queries, k = 5)) ===
      rows(VectorIndex.searchAdc(spark, fresh, queries, k = 5)))
    assert(!new java.io.File(dir + ".recentering").exists &&
      !new java.io.File(dir + ".previous").exists,
      "recenter must remove its staging and swap directories")
    // idempotent in content: recentering an already-centered index
    // changes no answer
    val before = rows(VectorIndex.searchFlat(spark, dir, queries, k = 5))
    VectorIndex.recenter(spark, dir)
    assert(rows(VectorIndex.searchFlat(spark, dir, queries, k = 5)) === before)
  }

  test("recenter crash windows: marked staging resumes the swap; unmarked staging is superseded") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 5)
    val dir = freshDir()
    VectorIndex.build(emb.filter(col("vec_id") % 4 =!= 3), dir)
    VectorIndex.append(spark, dir, emb.filter(col("vec_id") % 4 === 3))
    val fresh = freshDir()
    VectorIndex.build(emb, fresh)
    val expect = rows(VectorIndex.searchFlat(spark, fresh, queries, k = 5))
    // crash AFTER the staged build completed and was marked, BEFORE the
    // swap: simulate by building the staging by hand (a fresh full
    // build is bit-identical to what recenter stages) and marking it
    val stagedDir = dir + ".recentering"
    VectorIndex.build(
      spark.read.parquet(s"$dir/cells").select(col("vec_id"), col("embedding")),
      stagedDir)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(stagedDir, "_complete"), "recentered".getBytes)
    VectorIndex.recenter(spark, dir) // must FINISH the swap, not rebuild
    assert(rows(VectorIndex.searchFlat(spark, dir, queries, k = 5)) === expect)
    assert(!new java.io.File(stagedDir).exists)
    // crash DURING the staged build (no _complete marker): the stray
    // partial staging is deleted and the recenter runs fresh
    val dir2 = freshDir()
    VectorIndex.build(emb.filter(col("vec_id") % 4 =!= 3), dir2)
    VectorIndex.append(spark, dir2, emb.filter(col("vec_id") % 4 === 3))
    val staged2 = new java.io.File(dir2 + ".recentering")
    java.nio.file.Files.createDirectories(staged2.toPath)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(staged2.toString, "junk"), "partial".getBytes)
    VectorIndex.recenter(spark, dir2)
    assert(rows(VectorIndex.searchFlat(spark, dir2, queries, k = 5)) === expect)
    assert(!staged2.exists)
  }
}
